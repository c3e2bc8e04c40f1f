"""Physical-plan assertions: the plans we'd want at 100 TB, not just
plans that pass.  Checks predicate pushdown, column pruning, broadcast
join selection, and that no per-row Python UDF appears anywhere."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def plan_of(df, execute: bool = False) -> str:
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "4000")
    if execute:
        df.collect()  # finalize THIS df's AQE plan (count() builds a new one)
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pricing_summary_pushdown_and_pruning(spark):
    df = entry_mod.q_pricing_summary(spark, SF)
    plan = plan_of(df)
    # filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # scan reads only needed columns, not the whole 11-column table
    read = plan.split("ReadSchema")[1][:400]
    for col in ("l_returnflag", "l_linestatus", "l_quantity",
                "l_extendedprice", "l_discount", "l_shipdate"):
        assert col in read
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_tax"):
        assert col not in read


def test_top_customers_broadcast_join(spark):
    plan = plan_of(entry_mod.q_top_customers(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_anti_join_is_broadcast(spark):
    plan = plan_of(entry_mod.q_customers_no_orders(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_extraction_scan_prunes_unused_columns(spark):
    """The extract stage must not drag documents.source/n_chars through
    the scan: mapInPandas input is pruned to (doc_id, html-expr cols)."""
    df = entry_mod.q_flagship_extract(spark, SF)
    plan = plan_of(df)
    read = plan.split("ReadSchema")[1][:300]
    assert "doc_id" in read and "text" in read
    assert "source" not in read and "n_chars" not in read
    # vectorized Arrow stage present; no row-at-a-time Python UDF
    assert "MapInArrow" in plan or "MapInPandas" in plan
    assert "BatchEvalPython" not in plan    # per-row Python = forbidden


def test_pipeline_has_no_per_row_python(spark, pages_parquet):
    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.plans.pipeline import JobConfig, prepare_pages, probe_skew, with_salt

    pages = prepare_pages(spark.read.parquet(pages_parquet), 16)
    cfg = JobConfig(hot_count_threshold=1)  # every sampled host is hot
    hot = [host for host, _ in probe_skew(pages, cfg)[0]]
    assert hot
    salted = with_salt(pages, hot, cfg)
    ext = extract_pages(salted.repartition(8, "bucket", "salt"),
                        passthrough=("url", "bucket"))
    plan = plan_of(ext)
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" in plan
    # the hot-host set is a literal: no dim relation is joined (or
    # broadcast again in every chunk) under the kernel
    assert "Join" not in plan and "Broadcast" not in plan


def test_keep_latest_shuffles_skinny_projection(spark, pages_parquet):
    """The dedup winner set must aggregate only (url, warc_ts) — html
    must not appear below the aggregate."""
    from ocr_spark.plans.pipeline import keep_latest

    import re

    df = keep_latest(spark.read.parquet(pages_parquet))
    opt = optimized_of(df)
    m = re.search(r"Aggregate \[url#\d+\].*?Project \[url#\d+, warc_ts#\d+\]",
                  opt, re.DOTALL)
    assert m, f"skinny (url, warc_ts) projection not found under Aggregate:\n{opt}"


def test_exact_dedup_keys_only_single_exchange(spark):
    """keys_only exact dedup must be ONE shuffle of the skinny
    (digest, key) projection — no join-back exchange of the text
    column (the 100-TB posture for the driver's dedup_exact query)."""
    from ocr_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(exact_dedup(docs, "text", "doc_id", keys_only=True))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_keep_latest_null_ts_contract(spark):
    """A url whose captures ALL have NULL warc_ts keeps exactly one row
    (round-2 ADVICE: the plain equi semi-join dropped such urls, while
    the in-kernel dedup path kept one — the two paths now share the
    NULL contract).  NULL never beats a dated capture; exact ties
    collapse to the lexicographically smallest html."""
    import datetime

    from ocr_spark.plans.pipeline import keep_latest

    rows = [
        ("u1", None, b"b", "en"),
        ("u1", None, b"a", "en"),
        ("u2", datetime.datetime(2024, 1, 1), b"old", "en"),
        ("u2", None, b"nullts", "en"),
        ("u3", datetime.datetime(2024, 1, 2), b"x", "en"),
        ("u3", datetime.datetime(2024, 1, 2), b"w", "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, lang string"
    )
    out = {r.url: (r.warc_ts, bytes(r.html)) for r in keep_latest(df).collect()}
    assert len(out) == 3
    assert out["u1"] == (None, b"a")        # all-NULL url survives
    assert out["u2"][1] == b"old"           # NULL never beats a dated one
    assert out["u3"][1] == b"w"             # tie -> smallest html bytes


def test_dedup_queries_avoid_cartesian(spark):
    """LSH candidate generation must be an equi-join, never a cartesian
    product."""
    for name in ("minhash_lsh_pairs", "simhash_near_dup"):
        df = entry_mod.queries()[name](spark, SF)
        plan = plan_of(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_near_dup_clusters_has_no_hot_key_window(spark):
    """cluster_size must be a groupBy count + join (map-side partial
    agg absorbs a mega-cluster's hot key), never a Window partitioned
    by cluster_id (which funnels the whole cluster through one task)."""
    from ocr_spark.operators.dedup import near_dup_clusters

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    df = near_dup_clusters(docs, "doc_id", "text", n_hashes=16, bands=8)
    plan = plan_of(df)
    assert "Window" not in plan, plan


def test_token_budget_mix_broadcasts_offsets_no_python(spark):
    """The two-pass prefix sum: per-bucket offsets come back via a
    broadcast join (the offsets frame is strata x n_buckets rows), the
    full-data exchange is the single (stratum, bucket) window shuffle,
    and nothing drops to per-row Python."""
    df = entry_mod.queries()["token_budget_mix"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_curate_corpus_plan_shape(spark):
    """The composed curation pipeline must keep every per-stage plan
    property when chained: Arrow extract only (no per-row Python), no
    cartesian products anywhere, the decontamination bench side
    broadcast, and a bounded number of exchanges downstream of the
    checkpointed curated corpus (the corpus text crosses the network
    only in the documented stages: cluster candidate generation,
    keep-join, decontam probe, mix, pack, final joins)."""
    df = entry_mod.q_curate_corpus(spark, SF)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the post-checkpoint composition: clusters join + anti-join +
    # mix (agg, offsets window, run window) + pack (same) + 2 final
    # joins.  22 exchanges measured; the bound catches a stage that
    # silently starts re-shuffling the corpus per consumer.
    assert plan.count("Exchange") <= 26, plan.count("Exchange")


def test_whole_stage_codegen_on_relational_path(spark):
    import re

    plan = plan_of(entry_mod.q_pricing_summary(spark, SF), execute=True)
    assert "isFinalPlan=true" in plan
    # whole-stage codegen spans appear as "*(n)" node prefixes
    assert re.search(r"\*\(\d+\) HashAggregate", plan)


def test_executor_jvm_flags_pin_heap_and_lambda_classes(spark):
    """Regression guard for the measured anti-scaling G1 pathologies
    (see ocr_spark.session.GC_JVM_OPTS): heap must be pinned (-Xms) so
    G1 never uncommits/recommits under allocation bursts, regions must
    be 32m so html byte[] rows are not humongous, and generated
    LambdaForm classes must survive concurrent mark."""
    conf = spark.sparkContext.getConf()
    driver_opts = conf.get("spark.driver.extraJavaOptions", "")
    exec_opts = conf.get("spark.executor.extraJavaOptions", "")
    assert "-Xms" in driver_opts  # local mode: driver JVM is the executor
    for opts in (driver_opts, exec_opts):
        assert "-XX:G1HeapRegionSize=32m" in opts
        assert "-XX:-ClassUnloadingWithConcurrentMark" in opts
        assert "-XX:MetaspaceSize=256m" in opts


def test_probe_skew_totals_size_the_exchange(spark, pages_parquet):
    """probe_skew's rollup grand-total must estimate corpus docs/bytes
    (within sampling error at fraction=1.0 it is exact), and the html
    exchange partition count must follow bytes, not core count alone."""
    from ocr_spark.plans.pipeline import JobConfig, prepare_pages, probe_skew

    pages = prepare_pages(spark.read.parquet(pages_parquet), 16)
    cfg = JobConfig(sample_fraction=1.0)  # exact at full fraction
    hot, est_docs, est_bytes = probe_skew(pages, cfg)
    truth = pages.selectExpr(
        "count(*) n", "sum(octet_length(html)) b").collect()[0]
    assert est_docs == truth.n
    assert est_bytes == truth.b
    # hot-host rows never include the rollup total marker
    assert all(h is not None for h, _ in hot)
    # sizing rule: bytes/256MB bounded below by configured parallelism
    par = 8
    expect = max(par, -(-est_bytes // cfg.exchange_partition_bytes))
    assert expect == par  # tiny corpus -> parallelism floor wins
    big = JobConfig(exchange_partition_bytes=1 << 10)  # 1KB target
    n = max(par, -(-est_bytes // big.exchange_partition_bytes))
    assert n > par  # bytes rule takes over when data outgrows cores


def test_outlinks_arrow_kernel_no_row_python(spark):
    plan = plan_of(entry_mod.q_outlinks(spark, SF))
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_pagerank_no_window_no_cartesian(spark):
    """Iterative rank: equi-joins + hash aggregates only — no window
    over a hot node, no cartesian, no per-row Python; checkpointing
    keeps the final plan a scan of the truncated lineage."""
    df = entry_mod.q_pagerank(spark, SF)
    plan = plan_of(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_substr_dedup_all_jvm_no_cartesian(spark):
    """ExactSubstr span removal: skinny gram projection + equi-joins +
    hash aggregates only — no per-row Python, no cartesian, no window;
    the default dup-set probe is a shuffle join (the dup set is not
    small in general), so SortMergeJoin/ShuffledHashJoin is acceptable
    where line_dedup demands a broadcast."""
    plan = plan_of(entry_mod.q_substr_dedup(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan      # pure JVM expressions
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_lm_score_broadcasts_vocab(spark):
    """The corpus-sized exploded-token side must NOT shuffle for the
    scoring join: vocab broadcasts back over it."""
    df = entry_mod.q_lm_score(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_robots_filter_broadcasts_rules(spark):
    """The robots table broadcasts to the pages side (pages never
    shuffle for the permission join); verdict is an Arrow kernel."""
    plan = plan_of(entry_mod.q_robots_filter(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan


def test_zero_shuffle_row_local_corpus_ops(spark):
    """epoch_mix / data_split / stratified_sample / mojibake repair are
    pure per-row plans: no Exchange, no Python."""
    for q in ("epoch_mix", "data_split", "stratified_sample",
              "mojibake_fix"):
        plan = plan_of(entry_mod.queries()[q](spark, SF))
        assert "Exchange" not in plan, q
        assert "BatchEvalPython" not in plan, q


def test_dsir_broadcasts_bucket_table(spark):
    """The DSIR log-ratio table (256 rows) broadcasts back over the
    exploded tokens — the corpus-sized side never shuffle-joins."""
    plan = plan_of(entry_mod.q_dsir_select(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_bloom_dedup_probes_are_broadcast_joins(spark):
    """All three Bloom bit probes are broadcast equi-joins on the word
    index; the snapshot side never shuffles for membership (the only
    SortMergeJoin-worthy exchange is the final reassembly groupBy)."""
    plan = plan_of(entry_mod.q_bloom_dedup(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_anchor_agg_no_window(spark):
    """Top-anchor selection is an order-free struct-max aggregate —
    never a row_number window over the hot link target."""
    plan = plan_of(entry_mod.q_anchor_agg(spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_ccnet_buckets_broadcasts_thresholds(spark):
    """Per-lang tertile thresholds (a handful of rows) broadcast back
    over the scored corpus."""
    plan = plan_of(entry_mod.q_ccnet_buckets(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_cdx_index_is_scan_local_until_sort(spark):
    """CDX key derivation is pure per-row expression work: the only
    exchange in the plan is the final presentation sort's range
    partitioning."""
    plan = plan_of(entry_mod.q_cdx_index(spark, SF))
    import re

    exchanges = re.findall(r"Exchange \w+", plan)
    assert all("rangepartitioning" in e.lower() for e in exchanges), exchanges
    assert "BatchEvalPython" not in plan


def test_tfidf_no_window_broadcast_idf(spark):
    plan = plan_of(entry_mod.q_tfidf(spark, SF))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_weighted_sample_is_take_ordered_no_shuffle(spark):
    """A-ES top-k must run as TakeOrderedAndProject (per-partition
    heaps + driver merge) — a global Sort exchange of the corpus would
    be the 100-TB failure mode."""
    df = entry_mod.queries()["weighted_sample"](spark, SF)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_epoch_shuffle_no_global_window_offsets_broadcast(spark):
    """The permutation rank must come from the two-pass prefix sum:
    per-bucket windows (partitioned, parallel) + a broadcast offsets
    join — never a single-partition global window, whose signature is
    an Exchange SinglePartition feeding the Window."""
    df = entry_mod.queries()["epoch_shuffle"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    win = plan.split("Window")[0]   # text above the big-data Window node
    assert "Exchange SinglePartition" not in win, plan
    assert "BatchEvalPython" not in plan


def test_crawl_schedule_rank_window_is_bucketed(spark):
    """The big-data window must be partitioned by (host, bucket) — the
    hot host's rank runs n_buckets-wide — and the offsets frame joins
    back broadcast."""
    df = entry_mod.queries()["crawl_schedule"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition(host" in plan and "_hb" in plan, plan
    assert "BatchEvalPython" not in plan


def test_url_blocklist_broadcast_no_fanout_no_python(spark):
    """Blocklist probe = one broadcast hash join against the
    per-domain-aggregated list; no shuffle of the corpus, no Python."""
    df = entry_mod.queries()["url_blocklist"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_single_list_shuffle_arrow_kernel(spark):
    """Candidates never leave their inverted list: ONE hash exchange on
    ivf_list feeding an Arrow applyInPandas kernel — no pair join, no
    cartesian, no per-row Python."""
    df = entry_mod.queries()["semantic_dedup"](spark, SF)
    plan = plan_of(df)
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan
    assert plan.count("Exchange hashpartitioning(ivf_list") == 1, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_cluster_best_argmax_is_aggregate_not_window(spark):
    """Representative selection must be the struct-argmax groupBy
    (map-side partials absorb the mega-cluster), never a window over
    cluster_id."""
    from ocr_spark.operators.dedup import cluster_representatives

    clusters = spark.createDataFrame(
        [(1, 1, 2), (2, 1, 2)],
        "doc_id long, cluster_id long, cluster_size long")
    scores = spark.createDataFrame([(1, 3), (2, 5)],
                                   "doc_id long, score long")
    plan = plan_of(cluster_representatives(clusters, scores))
    assert "Window" not in plan, plan


def test_asof_join_is_union_carry_not_inequality_join(spark):
    """The as-of must run as ONE window pass after a key exchange —
    never BroadcastNestedLoopJoin/CartesianProduct (the inequality-join
    blowup) and never per-row Python."""
    df = entry_mod.queries()["asof_join"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "BatchEvalPython" not in plan


def test_range_join_is_binned_equi_join(spark):
    """Containment must execute as a hash equi-join on the bin id —
    the nested-loop inequality join is the 100-TB failure mode."""
    df = entry_mod.queries()["range_join"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan)
    assert "_bin" in plan


def test_new_batch_queries_plan_hygiene(spark):
    """Round-4 batch-6 queries: no per-row Python, no cartesian blowup
    anywhere (hll_count / percentiles / rollup_metrics /
    word_blocklist / template_strip / para_dedup)."""
    for q in ("hll_count", "percentiles", "rollup_metrics",
              "word_blocklist", "template_strip", "para_dedup"):
        plan = plan_of(entry_mod.queries()[q](spark, SF))
        assert "BatchEvalPython" not in plan, q
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_hll_exchange_is_register_sized(spark):
    """The HLL sketch's value: partial aggregation collapses each map
    partition to <= groups*64 register rows before any exchange — the
    plan must show a partial_max on (group, bucket) under the
    exchange, and the fold itself must never move text."""
    from ocr_spark.functions.sketch import hll_cardinality

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(hll_cardinality(docs, "text", ["source"]))
    assert "partial_max" in plan or "partial_" in plan, plan
    assert "BatchEvalPython" not in plan


def test_batch7_queries_plan_hygiene(spark):
    """cms_topk / charset_detect / domain_split / revisit_policy: no
    per-row Python (charset runs as an Arrow kernel), no cartesian
    blowup; the CMS probe join broadcasts the 4x1024 sketch."""
    for q in ("cms_topk", "charset_detect", "domain_split",
              "revisit_policy"):
        plan = plan_of(entry_mod.queries()[q](spark, SF))
        assert "BatchEvalPython" not in plan, q
        assert "CartesianProduct" not in plan, q
    plan = plan_of(entry_mod.queries()["cms_topk"](spark, SF))
    assert "BroadcastHashJoin" in plan
    plan = plan_of(entry_mod.queries()["charset_detect"](spark, SF))
    assert "MapInArrow" in plan


def test_batch8_queries_plan_hygiene(spark):
    """model_score / zipf_fit / oov_rate: no per-row Python, no
    cartesian; the oov vocab join broadcasts (256 rows)."""
    for q in ("model_score", "zipf_fit", "oov_rate"):
        plan = plan_of(entry_mod.queries()[q](spark, SF))
        assert "BatchEvalPython" not in plan, q
        assert "CartesianProduct" not in plan, q
    plan = plan_of(entry_mod.queries()["oov_rate"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_batch9_queries_plan_hygiene(spark):
    """http_headers / robots_sitemaps / orders_above_avg: no per-row
    Python, no cartesian; the scalar-subquery decorrelation runs as a
    hash/sort-merge equi-join, never a nested loop."""
    for q in ("http_headers", "robots_sitemaps", "orders_above_avg"):
        plan = plan_of(entry_mod.queries()[q](spark, SF))
        assert "BatchEvalPython" not in plan, q
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_ivfpq_scoring_exchange_carries_codes_not_vectors(spark):
    """The IVF-PQ claim that matters at 100 TB: the scoring cogroup's
    CORPUS-side shuffle moves (ivf_list, id, m code ints) — never the
    raw embedding.  Locate the corpus exchange (the one whose input
    projects code_* columns) and assert its projection is the skinny
    code set with no embedding column."""
    import re

    df = entry_mod.queries()["ann_topk_ivfpq"](spark, SF)
    plan = plan_of(df)
    m = re.search(
        r"Exchange hashpartitioning\(ivf_list[^\n]*\n"
        r"[^\n]*Project \[([^\]]*code_0[^\]]*)\]",
        plan)
    assert m, plan[:2000]
    proj = m.group(1)
    assert "code_7" in proj and "neighbor_id" in proj, proj
    assert "embedding" not in proj and "q_vec" not in proj, proj


def test_pivot_explicit_values_two_skinny_shuffles(spark):
    """pivot() with the literal lang list avoids the eager
    distinct-values collect Spark runs when values are omitted; the
    plan is the canonical two-stage shape — partial (source, lang)
    aggregate, then pivotfirst by source — so BOTH hash exchanges
    carry at most |sources| x |langs| pre-aggregated rows, never doc
    rows.  Partial HashAggregates must sit below each exchange."""
    df = entry_mod.queries()["pivot_tokens"](spark, SF)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_pivotfirst" in plan, plan
    assert plan.count("HashAggregate") >= 3, plan
    assert "BatchEvalPython" not in plan


def test_bucketed_tables_join_and_agg_without_exchange(spark, tmp_path):
    """The bucketing payoff, plan-asserted: two tables written
    bucketed by the same key and bucket count sort-merge-join with
    ZERO Exchange nodes (the bucketed scan satisfies the clustering
    requirement), and a groupBy on the bucket key aggregates
    exchange-free too.  Reading the same files WITHOUT the catalog's
    bucket spec brings the shuffles back — the control that proves the
    layout (not the data size) is what removed them."""
    from ocr_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("x"))
    scores = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).alias("s"))
    cat.save_bucketed(docs, "bkt_docs", "doc_id", 8)
    cat.save_bucketed(scores, "bkt_scores", "doc_id", 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = cat.read_bucketed("bkt_docs").join(
            cat.read_bucketed("bkt_scores"), "doc_id")
        plan = plan_of(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan

        agg = cat.read_bucketed("bkt_docs").groupBy("doc_id").count()
        assert "Exchange" not in plan_of(agg)

        # control: same files, no bucket spec -> the exchanges return
        raw = spark.read.parquet(f"{tmp_path}/bkt_docs").join(
            spark.read.parquet(f"{tmp_path}/bkt_scores"), "doc_id")
        assert "Exchange hashpartitioning" in plan_of(raw)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_docs")
        spark.sql("DROP TABLE IF EXISTS bkt_scores")


def test_mine_measurements_zero_shuffle(spark):
    """Quantity mining is a pure per-row JVM pass: no Exchange, no
    Python in the plan."""
    # (the driver query's orderBy adds its own exchange; probe the
    # operator body instead)
    from ocr_spark.operators.index import mine_measurements
    body = mine_measurements(
        entry_mod._t(spark, SF, "documents").select("doc_id", "text"))
    bp = plan_of(body)
    assert "Exchange" not in bp
    assert "BatchEvalPython" not in bp


def test_gazetteer_dictionary_join_is_broadcast(spark):
    """Corpus text must never shuffle to meet the dictionary: the
    gazetteer join is a BroadcastHashJoin and the corpus is scanned
    ONCE (all n-gram lengths ride one projection, not a per-n union;
    materialize=False keeps the plan lazy for inspection — the
    production default checkpoints the mention set so the containment
    self-join cannot re-run the scan)."""
    from ocr_spark.operators.annotate import gazetteer_link
    docs = entry_mod._t(spark, SF, "documents").select(
        "doc_id", "text")
    plan = plan_of(gazetteer_link(docs, entry_mod.GAZETTEER,
                                  materialize=False))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Scan parquet") == 2  # a/b sides of the lazy
    # containment self-join only; the materialized default is 1


def test_hybrid_rerank_broadcasts_candidates(spark):
    """Stage-2 must semi-join the k-candidate set against embeddings
    via broadcast — the embedding table is scanned, never shuffled."""
    plan = plan_of(entry_mod.q_hybrid_rerank(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_record_linkage_single_block_join(spark):
    """Candidate generation is ONE equi-join on the blocking key —
    never a cartesian product."""
    plan = plan_of(entry_mod.q_record_linkage(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triplet_mine_single_shuffle_gemm(spark):
    """One grouping exchange into the per-bucket GEMM kernel; no
    per-row Python (the kernel is Arrow-batched applyInPandas)."""
    from ocr_spark.operators.similarity import triplet_mine
    emb = entry_mod._t(spark, SF, "embeddings").select(
        "vec_id", "embedding")
    plan = plan_of(triplet_mine(emb, dim=64, t_pos=0.3, t_neg=0.0,
                                n_planes=4))
    assert plan.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_compressibility_zero_shuffle(spark):
    """The k-gram proxy is a pure per-row pass: one scan, no
    Exchange, no Python."""
    from ocr_spark.functions.quality import compressibility
    docs = entry_mod._t(spark, SF, "documents").select("doc_id", "text")
    plan = plan_of(compressibility(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Scan parquet") == 1


def test_anchor_classify_keyword_join_is_broadcast(spark):
    """Only voting tokens survive the scan stage: the keyword table
    joins via broadcast; no cartesian anywhere."""
    from ocr_spark.operators.web import anchor_classify
    edges = spark.createDataFrame(
        [(1, "T", "join scan")], "src long, dst string, anchor string")
    plan = plan_of(anchor_classify(edges, entry_mod.ANCHOR_CATEGORIES,
                                   materialize=False))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_subword_segment_walk_is_fold_not_iteration(spark):
    """The greedy walk must not be an iterative job: with the
    distinct-word and vocab hubs materialized, the whole segmentation
    plan is ONE corpus scan and a handful of exchanges — not the
    46-scan / 68-exchange replanning blow-up the lazy form exhibits
    (kept measurable via materialize=False)."""
    from ocr_spark.functions.subword import (subword_vocab,
                                             wordpiece_segment_stats)
    docs = entry_mod._t(spark, SF, "documents").select("doc_id", "text")
    vocab = subword_vocab(docs, vocab_size=20, max_piece_len=4)
    plan = plan_of(wordpiece_segment_stats(docs, vocab))
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange") <= 8
    assert plan.count("Scan parquet") == 1


def test_round4_close_queries_plan_hygiene(spark):
    """winnowing / winnow_pairs / kn_bigram_lm / ks_drift / good_turing
    / term_dispersion / heaps_fit / skipgram_pairs: no per-row Python
    anywhere (all selection/CDF/window arithmetic is JVM built-ins),
    no cartesian product (the only nested-loop joins are broadcast
    cross joins of 1-row scalar aggregates / the n_neg slot table)."""
    for q in ("winnowing", "winnow_pairs", "kn_bigram_lm", "ks_drift",
              "good_turing", "term_dispersion", "heaps_fit",
              "skipgram_pairs", "cross_ppl", "min_k_prob", "stylometry"):
        plan = plan_of(entry_mod.queries()[q](spark, SF))
        assert "BatchEvalPython" not in plan, q
        assert "CartesianProduct" not in plan, q


def test_winnow_pairs_hot_hash_cap_is_broadcast_anti(spark):
    """The df cap must ride a broadcast anti-join (the hot set is tiny
    by construction), and the pair generation an equi-join on h."""
    plan = plan_of(entry_mod.queries()["winnow_pairs"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_ks_drift_window_is_bucket_partitioned(spark):
    """The ECDF cumsum must run per range bucket, never as one global
    window task: every Window in the plan carries a partition spec."""
    import re

    plan = plan_of(entry_mod.queries()["ks_drift"](spark, SF))
    assert "Window" in plan
    # a global window would show "Window [...], [v ASC...]" with no
    # partition-by exchange; ours hash-partitions on bkt first
    assert re.search(r"hashpartitioning\(bkt", plan), plan[:2000]


def test_heaps_fit_window_is_bucket_partitioned(spark):
    import re

    plan = plan_of(entry_mod.queries()["heaps_fit"](spark, SF))
    assert re.search(r"hashpartitioning\(bkt", plan)


def test_kn_model_joins_are_broadcast(spark):
    """All four KN model tables (bigram types, context totals, fan-in
    counts, the N_pairs scalar) broadcast back over the per-doc pairs —
    the corpus side must never shuffle for scoring."""
    plan = plan_of(entry_mod.queries()["kn_bigram_lm"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3


def test_ocr_decode_arrow_kernel_no_shuffle_of_bytes(spark):
    """Glyph OCR: render + decode are per-row Arrow stages — the plan
    must show Python batch evaluation (mapInPandas), no per-row Python,
    no cartesian, and NO Exchange between the PNG-build stage and the
    decode stage (the binary column never crosses the network; only
    the skinny OCR row is sorted at the end)."""
    df = entry_mod.q_ocr_decode(spark, SF)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("MapInPandas") == 2        # build + decode
    # exactly ONE exchange in the whole plan — the final orderBy's
    # range partitioning of the skinny result; the payload bytes stay
    # partition-local between the build and decode kernels
    assert plan.count("Exchange") == 1
    between = plan.split("MapInPandas")[1]       # decode..build segment
    assert "Exchange" not in between
