"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "extract_docs_per_s": ..., "extract_gb_per_s": ...}

The extraction headline runs the full pipeline (dedup, salt,
repartition, Arrow extract, write, lineage commit) over a seeded
synthetic pages corpus; corpus parquet is cached under .cache/.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# default pinned to the measured host capacity: this box exposes 32
# logical cores but sustained parallelism beyond ~16 measures the
# co-tenant, not the engine (>2x run-to-run swing at local[32]; full
# analysis + tmpfs disk control in BENCH/BASELINE.md).  Round-2 bench
# ran at local[32] and showed 8-30x phantom regressions on unchanged
# code; local[16] re-runs erased them.
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "30000"))
# median-of-N per query: co-tenant noise is bursty below query
# timescale, a single sample is not a measurement
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

# headline operator queries from the driver contract (timed individually)
BENCH_QUERIES = [
    "flagship_extract", "pdf_extract", "pdf_layout", "html_meta", "jsonld",
    "microdata",
    "profile_extract", "extract_metrics",
    "dedup_exact", "line_dedup", "substr_dedup", "cdc_chunks",
    "dedup_keep_latest", "minhash_lsh_pairs", "edit_verify", "cross_dedup", "snapshot_update", "ngram_jaccard", "containment", "tfidf_near_dup",
    "lsh_jaccard", "dedup_clusters", "cluster_split", "split_leakage",
    "simhash_near_dup", "embed_near_dup",
    "embed_near_dup_lsh", "span_qa", "cosine_topk", "ann_topk", "ann_recall", "ann_topk_ivf", "ivf_recall",
    "semantic_dedup", "pq_encode", "pq_error", "ann_topk_ivfpq",
    "jl_project", "bitext_mine", "bitext_mine_exact", "label_centroids", "centroid_outliers", "feature_hash", "hash_retrieval",
    "rrf_fusion", "retrieval_eval",
    "text_stats", "repetition_stats", "quality_filter", "format_signals",
    "pii_scrub", "k_anonymity", "k_suppress",
    "mojibake_fix",
    "lang_id", "lang_id_cjk", "lang_confusion", "lang_id_cyrillic", "lang_confusion_script", "fingerprint", "winnowing", "winnow_pairs", "search_keys", "token_count",
    "chunk_text", "chunk_tokens", "sections", "texttiling", "collocations", "bpe_pairs",
    "bpe_encode",
    "table_extract", "html_markdown", "markdown_strip", "wet_export", "wat_export",
    "bigram_lm", "kn_bigram_lm", "cross_ppl", "min_k_prob", "good_turing", "term_dispersion", "heaps_fit", "readability", "unicode_clean",
    "postings", "posting_deltas", "snippets", "corpus_stats", "crawl_delta", "dist_drift", "ks_drift", "index_delta",
    "capture_history",
    "asof_join", "range_join", "bm25", "search_results", "doc_attributes",
    "sentences", "textrank", "rake_keyphrases", "domain_quality", "sitemap", "feed", "incremental_extract", "canonical_collapse",
    "lm_score", "tfidf", "ccnet_buckets", "soft404", "entropy", "content_type", "code_corpus", "quality_calibration", "stratified_sample", "epoch_mix",
    "dsir_select", "cluster_best", "weighted_sample", "epoch_shuffle",
    "data_split", "bloom_dedup", "token_budget_mix", "skipgram_pairs", "length_buckets",
    "pack_sequences", "fim_transform", "span_corrupt", "shard_plan", "shard_manifest",
    "packed_batches", "decontaminate", "curate_corpus",
    "warc_extract", "url_normalize", "domain_topk", "url_blocklist", "url_templates",
    "crawl_schedule", "crawl_delay", "robots_filter", "meta_robots",
    "outlinks", "anchor_agg", "cdx_index", "pagerank", "trust_rank", "label_propagation", "triangle_count", "zorder_layout", "hits", "graph_components", "graph_prior",
    "redirect_resolve", "redirect_graph", "rel_links", "hreflang_clusters",
    "publish_date", "social_cards", "amp_collapse", "article_stitch",
    "reciprocal_links", "cocitation", "link_depth", "scholarly_ids", "id_linkage", "measurements", "triplets", "cloze_qa", "hybrid_rerank", "gazetteer", "entity_contexts", "entity_graph", "record_linkage", "code_switch", "subword_vocab", "subword_segment", "license", "kcore", "table_records", "section_qa", "anchor_classify", "compressibility", "jsonl_ingest",
    "lang_mismatch", "pdf_text_fix", "host_lang_entropy",
    "media_decode", "png_decode", "png_palette", "gif_structure", "srt_cues",
    "caption_align", "audio_decode", "frame_sample", "exif",
    "image_ahash", "ahash_near_dup", "image_dhash", "image_dedup", "ocr_decode",
    "audio_segments",
    "pricing_summary", "top_customers", "regional_revenue",
    "customers_no_orders", "setop_except", "json_extract",
    "running_window", "trailing_window", "daily_events", "interval_union", "funnel", "retention", "sessionize", "stream_extract_parity", "stream_sessionize",
    "hll_count", "percentiles", "length_outliers", "rollup_metrics", "pivot_tokens", "melt_tokens", "word_blocklist",
    "template_strip", "para_dedup",
    "cms_topk", "charset_detect", "domain_split", "revisit_policy",
    "model_score", "stylometry", "zipf_fit", "oov_rate",
    "http_headers", "http_dates", "robots_sitemaps", "orders_above_avg",
]


def ensure_corpus() -> str:
    """Boilerplate-heavy pages (size_mult=2, boiler_mult=4) approximate
    real web markup:content ratios; cached under .cache/."""
    from ocr_spark.data.synth import write_pages_parquet_parallel

    os.makedirs(CACHE, exist_ok=True)
    # v2: corpus includes the pdfflate genre (round-2 genre-mix change
    # shifts the seeded stream, so the round-1 cache must not be reused)
    path = os.path.join(CACHE, f"bench_pages_{N_PAGES}_m2b4_v2.parquet")
    if not os.path.exists(path):
        write_pages_parquet_parallel(path, n=N_PAGES, seed=42, workers=16,
                                     chunk=5000, size_mult=2, boiler_mult=4)
    return path


def main() -> None:
    import __spark_entry__ as entry_mod
    from BENCH.hostmeter import cpu_delta, read_cpu
    from ocr_spark.plans.pipeline import JobConfig, run_extraction_job
    from ocr_spark.session import get_spark

    cpu_start = read_cpu()

    spark = get_spark("ocr_spark_bench", cores=CPUS,
                      shuffle_partitions=CPUS * 2)

    sf_label = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    corpus = ensure_corpus()
    # job output to /tmp: many-file writes under the repo tree are ~5x
    # slower in this sandbox (measured)
    out_root = "/tmp/ocr_spark_bench/bench_out"
    shutil.rmtree(out_root, ignore_errors=True)

    timings: dict[str, float] = {}

    # 1. the e2e extraction pipeline (the engine's headline number)
    t0 = time.perf_counter()
    stats = run_extraction_job(
        spark, corpus, out_root,
        JobConfig(run_id="bench", n_buckets=CPUS * 2),
    )
    timings["pages_pipeline"] = round(time.perf_counter() - t0, 3)

    # 2. operator queries from the driver contract: median of REPEATS
    # runs each (plan compile + first-run Python-worker spin-up land in
    # run 1; the median is the steady-state number)
    print(f"pages_pipeline: {timings['pages_pipeline']}s", file=sys.stderr)
    qs = entry_mod.queries()

    def drop_persisted_blocks() -> None:
        # localCheckpoint() RDDs (iterative operators: connected
        # components, pagerank, label propagation, textrank, vector
        # materialization) stay in the block manager until JVM GC —
        # over 190 queries x 3 repeats they accumulate and degraded
        # the tail of the run 6-29x (measured, bench_r4_190q).
        # DataFrame.unpersist() does not reach checkpoint RDDs, so
        # sweep the JVM-side persistent-RDD map between queries.
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jmap.get(rid).unpersist()

    all_runs: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        runs = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            n = df.count()  # force full execution
            runs.append(round(time.perf_counter() - t0, 3))
        drop_persisted_blocks()
        runs.sort()
        all_runs[name] = runs
        timings[name] = runs[len(runs) // 2]
        print(f"{name}: median {timings[name]}s of {runs} ({n} rows)",
              file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # benchmark validity: this VM shares physical cores with a
    # hypervisor-level co-tenant; steal_cores is the average number of
    # cores stolen over the whole bench window (see BENCH/hostmeter.py).
    # Readings > ~1 mean walls here are co-tenant-inflated, not engine
    # regressions.
    host = cpu_delta(cpu_start, read_cpu())
    line = json.dumps({
        "metric": "bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_runs": all_runs,
        "repeats": REPEATS,
        "sf": sf_label,
        "cpus": CPUS,
        "extract_docs": stats["n_docs"],
        "extract_docs_per_s": round(stats["docs_per_s"], 1),
        "extract_gb_per_s": round(stats["gb_per_s"], 4),
        "extract_bytes_in": stats["bytes_in"],
        "host_cpu": host,
        "steal_cores": host["steal_cores"],
    })
    # the JSON result must survive a wrapper that merges stdout+stderr
    # into one pty (round-3 driver recorded "parsed: null" from an
    # interleaved tail): persist it to a file first, stop the JVM so no
    # late executor log can interleave, drain both streams, then emit
    # the line with a clean leading newline as the very last write.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_LATEST.json"), "w") as f:
        f.write(line + "\n")
    spark.stop()
    sys.stderr.flush()
    sys.stdout.flush()
    sys.stdout.write("\n" + line + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
