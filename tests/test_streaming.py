"""Structured Streaming parity: the stream path must produce
byte-identical extracted text to the batch kernel, and windowed
lineage must reconcile with batch counters."""

import os
import shutil

from ocr_spark.extractor.core import extract_bytes
from ocr_spark.streaming.stream import (
    read_pages_stream, run_stream_to_parquet, extract_stream,
    windowed_lineage, sessionize_stream, dedup_stream,
)


def test_stream_dedup_by_url_matches_batch_distinct(spark, pages_parquet, tmp_path):
    """dedup_stream keyed on url keeps exactly one row per url (the
    fixture's ~5% duplicate captures all arrive in one micro-batch,
    well inside the watermark horizon)."""
    out = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    stream = read_pages_stream(spark, _as_source_dir(pages_parquet, tmp_path))
    q = (
        dedup_stream(stream, keys=["url"], watermark="2 hours")
        .select("url")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    urls = [r["url"] for r in spark.read.parquet(out).collect()]
    assert len(urls) == len(set(urls))
    src = spark.read.parquet(pages_parquet)
    n_src, n_urls = src.count(), src.select("url").distinct().count()
    assert len(urls) == n_urls
    assert n_src > n_urls  # the fixture really has duplicate captures


def test_stream_dedup_default_digest_key(spark, pages_parquet, tmp_path):
    """Default key is the html content digest: a byte-identical
    re-capture (same html, different url/ts) collapses to one row."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    t = pq.read_table(pages_parquet)
    d = t.to_pylist()
    twin = dict(d[0])
    twin["url"] = "https://recrawl.example/twin"
    src_dir = tmp_path / "src_digest"
    src_dir.mkdir()
    pq.write_table(pa.Table.from_pylist(d + [twin], schema=t.schema),
                   src_dir / "part-00000.parquet")
    out = str(tmp_path / "dg_out")
    ckpt = str(tmp_path / "dg_ckpt")
    stream = read_pages_stream(spark, str(src_dir))
    q = (
        dedup_stream(stream, watermark="2 hours")
        .select("url", "digest")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out).collect()
    digests = [r["digest"] for r in got]
    assert len(digests) == len(set(digests))
    # the twin's digest appears once: original url OR twin url, not both
    urls = {r["url"] for r in got}
    assert not ({d[0]["url"], twin["url"]} <= urls)


def _as_source_dir(pages_parquet, tmp_path):
    """The streaming file source requires a directory, not a file."""
    d = tmp_path / "src"
    d.mkdir()
    shutil.copy(pages_parquet, d / "part-00000.parquet")
    return str(d)


def test_stream_extract_matches_oracle(spark, pages_parquet, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_pages_stream(spark, _as_source_dir(pages_parquet, tmp_path))
    q = run_stream_to_parquet(stream, out, ckpt, available_now=True)
    q.awaitTermination(300)
    got = {
        r["url"]: r["text"]
        for r in spark.read.parquet(out).select("url", "text").collect()
    }
    src = spark.read.parquet(pages_parquet).select("url", "html").collect()
    # the stream path does no dedup (that's the batch job's keep-latest);
    # byte-equality is asserted on single-capture urls
    from collections import Counter
    n_caps = Counter(r["url"] for r in src)
    assert len(got) > 0
    n_singles = sum(1 for c in n_caps.values() if c == 1)
    cap = min(50, n_singles)
    checked = 0
    for r in src:
        if n_caps[r["url"]] != 1:
            continue
        exp = extract_bytes(bytes(r["html"]))["text"]
        assert got[r["url"]] == exp
        checked += 1
        if checked == cap:
            break
    # floor derived from the fixture, not hard-coded: byte-equality must
    # have actually been exercised on a meaningful sample
    assert checked == cap and checked >= 20


def test_stream_windowed_lineage_reconciles(spark, pages_parquet, tmp_path):
    stream = read_pages_stream(spark, _as_source_dir(pages_parquet, tmp_path))
    lineage = windowed_lineage(extract_stream(stream),
                               window="30 days", watermark="1 hour")
    ckpt = str(tmp_path / "ckpt2")
    # complete mode: append would hold back the last (never-closed)
    # window until a later watermark advance that a bounded run lacks
    q = (
        lineage.writeStream.format("memory").queryName("lin")
        .option("checkpointLocation", ckpt)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    stream_totals = (
        spark.sql("SELECT sum(n_docs) AS n FROM lin").collect()[0]["n"]
    )
    batch_n = spark.read.parquet(pages_parquet).count()
    assert stream_totals == batch_n


def test_stateful_sessionize_stitches_across_microbatches(spark, tmp_path):
    """applyInPandasWithState sessionization: per-user session state
    must survive the micro-batch boundary (a session whose events are
    split across two files/batches is ONE session), and only closed
    sessions are emitted (append mode)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "ev_src"
    src.mkdir()

    def write(name, rows, mtime):
        tbl = pa.table({
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows],
                           pa.timestamp("us", tz="UTC")),
        })
        p = str(src / name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    base = 1_700_000_000 * 1_000_000  # epoch us
    s = lambda sec: base + sec * 1_000_000
    # batch 1: user 1 session A begins (ts 0, 100); user 2 lone event
    write("f1.parquet", [(1, s(0)), (1, s(100)), (2, s(0))], 1_700_000_000)
    # batch 2: ts 200 CONTINUES session A across the batch boundary,
    # ts 5000 closes it (gap > 1800); user 2's ts 10000 closes their
    # first session.  Trailing opens (1@5000, 2@10000) must NOT emit.
    write("f2.parquet", [(1, s(200)), (1, s(5000)), (2, s(10000))],
          1_700_001_000)

    ev = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        sessionize_stream(ev, gap_s=1800)
        .writeStream.format("memory").queryName("sess")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess").collect()
    }
    t0 = 1_700_000_000
    assert got == {
        (1, t0, t0 + 200, 3),   # stitched across batches, closed by 5000
        (2, t0, t0, 1),         # closed by 10000
    }
    # two micro-batches actually ran (the boundary was real)
    assert len(q.recentProgress) >= 2


def test_sessionize_late_event_never_moves_session_backwards(spark, tmp_path):
    """Lateness contract: an event arriving in a LATER micro-batch with
    t below the stored last_ts (even below session_start) must extend
    the open session (start=min, last=max), never rewind it — the
    round-3 ADVICE hazard was last=t unconditionally, which could emit
    session_end < session_start."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "late_src"
    src.mkdir()

    def write(name, rows, mtime):
        tbl = pa.table({
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows],
                           pa.timestamp("us", tz="UTC")),
        })
        p = str(src / name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    base = 1_700_000_000 * 1_000_000
    s = lambda sec: base + sec * 1_000_000
    # batch 1 opens (100..200); batch 2 delivers a LATE event at 50,
    # then 5000 closes the session
    write("f1.parquet", [(1, s(100)), (1, s(200))], 1_700_000_000)
    write("f2.parquet", [(1, s(50)), (1, s(5000))], 1_700_001_000)

    ev = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        sessionize_stream(ev, gap_s=1800)
        .writeStream.format("memory").queryName("sess_late")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_late").collect()
    }
    t0 = 1_700_000_000
    assert got == {(1, t0 + 50, t0 + 200, 3)}
    for _, a, b, _n in got:
        assert a <= b  # the invariant the guard protects


def test_sessionize_idle_timeout_flushes_open_session(spark, tmp_path):
    """Production flush: with idle_timeout_s set, an open session whose
    user goes idle in processing time is emitted and its state dropped
    (ProcessingTimeTimeout path).  Uses a real processing-time trigger;
    FlatMapGroupsWithStateExec keeps scheduling batches while timeouts
    are pending, so the flush arrives without new data."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "to_src"
    src.mkdir()
    base = 1_700_000_000 * 1_000_000
    tbl = pa.table({
        "user_id": pa.array([7, 7], pa.int64()),
        "ts": pa.array([base, base + 60_000_000], pa.timestamp("us", tz="UTC")),
    })
    pq.write_table(tbl, str(src / "f1.parquet"))

    ev = spark.readStream.schema("user_id long, ts timestamp").parquet(str(src))
    q = (
        sessionize_stream(ev, gap_s=1800, idle_timeout_s=2)
        .writeStream.format("memory").queryName("sess_to")
        .option("checkpointLocation", str(tmp_path / "ckpt_to"))
        .outputMode("append").trigger(processingTime="1 second").start()
    )
    try:
        deadline = time.time() + 120
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM sess_to").collect()
            if rows:
                break
            time.sleep(1)
    finally:
        q.stop()
    t0 = 1_700_000_000
    assert {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in rows} == {(7, t0, t0 + 60, 2)}
