"""spark-submit entrypoint for the extraction engine.

Cluster:
    spark-submit --py-files engine.zip \
        --conf spark.sql.shuffle.partitions=8192 job.py \
        --input /lake/pages --output /lake/out --run-id R42 \
        --buckets 4096 --chunk-buckets 256

The html exchange width is ``spark.sql.shuffle.partitions`` (raised when
the sampled html bytes need more partitions); the job has no setting of
its own for it.

Local smoke:
    python job.py --synth 2000 --output /tmp/ocr_out

Package engine.zip with:  python job.py --make-zip engine.zip
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def make_zip(dest: str) -> None:
    import zipfile

    root = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(root, "ocr_spark")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, root))
    print(f"wrote {dest}")


def main() -> None:
    ap = argparse.ArgumentParser(description="OCR-Spark extraction job")
    ap.add_argument("--input", help="pages parquet path (url, warc_ts, html, text, lang)")
    ap.add_argument("--synth", type=int, default=0,
                    help="synthesize N pages instead of reading --input")
    ap.add_argument("--synth-seed", type=int, default=42)
    ap.add_argument("--output", required=False, default="/tmp/ocr_spark_out")
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--chunk-buckets", type=int, default=0)
    ap.add_argument("--all-pages", action="store_true")
    ap.add_argument("--cores", type=int, default=0, help="local[N] cores")
    ap.add_argument("--make-zip", help="write engine.zip and exit")
    args = ap.parse_args()

    if args.make_zip:
        make_zip(args.make_zip)
        return

    from ocr_spark.plans.pipeline import JobConfig, run_extraction_job
    from ocr_spark.session import get_spark

    spark = get_spark("ocr_spark_job", cores=args.cores or None)

    if args.synth:
        from ocr_spark.data.synth import write_pages_parquet

        # NOTE: no leading underscore — Spark/Hadoop treats _-prefixed
        # files as hidden metadata and silently excludes them from scans
        corpus = os.path.join(args.output, "synth_pages.parquet")
        os.makedirs(args.output, exist_ok=True)
        n = write_pages_parquet(corpus, n=args.synth, seed=args.synth_seed)
        print(f"synthesized {n} pages -> {corpus}")
        input_path = corpus
    else:
        if not args.input:
            ap.error("--input or --synth required")
        input_path = args.input

    cfg = JobConfig(
        run_id=args.run_id,
        n_buckets=args.buckets,
        chunk_buckets=args.chunk_buckets,
        all_pages=args.all_pages,
    )
    stats = run_extraction_job(spark, input_path, args.output, cfg)
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
