"""Iceberg-shaped table layer over Parquet directories.

The sandbox has no Iceberg runtime jars (SURVEY.md §7.0), so this thin
layer implements the table properties the north rule actually
exercises — identity, schema-on-read, bucket partition layout, append,
dynamic-partition overwrite, and a manifest/snapshot record for
checkpoint-resume — over plain Parquet paths.  On a real cluster with
``spark.jars.packages=org.apache.iceberg:...`` the same call sites swap
to ``spark.read.table`` / ``df.writeTo(...).append()`` via the
``use_iceberg`` flag; nothing else in the engine changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

__all__ = ["Catalog", "Table"]

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("n_docs", T.LongType(), True),
        T.StructField("n_ok", T.LongType(), True),
        T.StructField("n_err", T.LongType(), True),
        T.StructField("bytes_in", T.LongType(), True),
        T.StructField("bytes_out", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
    ]
)


class Table:
    """One named parquet-backed table under a catalog root."""

    def __init__(self, spark: SparkSession, path: str, name: str):
        self.spark = spark
        self.path = path
        self.name = name

    def exists(self) -> bool:
        return any(f.endswith(".parquet")
                   for _root, _dirs, files in os.walk(self.path) for f in files)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def read_or_empty(self, schema: T.StructType) -> DataFrame:
        if self.exists():
            return self.spark.read.schema(schema).parquet(self.path)
        # a JVM-local empty relation: createDataFrame([]) would run
        # Python tasks for zero rows
        return self.spark.range(0).select(
            [F.lit(None).cast(f.dataType).alias(f.name) for f in schema])

    def append_rows(self, rows: list[tuple], schema: T.StructType) -> None:
        """Driver-side append for TINY tables (manifest/lineage: a few
        rows per chunk).  A Spark write job costs 1-3 s of serial tail
        (scheduling + committer temp-dir renames) to land a 1 KB file;
        writing the parquet file directly with pyarrow is milliseconds
        and reads back identically through spark.read.parquet.  Data
        tables keep the distributed write path."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        # TimestampType maps to timestamp[us, tz=UTC]: isAdjustedToUTC=true,
        # so Spark reads it back as TimestampType (ltz), same as its own
        # written timestamps
        arrow_schema = pa.schema(
            [(f.name, to_arrow_type(f.dataType)) for f in schema.fields]
        )
        cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=t)
             for c, t in zip(cols, arrow_schema.types)],
            schema=arrow_schema,
        )
        os.makedirs(self.path, exist_ok=True)
        pq.write_table(
            table, os.path.join(self.path, f"part-{uuid.uuid4().hex}.parquet")
        )

    def overwrite_partitions(self, df: DataFrame,
                             partition_by: tuple[str, ...]) -> None:
        """Idempotent per-partition replace: with
        spark.sql.sources.partitionOverwriteMode=dynamic, mode=overwrite
        replaces only the partitions present in ``df`` — the re-run of an
        uncommitted bucket lands byte-for-byte in place of the orphan
        (SURVEY.md §7.3.5)."""
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(self.path)


class Catalog:
    """A directory of tables + the checkpoint manifest / lineage pair
    used for idempotent resume (FIXTURES.md §3)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> Table:
        return Table(self.spark, os.path.join(self.root, name), name)

    # -- bucketed tables ------------------------------------------------
    def save_bucketed(self, df: DataFrame, name: str, key: str,
                      n_buckets: int, sort: bool = True) -> None:
        """Write ``df`` as a BUCKETED (and by default bucket-sorted)
        external parquet table: files are laid out so every row with
        the same ``key`` hash lands in the same bucket file on both
        writes — which lets Spark join or aggregate two tables bucketed
        the same way with ZERO exchanges (the scan itself satisfies the
        hash-clustering requirement; plan-asserted in test_plans).

        At 100 TB this is the difference between re-shuffling the full
        corpus on every join against a side table and never shuffling
        it at all: bucket once at write time, every downstream
        key-join/key-agg is co-located.  Bucket metadata lives in the
        session catalog here (the sandbox has no metastore/Iceberg
        jars); on a real deployment the same call becomes a bucketed /
        ``write.distributed-by`` Iceberg table and survives sessions —
        the swap point documented in the module header."""
        w = (df.write.format("parquet").mode("overwrite")
             .option("path", os.path.join(self.root, name))
             .bucketBy(n_buckets, key))
        if sort:
            w = w.sortBy(key)
        w.saveAsTable(name)

    def read_bucketed(self, name: str) -> DataFrame:
        """Read a bucketed table THROUGH the catalog (``spark.table``):
        a plain ``read.parquet`` of the same path would lose the bucket
        spec and re-introduce the exchange."""
        return self.spark.table(name)

    # -- checkpoint manifest ------------------------------------------------
    def manifest(self) -> Table:
        return self.table("manifest")

    def lineage(self) -> Table:
        return self.table("lineage")

    def committed_buckets(self, run_id: str) -> DataFrame:
        """Buckets already committed for this run (anti-join target).
        The job reads ``committed_bucket_ids``; this DataFrame form stays
        because perfbench times and traces it."""
        m = self.manifest().read_or_empty(MANIFEST_SCHEMA)
        return m.filter(F.col("run_id") == run_id).select("bucket").distinct()

    def committed_bucket_ids(self, run_id: str) -> list[int]:
        """``committed_buckets`` as a sorted list, read on the driver
        with pyarrow, the way ``append_rows`` wrote it: the manifest is
        tiny by design, and a Spark job here costs more than the read."""
        import pyarrow.parquet as pq

        m = self.manifest()
        if not m.exists():
            return []
        t = pq.read_table(m.path, columns=["bucket"],
                          filters=[("run_id", "=", run_id)])
        return sorted(set(t.column("bucket").to_pylist()))

    def landed_counters(self, table: Table, run_id: str, buckets: list[int],
                        wall_ms: int) -> list[tuple]:
        """Lineage rows for the ``bucket=N/`` dirs of ``table`` that just
        landed, read back on the driver with pyarrow one batch of the
        counter columns at a time.  A null status counts in neither
        ``n_ok`` nor ``n_err``; a bucket with no rows gets no row; like a
        Spark scan, it skips ``_``/``.``-prefixed files."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        def counters(t):
            return (t.num_rows,
                    pc.sum(pc.equal(t["status"], "ok"), min_count=0).as_py(),
                    pc.sum(pc.not_equal(t["status"], "ok"), min_count=0).as_py(),
                    pc.sum(t["bytes_in"], min_count=0).as_py(),
                    pc.sum(t["bytes_out"], min_count=0).as_py())

        rows = []
        for b in buckets:
            d = os.path.join(table.path, f"bucket={b}")
            parts = []
            for f in sorted(os.listdir(d)) if os.path.isdir(d) else ():
                if f.startswith(("_", ".")):
                    continue
                with pq.ParquetFile(os.path.join(d, f)) as pf:
                    parts += map(counters, pf.iter_batches(
                        columns=["status", "bytes_in", "bytes_out"]))
            sums = [sum(c) for c in zip(*parts)]
            if sums and sums[0]:
                rows.append((run_id, b, *sums, wall_ms))
        return rows

    def run_totals(self, run_id: str) -> dict:
        """The lineage counters of ``run_id`` summed over the buckets the
        manifest commits, one row per bucket.  A crash between a chunk's
        lineage append and its commit leaves rows that the resumed run
        appends again, equal apart from ``wall_ms``; the smallest is kept."""
        import pyarrow.parquet as pq

        committed = self.committed_bucket_ids(run_id)
        lin = self.lineage()
        rows = (pq.read_table(lin.path, filters=[("run_id", "=", run_id),
                                                 ("bucket", "in", committed)])
                .to_pylist() if committed and lin.exists() else [])
        kept: dict[int, dict] = {}
        for r in sorted(rows, key=lambda r: r["wall_ms"]):
            kept.setdefault(r["bucket"], r)
        return {k: sum(r[k] for r in kept.values()) if kept else None
                for k in ("n_docs", "n_ok", "n_err", "bytes_in", "bytes_out")}

    def commit_buckets(self, run_id: str, buckets: list[int]) -> None:
        """Append manifest rows — the atomic last step per chunk: data
        files land first, manifest rows only after (write-then-commit
        ordering, SURVEY.md §4.2).  Driver-side pyarrow write: no Spark
        job in the commit path."""
        if not buckets:
            return
        from datetime import datetime, timezone

        now = datetime.now(timezone.utc)
        self.manifest().append_rows(
            [(run_id, int(b), now) for b in buckets], MANIFEST_SCHEMA
        )
