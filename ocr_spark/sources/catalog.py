"""Iceberg-shaped table layer over Parquet directories.

The sandbox has no Iceberg runtime jars (SURVEY.md §7.0), so this thin
layer implements the table properties the north rule actually
exercises — identity, schema-on-read, bucket partition layout, atomic
append, dynamic-partition overwrite, and one commit record per bucket
for checkpoint-resume (the ``lineage`` table) — over plain Parquet
paths.  On a real cluster the call sites map onto
``spark.read.table`` / ``df.writeTo(...).append()`` of Iceberg tables;
nothing else in the engine changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

__all__ = ["Catalog", "Table"]

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
        T.StructField("committed_at", T.TimestampType(), True),
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

    def read_or_empty(self, schema: T.StructType) -> DataFrame:
        if self.exists():
            return self.spark.read.schema(schema).parquet(self.path)
        # a JVM-local empty relation: createDataFrame([]) would run
        # Python tasks for zero rows
        return self.spark.range(0).select(
            [F.lit(None).cast(f.dataType).alias(f.name) for f in schema])

    def append_rows(self, rows: list[tuple], schema: T.StructType) -> None:
        """Atomic driver-side append for TINY tables (lineage: a few rows
        per chunk).  A Spark write job costs 1-3 s of serial tail
        (scheduling + committer temp-dir renames) to land a 1 KB file;
        writing the parquet file directly with pyarrow is milliseconds
        and reads back identically through spark.read.parquet.  The file
        is written under a hidden temp name and renamed into place; a
        write or rename that raises removes the temp file.  A process
        killed between the two (SIGKILL) still leaves it behind, which
        is harmless: Spark, pyarrow and ``exists`` all skip
        ``.``-prefixed files.  Temp files are not swept at run start,
        since one may belong to another writer of the same catalog.
        Data tables keep the distributed write path."""
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
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        try:
            pq.write_table(table, tmp)
            os.replace(tmp, os.path.join(self.path, name))
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise

    def overwrite_partitions(self, df: DataFrame,
                             partition_by: tuple[str, ...]) -> None:
        """Idempotent per-partition replace: with
        spark.sql.sources.partitionOverwriteMode=dynamic, mode=overwrite
        replaces only the partitions present in ``df`` — the re-run of an
        uncommitted bucket lands byte-for-byte in place of the orphan
        (SURVEY.md §7.3.5)."""
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(self.path)


class Catalog:
    """A directory of tables + the per-bucket commit records (``lineage``)
    used for idempotent resume (FIXTURES.md §3)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> Table:
        return Table(self.spark, os.path.join(self.root, name), name)

    # -- commit records ------------------------------------------------
    def lineage(self) -> Table:
        return self.table("lineage")

    def committed_buckets(self, run_id: str) -> DataFrame:
        """Buckets already committed for this run (anti-join target).
        The job reads ``committed_bucket_ids``; this DataFrame form stays
        because perfbench times and traces it."""
        lin = self.lineage().read_or_empty(LINEAGE_SCHEMA)
        return lin.filter(F.col("run_id") == run_id).select("bucket")

    def committed_bucket_ids(self, run_id: str) -> list[int]:
        """``committed_buckets`` as a sorted list, read on the driver
        with pyarrow, the way ``append_rows`` wrote it: the table is
        tiny by design, and a Spark job here costs more than the read."""
        import pyarrow.parquet as pq

        lin = self.lineage()
        if not lin.exists():
            return []
        t = pq.read_table(lin.path, columns=["bucket"],
                          filters=[("run_id", "=", run_id)])
        return sorted(t.column("bucket").to_pylist())

    def landed_counters(self, table: Table, run_id: str, buckets: list[int],
                        wall_ms: int) -> list[tuple]:
        """The chunk's commit record: one lineage row per bucket, counting
        the ``bucket=N/`` dirs of ``table`` that just landed, read back on
        the driver with pyarrow one batch of the counter columns at a
        time.  A null status counts in neither ``n_ok`` nor ``n_err``; a
        bucket with no rows gets a row of zeros; like a Spark scan, it
        skips ``_``/``.``-prefixed files."""
        from datetime import datetime, timezone

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        def counters(t):
            return (t.num_rows,
                    pc.sum(pc.equal(t["status"], "ok"), min_count=0).as_py(),
                    pc.sum(pc.not_equal(t["status"], "ok"), min_count=0).as_py(),
                    pc.sum(t["bytes_in"], min_count=0).as_py(),
                    pc.sum(t["bytes_out"], min_count=0).as_py())

        now = datetime.now(timezone.utc)
        rows = []
        for b in buckets:
            d = os.path.join(table.path, f"bucket={b}")
            sums = (0,) * 5
            for f in sorted(os.listdir(d)) if os.path.isdir(d) else ():
                if f.startswith(("_", ".")):
                    continue
                with pq.ParquetFile(os.path.join(d, f)) as pf:
                    for batch in pf.iter_batches(
                            columns=["status", "bytes_in", "bytes_out"]):
                        sums = tuple(map(sum, zip(sums, counters(batch))))
            rows.append((run_id, b, *sums, wall_ms, now))
        return rows

    def run_totals(self, run_id: str) -> dict:
        """The lineage counters of ``run_id`` summed over its committed
        buckets: one row each, so fresh and resumed runs count alike."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        keys = ("n_docs", "n_ok", "n_err", "bytes_in", "bytes_out")
        lin = self.lineage()
        if not lin.exists():
            return dict.fromkeys(keys)
        t = pq.read_table(lin.path, columns=list(keys),
                          filters=[("run_id", "=", run_id)])
        return {k: pc.sum(t[k]).as_py() for k in keys}
