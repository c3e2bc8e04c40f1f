"""Replicates the driver's correctness gate: every ``queries()`` entry
has an ``oracle_sql()`` twin and must match DuckDB on row count, column
names, and (order-insensitively) values at sf0.01."""

import math
import os
import tempfile

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.01")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def canon(v):
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # normalize -0.0 / int-valued floats; queries pre-round, so 1e-9
        # quantization only collapses representation noise
        q = round(v, 9)
        if q == int(q):
            return str(int(q))
        return repr(q)
    if isinstance(v, int):
        return str(v)
    return str(v)


def spark_rows(spark, name, sf_dir=SF_DIR):
    df = entry_mod.queries()[name](spark, sf_dir)
    cols = sorted(df.columns)
    rows = [tuple(canon(r[c]) for c in cols) for r in df.collect()]
    return cols, sorted(rows)


def duck_rows(ddb, name):
    sql = entry_mod.oracle_sql()[name]
    cur = ddb.execute(sql)
    colnames = [d[0] for d in cur.description]
    data = cur.fetchall()
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    cols = [colnames[i] for i in order]
    rows = [tuple(canon(row[i]) for i in order) for row in data]
    return cols, sorted(rows)


ORACLE_QUERIES = sorted(entry_mod.oracle_sql().keys())


def test_every_query_key_is_known():
    assert set(entry_mod.oracle_sql()) == set(entry_mod.queries())


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_parity(spark, ddb, name):
    s_cols, s_rows = spark_rows(spark, name)
    d_cols, d_rows = duck_rows(ddb, name)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    mism = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:5]
    assert not mism, f"{name}: first value mismatches: {mism}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_id", "text"}


def test_ocr_decode_null_and_empty_text_plant_na(spark, tmp_path):
    """A NULL or empty document plants 'NA' on both sides.  A NULL text
    must not reach render_text_png as the string 'None', whose
    off-alphabet letters would fail the whole query."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": pa.array([None, "", "Ship it now please"], pa.string()),
    }), str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet')")
    s_cols, s_rows = spark_rows(spark, "ocr_decode", str(tmp_path))
    assert (s_cols, s_rows) == duck_rows(con, "ocr_decode")
    assert s_cols == ["doc_id", "n_glyphs", "status", "text"]
    assert s_rows == [("1", "2", "ok", "NA"), ("2", "2", "ok", "NA"),
                      ("3", "15", "ok", "SHIP IT NOW PLEASE")]


def test_stream_rows_leave_no_temp_dirs(spark):
    """The bounded-stream rows remove their source, sink and checkpoint
    tree before returning; the rows they return stay readable."""
    def stream_dirs():
        return {p for p in os.listdir(tempfile.gettempdir())
                if p.startswith("ocr_spark_stream_")}

    before = stream_dirs()
    for name in ("stream_extract_parity", "stream_sessionize"):
        assert entry_mod.queries()[name](spark, entry_mod.SF0001).count() > 0
    assert stream_dirs() == before
