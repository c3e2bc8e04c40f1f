import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ocr_spark.session import get_spark

    s = get_spark("ocr_spark_tests", cores=8)
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_parquet(tmp_path_factory):
    """Seeded synthetic pages corpus as parquet (no Spark needed to build)."""
    from ocr_spark.data.synth import write_pages_parquet

    path = str(tmp_path_factory.mktemp("corpus") / "pages.parquet")
    write_pages_parquet(path, n=400, seed=42)
    return path


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
