"""The spark-submit entrypoint: ``job.py --make-zip`` packages the engine
so that it imports from the zip alone (``--py-files engine.zip``)."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_make_zip_packages_an_importable_engine(tmp_path):
    zip_path = str(tmp_path / "engine.zip")
    subprocess.run([sys.executable, os.path.join(ROOT, "job.py"), "--make-zip", zip_path],
                   check=True, capture_output=True, cwd=tmp_path)
    # a fresh interpreter that sees the package only through the zip
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = zip_path
    probe = ("import ocr_spark.plans.pipeline as p, ocr_spark.pyworker as w; "
             "print(p.__file__); print(w.__file__)")
    out = subprocess.run([sys.executable, "-c", probe], check=True, capture_output=True,
                         text=True, cwd=tmp_path, env=env).stdout.split()
    assert out == [os.path.join(zip_path, "ocr_spark", "plans", "pipeline.py"),
                   os.path.join(zip_path, "ocr_spark", "pyworker.py")]


def test_spark_submit_conf_sets_the_exchange_width(tmp_path):
    """A deployment sizes the job's html exchange with ``--conf
    spark.sql.shuffle.partitions=N``: ``get_spark`` must keep it."""
    import pyspark

    script = tmp_path / "probe.py"
    script.write_text(f"import sys\nsys.path.insert(0, {ROOT!r})\n"
                      "from ocr_spark.session import get_spark\n"
                      "spark = get_spark('probe')\n"
                      "print('partitions', spark.conf.get('spark.sql.shuffle.partitions'))\n"
                      "spark.stop()\n")
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    out = subprocess.run([submit, "--master", "local[1]",
                          "--conf", "spark.sql.shuffle.partitions=5", str(script)],
                         check=True, capture_output=True, text=True, cwd=tmp_path,
                         timeout=300).stdout
    assert "partitions 5" in out.splitlines()
