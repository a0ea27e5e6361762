"""North-rule deployment shape: the crawl runs via
``spark-submit --py-files dist/jsonextract_spark.zip`` with the engine
imported ONLY from the shipped zip (BASELINE.json: "runs via
spark-submit --py-files ... at N and 4N executors"). The test builds
the zip, launches spark-submit from a directory that does NOT contain
the package, and checks a committed round."""

import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.slow


def test_spark_submit_pyfiles_crawl(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    subprocess.run(["bash", os.path.join(REPO, "scripts",
                                         "make_pyfiles.sh")],
                   check=True, capture_output=True)
    zip_path = os.path.join(REPO, "dist", "jsonextract_spark.zip")
    assert os.path.exists(zip_path)

    wh = str(tmp_path / "wh_submit")
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH",)}       # zip must be the source
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zip_path,
         os.path.join(REPO, "scripts", "crawl_job.py"),
         "--rounds", "1", "--warehouse", wh, "--seeds", "10"],
        cwd=str(tmp_path),                    # NOT the repo
        env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "'round': 1" in out.stdout

    from jsonextract_spark.crawl.tables import Warehouse

    ledger = Warehouse(wh).ledger()
    committed = [r["round"] for r in ledger["rounds"]
                 if r["status"] == "committed"]
    assert committed == [0, 1]
