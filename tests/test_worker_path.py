"""Python workers of a local master import the package from whatever
directory the session was started in: ``get_spark`` and
``tune_existing`` put the package's parent directory first on the
workers' ``PYTHONPATH``."""

import os
import subprocess
import sys

from hhek2sqlite_spark.session import tune_existing

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_the_package_outside_the_repo_root(sf_dir, tmp_path):
    # image_pixel_stats runs an Arrow kernel (mapInPandas) that imports
    # the package inside the worker
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from hhek2sqlite_spark.plans import QUERIES
from hhek2sqlite_spark.session import get_spark
spark = get_spark("worker-path")
spark.sparkContext.setLogLevel("ERROR")
print("rows", QUERIES["image_pixel_stats"](spark, {sf_dir!r}).count())
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "ModuleNotFoundError" not in proc.stderr, proc.stderr[-3000:]
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "rows 500" in proc.stdout.splitlines()


def test_the_worker_path_is_prepended_once(spark):
    for _ in range(2):
        tune_existing(spark)
    paths = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert paths[0] == REPO
    assert paths.count(REPO) == 1
