"""get_spark is the one session factory: under spark-submit it leaves the
master to the launcher instead of overriding ``--master``."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which(
    "spark-submit", path=os.path.join(os.environ.get("SPARK_HOME", ""), "bin")
) or shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="no spark-submit")
def test_get_spark_keeps_the_launcher_master(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "from ocr_spark.session import get_spark\n"
        "spark = get_spark('master_probe')\n"
        "print('MASTER=' + spark.sparkContext.master)\n"
        "spark.stop()\n"
    )
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # the plain-python fallbacks must not override --master either
        SPARK_GRAFT_MASTER="local[3]",
        SPARK_DRIVER_MEMORY="512m",
    )
    env.pop("PYSPARK_GATEWAY_PORT", None)
    out = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]", "--driver-memory", "512m",
         str(probe)],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    masters = [ln for ln in out.stdout.splitlines() if ln.startswith("MASTER=")]
    assert masters == ["MASTER=local[2]"], out.stdout[-2000:]
