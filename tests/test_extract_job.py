"""spark-submit smoke test of the production job: first run, resume and
``--no-resume``, launched the way a cluster launches it (``--py-files``)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which(
    "spark-submit", path=os.path.join(os.environ.get("SPARK_HOME", ""), "bin")
) or shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="no spark-submit")
def test_extract_job_runs_resumes_and_reruns(tmp_path):
    pkg = shutil.make_archive(
        str(tmp_path / "ocr_spark"), "zip", root_dir=REPO, base_dir="ocr_spark"
    )
    out = str(tmp_path / "out")
    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_DRIVER_MEMORY="1g",
    )
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYTHONPATH", None)

    def job(*flags):
        run = subprocess.run(
            [SPARK_SUBMIT, "--master", "local[2]", "--driver-memory", "1g",
             "--py-files", pkg, os.path.join(REPO, "ocr_spark/jobs/extract_job.py"),
             "--input", SF_DIR, "--output", out, *flags],
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert run.returncode == 0, run.stderr[-2000:]
        lines = [ln for ln in run.stdout.splitlines() if ln.startswith("{")]
        assert len(lines) == 1, run.stdout[-2000:]
        return json.loads(lines[0])

    first = job()
    assert first["rows_out"] == 500
    assert len(first["dates_processed"]) == 7 and not first["dates_skipped"]

    again = job()
    assert not again["dates_processed"]
    assert sorted(again["dates_skipped"]) == sorted(first["dates_processed"])

    forced = job("--no-resume")
    assert sorted(forced["dates_processed"]) == sorted(first["dates_processed"])
    assert forced["rows_out"] == 500
