"""Partitioned sink under SIGKILL: every kill point recovers on resume.

Each case runs ``extract_and_write`` in a child process (its own session,
so its own JVM) with ``DataFrameWriter.parquet`` patched to SIGKILL the
child's whole process group at a chosen write, either at once or on a
timer. The test session then reruns the job with ``resume=True`` and
checks that the data rows hash like a clean run's, the lineage audit is
empty, no ``.spark-staging-*`` directory is left, and a third call has
nothing left to do. A timer kill lands at a different point on a loaded
host; that changes what a case covers, not what must hold after the
rerun.

Run as a script, this file is the child:
``python tests/test_sink_kill.py OUT SHAPE TREE NTH DELAY RESUME``.
"""

from __future__ import annotations

import glob
import hashlib
import os
import signal
import subprocess
import sys

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from ocr_spark.sinks.partitioned import extract_and_write, verify_lineage
from ocr_spark.sources.pages import pages_from_documents
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pages(spark, shape):
    """The job input: ``full`` (the test documents as pages), ``two_chunk``
    (warc_ts shifted per url over 45 dates, so 30 + 15 commits) or
    ``one_page`` (one page of the first date)."""
    pages = pages_from_documents(spark, SF_DIR)
    if shape == "two_chunk":
        day = (F.row_number().over(Window.orderBy("url")) - 1) % 45
        return pages.withColumn(
            "warc_ts", F.timestamp_seconds(F.lit(1704110400) + day * 86400)
        )
    if shape == "one_page":
        first = pages.agg(F.min(F.to_date("warc_ts"))).first()[0]
        return pages.filter(F.to_date("warc_ts") == F.lit(first)).orderBy("url").limit(1)
    return pages


def _child(out, shape, tree, nth, delay, resume):
    """Kill the process group at the ``nth`` write to ``out/tree``,
    ``delay`` seconds after it starts (0 = before it starts). A timer that
    would land after the job returns kills at the return instead."""
    import threading

    from pyspark.sql import DataFrameWriter

    from ocr_spark.session import get_spark

    def kill():
        os.killpg(0, signal.SIGKILL)

    spark = get_spark("sink_kill_child", master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    write = DataFrameWriter.parquet
    seen = []

    def parquet(self, path, *args, **kwargs):
        if path == f"{out}/{tree}":
            seen.append(path)
            if len(seen) == int(nth):
                if float(delay) == 0:
                    kill()
                threading.Timer(float(delay), kill).start()
        return write(self, path, *args, **kwargs)

    DataFrameWriter.parquet = parquet
    extract_and_write(spark, _pages(spark, shape), out, resume=resume == "resume")
    kill()


def _run_killed(tmp_path, out, shape, tree, nth, delay, resume=True):
    env = {
        k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY")
    }
    env["PYTHONPATH"] = REPO
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "child-local")
    args = [out, shape, tree, str(nth), str(delay), "resume" if resume else "rewrite"]
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        env=env,
        start_new_session=True,
        capture_output=True,
        timeout=300,
    )
    assert proc.returncode == -signal.SIGKILL, proc.stderr.decode()[-2000:]


def _data_sha(spark, out):
    data = spark.read.parquet(f"{out}/data")
    cols = sorted(data.columns)
    rows = sorted(repr(tuple(r[c] for c in cols)) for r in data.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.fixture(scope="module")
def inputs(spark):
    return {
        shape: _pages(spark, shape).cache() for shape in ("full", "two_chunk")
    }


@pytest.fixture(scope="module")
def clean_sha(spark, inputs, tmp_path_factory):
    shas = {}
    for shape, pages in inputs.items():
        out = str(tmp_path_factory.mktemp(f"clean_{shape}") / "out")
        extract_and_write(spark, pages, out)
        shas[shape] = _data_sha(spark, out)
    return shas


def _staging_left(out):
    """The ``.spark-staging-*`` directories left under ``data/`` or
    ``_lineage/``."""
    return glob.glob(f"{out}/*/.spark-staging-*")


def _dates(pages):
    return sorted(r.d for r in pages.select(F.to_date("warc_ts").alias("d")).distinct().collect())


# (input, written tree, nth write to it, delay in s, dates the rerun must
# process: "all", "last15", or None when a timer decides)
CASES = {
    "before_data": ("full", "data", 1, 0, "all"),
    "during_data": ("full", "data", 1, 2.0, None),
    "before_lineage": ("full", "_lineage", 1, 0, "all"),
    "during_lineage": ("full", "_lineage", 1, 0.3, None),
    "two_chunk_before_second_data": ("two_chunk", "data", 2, 0, "last15"),
}


@pytest.mark.parametrize("case", list(CASES))
def test_first_run_killed_then_resumed(spark, inputs, clean_sha, tmp_path, case):
    shape, tree, nth, delay, expect = CASES[case]
    pages = inputs[shape]
    out = str(tmp_path / "out")
    _run_killed(tmp_path, out, shape, tree, nth, delay)

    r = extract_and_write(spark, pages, out)
    dates = _dates(pages)
    if expect is not None:
        assert r["dates_processed"] == (dates if expect == "all" else dates[30:])
    assert _data_sha(spark, out) == clean_sha[shape]
    assert verify_lineage(spark, out).count() == 0
    assert not _staging_left(out)
    assert not extract_and_write(spark, pages, out)["dates_processed"]


def test_killed_rewrite_leaves_the_date_pending(spark, inputs, clean_sha, tmp_path):
    """A committed date rewritten with ``resume=False`` from one page and
    killed after the clear, before its data write, is pending again: the
    rerun re-extracts it in full instead of keeping it committed but
    empty."""
    pages = inputs["full"]
    out = str(tmp_path / "out")
    extract_and_write(spark, pages, out)
    _run_killed(tmp_path, out, "one_page", "data", 1, 0, resume=False)

    r = extract_and_write(spark, pages, out)
    assert r["dates_processed"] == _dates(pages)[:1]
    assert spark.read.parquet(f"{out}/data").count() == pages.count()
    assert _data_sha(spark, out) == clean_sha["full"]
    assert verify_lineage(spark, out).count() == 0
    assert not _staging_left(out)
    assert not extract_and_write(spark, pages, out)["dates_processed"]


if __name__ == "__main__":
    _child(*sys.argv[1:])
