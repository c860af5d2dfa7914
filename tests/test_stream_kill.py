"""Streaming write under SIGKILL: the restarted stream is exactly-once.

The test writes the noisy-font image pages as 16 parquet files, so
``read_pages_stream`` (8 files per micro-batch) reads them in two
batches. A child process (its own session, so its own JVM) streams
``extract_full`` through ``stream_to_parquet``. A watcher thread in the
child SIGKILLs the child's whole process group as soon as
``out/_spark_metadata/0`` exists: batch 0 is in the file sink's log,
and its offset commit (``ckpt/commits/0``) usually is not yet, so the
restart replays batch 0. The test session then restarts the stream and
checks one row per url, the batch ``extract_full`` text, and that a
third run adds no rows. A kill that lands after the offset commit or
during batch 1 changes what the run covers, not what must hold after
the restart.

Run as a script, this file is the child:
``python tests/test_stream_kill.py INPUT OUT CKPT``.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys

import pyspark.sql.functions as F

from ocr_spark.operators.pipeline import extract_full
from ocr_spark.sources.pages import pages_with_noisy_font_images_from_documents
from ocr_spark.streaming.extract_stream import read_pages_stream, stream_to_parquet
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _stream(spark, inp, out, ckpt):
    pages = read_pages_stream(spark, inp)
    return stream_to_parquet(extract_full(pages, recognizer="font"), out, ckpt)


def _child(inp, out, ckpt):
    """Kill the process group once batch 0 is in the sink's log; a stream
    that finishes first is killed at the end."""
    import threading
    import time

    from ocr_spark.session import get_spark

    def watch():
        while not os.path.exists(f"{out}/_spark_metadata/0"):
            time.sleep(0.001)
        os.killpg(0, signal.SIGKILL)

    threading.Thread(target=watch, daemon=True).start()
    spark = get_spark("stream_kill_child", master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    _stream(spark, inp, out, ckpt).awaitTermination()
    os.killpg(0, signal.SIGKILL)


def test_killed_stream_restarts_exactly_once(spark, tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    pages_with_noisy_font_images_from_documents(spark, SF_DIR).repartition(
        16
    ).write.parquet(inp)

    env = {
        k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY")
    }
    env["PYTHONPATH"] = REPO
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "child-local")
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), inp, out, ckpt],
        env=env,
        start_new_session=True,
        capture_output=True,
        timeout=300,
    )
    assert proc.returncode == -signal.SIGKILL, proc.stderr.decode()[-2000:]
    assert os.path.exists(f"{out}/_spark_metadata/0")

    _stream(spark, inp, out, ckpt).awaitTermination(300)
    got = spark.read.parquet(out)
    batch = extract_full(spark.read.parquet(inp), recognizer="font")
    n = batch.count()
    assert got.count() == got.select("url").distinct().count() == n
    same = (
        got.withColumnRenamed("extracted_text", "s_text")
        .join(batch, "url")
        .filter(F.col("s_text") == F.col("extracted_text"))
        .count()
    )
    assert same == n

    _stream(spark, inp, out, ckpt).awaitTermination(300)
    assert spark.read.parquet(out).count() == n


if __name__ == "__main__":
    _child(*sys.argv[1:])
