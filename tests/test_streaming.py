"""Structured Streaming: AvailableNow extraction + watermarked rollup."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F

from ocr_spark.operators.extract_html import extract_pages
from ocr_spark.sources.pages import expected_from_documents, pages_from_documents
from ocr_spark.streaming.extract_stream import (
    drop_recrawls,
    read_pages_stream,
    stream_event_counts,
    stream_to_parquet,
)

SF_DIR = "/root/testdata/sf0.001"


def test_stream_extract_and_checkpoint_resume(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = pages_from_documents(spark, SF_DIR)
    pages.write.parquet(inp)

    def start():
        return stream_to_parquet(
            extract_pages(read_pages_stream(spark, inp)), out, ckpt
        )

    q = start()
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    n = pages.count()
    assert got.count() == n

    # re-trigger with no new files: checkpoint prevents reprocessing
    q2 = start()
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == n

    # byte-identical contract holds through the streaming path too
    exp = expected_from_documents(spark, SF_DIR)
    ok = (
        got.join(exp, "url")
        .filter(F.col("extracted_text") == F.col("expected_text"))
        .count()
    )
    assert ok == n


def test_stream_event_counts_matches_batch(spark, tmp_path):
    inp = str(tmp_path / "ev")
    out = str(tmp_path / "agg")
    ckpt = str(tmp_path / "ckpt")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.parquet(inp)

    q = stream_event_counts(spark, inp, out, ckpt)
    q.awaitTermination(300)
    got = spark.read.parquet(out)

    batch = (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    # watermark may hold back the latest windows in a single AvailableNow
    # pass; every emitted window must match the batch rollup exactly
    assert got.count() > 0
    emitted = got.select("window_start", "event_type", "n_events", "sum_value")
    exact = emitted.join(
        batch, ["window_start", "event_type", "n_events", "sum_value"]
    )
    assert exact.count() == got.count()


def test_stream_dedup_extract(spark, tmp_path):
    """Re-crawled duplicate urls within the watermark are extracted once."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = pages_from_documents(spark, SF_DIR).limit(60)
    # duplicate every page under a tracking-param url variant
    dup = pages.withColumn("url", F.concat("url", F.lit("?utm_source=feed")))
    pages.unionByName(dup).write.parquet(inp)

    q = stream_to_parquet(
        extract_pages(drop_recrawls(read_pages_stream(spark, inp))), out, ckpt
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    assert got.count() == 60  # one row per canonical url, not 120
    assert got.select("url").distinct().count() == 60


def test_stream_extract_full_matches_batch(spark, tmp_path):
    """The fused extraction streamed through the file sink must equal
    batch extract_full exactly — including the noisy font-rendered
    embedded-image recognition — and a re-trigger with no new files must
    not duplicate output."""
    from ocr_spark.operators.pipeline import extract_full
    from ocr_spark.sources.pages import (
        pages_with_noisy_font_images_from_documents,
    )

    inp = str(tmp_path / "in_full")
    out = str(tmp_path / "out_full")
    ckpt = str(tmp_path / "ckpt_full")
    pages = pages_with_noisy_font_images_from_documents(spark, SF_DIR)
    pages.write.parquet(inp)

    def start():
        return stream_to_parquet(
            extract_full(read_pages_stream(spark, inp), recognizer="font"),
            out,
            ckpt,
        )

    q = start()
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    batch = extract_full(spark.read.parquet(inp), recognizer="font")
    n = batch.count()
    assert got.count() == n
    same = (
        got.withColumnRenamed("extracted_text", "s_text")
        .join(batch, "url")
        .filter(F.col("s_text") == F.col("extracted_text"))
        .count()
    )
    assert same == n

    q2 = start()
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == n
