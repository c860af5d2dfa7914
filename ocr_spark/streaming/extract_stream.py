"""Structured Streaming surfaces: incremental extraction + windowed aggs.

The reference is batch-only (its generator loops forever but has no
event-time/state semantics — ``/root/reference/DataPreprocess/
DataGenerator.py:399``, SURVEY §2.9). The north rule asks for *checkpoint
resume*; ``ocr_spark.sinks`` provides the date-granular variant (committed
lineage dates), and this module provides the engine-managed one:
``Trigger.AvailableNow`` over the input table with a
``checkpointLocation``. AvailableNow drains everything
available then stops — rerunning after a crash resumes from the
checkpoint's source offsets, giving exactly-once file-sink semantics with
zero custom bookkeeping. At 10^12 documents the same job string runs as a
continuous incremental crawl-ingest by swapping the trigger.

``stream_event_counts`` is the stateful-aggregation surface: event-time
tumbling windows + watermark for late data — the standard telemetry rollup
shape over the ``events`` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ocr_spark.sources.pages import PAGES_SCHEMA


def _read_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of page parquet files, 8 files per micro-batch."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def _write_partitioned(
    extracted: DataFrame, out_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Append extracted rows as parquet partitioned like the batch sink
    (``crawl_date``/``host_bucket``), draining all input (AvailableNow)."""
    from ocr_spark.sinks.partitioned import with_partition_keys

    return (
        with_partition_keys(extracted)
        .drop("salt")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("crawl_date", "host_bucket")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incremental extraction: parquet page files → extracted parquet.

    File-source streaming (each new file = one micro-batch unit); the fused
    mapInPandas extraction stage is identical to the batch path — one code
    path, two execution modes.
    """
    from ocr_spark.operators.extract_html import extract_pages

    return _write_partitioned(
        extract_pages(_read_pages(spark, input_dir)), out_dir, checkpoint_dir
    )


def stream_extract_full(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    recognizer: str = "font",
) -> StreamingQuery:
    """Incremental FUSED extraction (html blocks + embedded-image OCR) —
    the streaming twin of ``operators.pipeline.extract_full``, one code
    path for both modes.

    Uses ``foreachBatch`` so each micro-batch runs the batch operator
    verbatim: the fused pipeline is a single map stage that assembles
    each page inside the Python worker (one input row → one output row),
    so it holds no cross-batch state and needs no watermark.
    Restart resumes from the checkpoint's source offsets. The append is
    at-least-once per micro-batch: ``write_batch`` ignores ``batch_id``
    and writes no manifest or lineage, so a batch replayed after a crash
    between the append and the offset commit is appended again (ROADMAP
    item 8).
    """
    from ocr_spark.operators.pipeline import extract_full

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        extract_full(batch_df, recognizer=recognizer).write.mode(
            "append"
        ).parquet(out_dir)

    return (
        _read_pages(spark, input_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_extract(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "24 hours",
) -> StreamingQuery:
    """Incremental extraction with streaming URL dedup.

    ``dropDuplicatesWithinWatermark`` on the canonical url: re-crawls of a
    page arriving within the watermark window are emitted once; state is
    bounded by the watermark (the crawl-frequency knob — at Common Crawl
    cadence a 24h window spans a segment's re-fetches). Dedup runs BEFORE
    extraction so duplicate pages never cost Python kernel time.
    """
    from ocr_spark.functions.url import canonical_url
    from ocr_spark.operators.extract_html import extract_pages

    deduped = (
        _read_pages(spark, input_dir)
        .withColumn("_curl", canonical_url("url"))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["_curl"])
        .drop("_curl")
    )
    return _write_partitioned(extract_pages(deduped), out_dir, checkpoint_dir)


def stream_event_counts(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Watermarked tumbling-window rollup over an events stream.

    Late rows beyond the watermark are dropped deterministically; state
    size is bounded by (watermark / window) × group cardinality — the knob
    that keeps a 10^12-event stream's state in memory.
    """
    events = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(input_dir)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_extract_warc(
    spark: SparkSession,
    warc_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incremental WARC ingestion: newly-landed ``.warc(.gz)`` archives →
    parsed pages → fused extraction → partitioned parquet, exactly-once
    via the checkpoint. The continuous-crawl front door: a production
    deployment points this at the bucket where crawl segments land and
    swaps the trigger; the parse/extract stages are byte-identical to the
    batch ``read_warc`` path (shared ``_warc_pages_fn``)."""
    from ocr_spark.operators.extract_html import extract_pages
    from ocr_spark.sources.warc import read_warc_stream

    pages = read_warc_stream(spark, warc_dir)
    return _write_partitioned(extract_pages(pages), out_dir, checkpoint_dir)
