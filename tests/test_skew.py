"""Hostile skew synthetics (round-4 verdict next#6): one host owning half
the corpus, one page with 10^5 DOM nodes, and an AQE skew-join
demonstration — the shapes that kill naive 100-TB runs.

The salt histogram is the load-bearing check: without the salt the hot
host's entire write serializes through ONE task (its rows share
(crawl_date, host_bucket)). The sink sizes the salt from the input
(``write_salts``): half the rows in one directory split over 2 tasks of
a 4-task write and over HOT_HOST_SALT tasks of a 64-task one, while
still landing in one directory partition.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from ocr_spark.config import HOT_HOST_SALT, MAX_NODES_PER_PAGE
from ocr_spark.sources.pages import PAGES_SCHEMA

HOT = "hot.example.com"


def _hostile_pages(spark, n=3000, hot_frac=0.5, n_cold_hosts=37):
    """Synthetic crawl: ``hot_frac`` of all pages on ONE host and one
    crawl date (worst case: no date spreading either)."""
    rows = []
    ts_hot = datetime.datetime(2024, 3, 1, 12, 0, 0)
    for i in range(n):
        hot = i < n * hot_frac
        host = HOT if hot else f"c{i % n_cold_hosts}.example.org"
        ts = ts_hot if hot else ts_hot + datetime.timedelta(days=i % 5)
        body = (
            f"<body><main><article><h1>Doc {i}</h1>"
            f"<p>Content paragraph number {i} long enough to clear the "
            f"extraction threshold on every scoring path.</p>"
            f"</article></main></body>"
        )
        rows.append(
            (f"https://{host}/p/{i}", ts, bytearray(body.encode()), None, "en")
        )
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def test_hot_host_salt_splits_writer_tasks(spark):
    """The write exchange's salt actually splits the hot host: measured
    task-size histogram over an emulated 64-task exchange, salted as the
    sink sizes it for 64 tasks."""
    from ocr_spark.functions import url_host_bucket
    from ocr_spark.operators.extract_html import extract_pages
    from ocr_spark.sinks.partitioned import with_partition_keys, write_salts

    pages = _hostile_pages(spark)
    dir_rows = pages.groupBy(F.to_date("warc_ts"), url_host_bucket("url")).count()
    salts = write_salts([r["count"] for r in dir_rows.collect()], 64)
    keyed = with_partition_keys(extract_pages(pages), salts)
    # hot rows use every salt value (the precondition for any split)
    hot = keyed.filter(F.col("url").startswith(f"https://{HOT}"))
    n_salts = hot.select("salt").distinct().count()
    assert n_salts == HOT_HOST_SALT

    # emulate a wide cluster exchange (the sink's own repartition uses
    # the default parallelism; tests run at 4)
    hist = (
        keyed.repartition(64, "crawl_date", "host_bucket", "salt")
        .withColumn("pid", F.spark_partition_id())
        .filter(F.col("url").startswith(f"https://{HOT}"))
        .groupBy("pid")
        .count()
        .collect()
    )
    total_hot = sum(r["count"] for r in hist)
    assert total_hot == 1500
    # the hot host spreads over ~HOT_HOST_SALT tasks (hash collisions may
    # merge a couple), and no task carries more than ~2x the fair share —
    # without the salt this histogram is a single 1500-row task
    assert len(hist) >= HOT_HOST_SALT - 2, hist
    fair = total_hot / HOT_HOST_SALT
    assert max(r["count"] for r in hist) <= 2.1 * fair, hist


def test_mega_page_node_cap_bounds_memory():
    """A 10^5-node page tokenizes to exactly MAX_NODES_PER_PAGE records —
    the per-document bound that keeps one adversarial page from blowing
    up a task — and still extracts without error."""
    from ocr_spark.kernels.html import extract_main_text, tokenize_html

    n = 100_000
    assert n > MAX_NODES_PER_PAGE
    html = (
        "<body><main><article>"
        + "".join(
            f"<p>Paragraph {i} with enough text to be a real node.</p>"
            for i in range(n)
        )
        + "</article></main></body>"
    ).encode()
    records = tokenize_html(html)
    assert len(records["node_id"]) == MAX_NODES_PER_PAGE
    text, spans, n_blocks, _ = extract_main_text(html)
    assert 0 < n_blocks <= MAX_NODES_PER_PAGE
    assert text.startswith("Paragraph 0")


def test_hostile_corpus_through_extract_and_write(spark, tmp_path):
    """The full production sink survives the hostile corpus: all dates
    commit, lineage covers every partition, and the hot host lands in
    exactly one (crawl_date, host_bucket) directory (salt changes task
    placement, never layout)."""
    from ocr_spark.sinks.partitioned import committed_dates, extract_and_write

    out = str(tmp_path / "skew_out")
    pages = _hostile_pages(spark, n=1200)
    r = extract_and_write(spark, pages, out)
    assert r["dates_processed"], r
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == 1200
    hot_dirs = (
        data.filter(F.col("url").startswith(f"https://{HOT}"))
        .select("crawl_date", "host_bucket")
        .distinct()
        .count()
    )
    assert hot_dirs == 1
    assert committed_dates(spark, out) == set(r["dates_processed"])


def test_aqe_skew_join_fires_on_hot_key(spark):
    """AQE splits the skewed join partition where the engine relies on it
    (joins, as opposed to the hand-salted write exchange): executed plan
    carries an AQEShuffleRead marked skew=true."""
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "32KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        # force a sort-merge join: broadcast would hide the skew entirely
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

        left = spark.range(60_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(HOT))
            .otherwise(F.concat(F.lit("c"), (F.col("id") % 37).cast("string")))
            .alias("host"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias(
                "payload"
            ),
        )
        right = spark.createDataFrame(
            [(HOT, 1.0)] + [(f"c{i}", 0.1) for i in range(37)],
            "host string, weight double",
        )
        joined = left.join(right, "host")
        # materialize THIS plan (count() would execute a different tree
        # and leave joined's own adaptive plan non-final)
        assert len(joined.collect()) == 60_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
