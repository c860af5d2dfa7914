"""Partitioned sink: layout, salting, lineage, checkpoint resume."""

from __future__ import annotations

import glob

import pyspark.sql.functions as F
import pytest

from ocr_spark.config import HOST_HASH_BUCKETS, HOT_HOST_SALT
from ocr_spark.sinks.partitioned import (
    extract_and_write,
    lineage_metrics,
    with_partition_keys,
)
from ocr_spark.sources.pages import expected_from_documents, pages_from_documents

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages(spark):
    return pages_from_documents(spark, SF_DIR).cache()


def test_partition_keys(spark, pages):
    from ocr_spark.operators.extract_html import extract_pages

    keyed = with_partition_keys(extract_pages(pages))
    row = keyed.select(
        F.min("host_bucket").alias("lo_b"),
        F.max("host_bucket").alias("hi_b"),
        F.min("salt").alias("lo_s"),
        F.max("salt").alias("hi_s"),
        F.countDistinct("crawl_date").alias("n_dates"),
    ).collect()[0]
    assert 0 <= row.lo_b and row.hi_b < HOST_HASH_BUCKETS
    assert 0 <= row.lo_s and row.hi_s < HOT_HOST_SALT
    assert row.n_dates >= 3  # warc_ts_for_doc spreads over >=3 crawl days

    # the hot host (30% of docs) must spread over multiple salt values —
    # the whole point of the salt column
    hot = keyed.filter(F.col("url").contains("hot.example.com"))
    assert hot.select("salt").distinct().count() > 1


def test_write_resume_idempotent(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    r1 = extract_and_write(spark, pages, out)
    assert len(r1["dates_processed"]) >= 3 and not r1["dates_skipped"]

    # physical layout: hive-style date/bucket dirs
    assert glob.glob(f"{out}/data/crawl_date=*/host_bucket=*/part-*.parquet")

    # full rerun: everything already committed → nothing reprocessed
    r2 = extract_and_write(spark, pages, out)
    assert not r2["dates_processed"]
    assert sorted(r2["dates_skipped"]) == sorted(r1["dates_processed"])

    # output is complete and byte-correct exactly once
    got = spark.read.parquet(f"{out}/data")
    exp = expected_from_documents(spark, SF_DIR)
    n = pages.count()
    assert got.count() == n
    joined = got.join(exp, "url")
    assert (
        joined.filter(F.col("extracted_text") == F.col("expected_text")).count()
        == n
    )


def test_partial_resume(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    dates = sorted(
        r.d
        for r in pages.select(F.to_date("warc_ts").alias("d")).distinct().collect()
    )
    # simulate a crash after the first date committed: run only date[0]
    first_day = pages.filter(F.to_date("warc_ts") == F.lit(dates[0]))
    extract_and_write(spark, first_day, out)

    # resume with the FULL input: only pending dates run; result complete
    r = extract_and_write(spark, pages, out)
    assert sorted(r["dates_processed"]) == sorted(dates[1:])
    assert spark.read.parquet(f"{out}/data").count() == pages.count()


def test_lineage_matches_data(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    extract_and_write(spark, pages, out)
    lin = spark.read.parquet(f"{out}/_lineage")
    data = spark.read.parquet(f"{out}/data")
    # lineage totals must equal independently recomputed totals
    recomputed = lineage_metrics(data)
    a = lin.agg(
        F.sum("n_rows").alias("r"), F.sum("n_bytes").alias("b"),
        F.bit_xor("checksum").alias("c"),
    ).collect()[0]
    b = recomputed.agg(
        F.sum("n_rows").alias("r"), F.sum("n_bytes").alias("b"),
        F.bit_xor("checksum").alias("c"),
    ).collect()[0]
    assert (a.r, a.b, a.c) == (b.r, b.b, b.c)
    assert a.r == pages.count()


def test_verify_lineage_clean_and_detects_tamper(spark, pages, tmp_path):
    from ocr_spark.sinks.partitioned import verify_lineage

    out = str(tmp_path / "out")
    extract_and_write(spark, pages, out)
    assert verify_lineage(spark, out).count() == 0

    # tamper: delete one data partition directory → audit must flag it
    import glob as _glob
    import shutil

    victim = _glob.glob(f"{out}/data/crawl_date=*/host_bucket=*")[0]
    shutil.rmtree(victim)
    assert verify_lineage(spark, out).count() >= 1


def test_batched_write_equals_chunked_write(spark, pages, tmp_path):
    """One all-dates dynamic-overwrite write and a max_dates_per_write=1
    per-date loop must produce identical data, lineage totals, and
    manifest date sets."""
    out_a = str(tmp_path / "batched")
    out_b = str(tmp_path / "chunked")
    ra = extract_and_write(spark, pages, out_a)
    rb = extract_and_write(spark, pages, out_b, max_dates_per_write=1)
    assert ra["dates_processed"] == rb["dates_processed"]
    da = spark.read.parquet(f"{out_a}/data")
    db = spark.read.parquet(f"{out_b}/data")
    cols = ["crawl_date", "host_bucket", "n_rows", "n_bytes", "checksum"]
    la = lineage_metrics(da).select(cols)
    lb = lineage_metrics(db).select(cols)
    assert la.exceptAll(lb).count() == 0 and lb.exceptAll(la).count() == 0
    ma = {r.crawl_date for r in spark.read.parquet(f"{out_a}/_manifest").collect()}
    mb = {r.crawl_date for r in spark.read.parquet(f"{out_b}/_manifest").collect()}
    assert ma == mb
