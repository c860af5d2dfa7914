"""Partitioned sink: layout, salting, lineage, checkpoint resume."""

from __future__ import annotations

import glob
import os
import shutil

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from ocr_spark.config import HOST_HASH_BUCKETS, HOT_HOST_SALT
from ocr_spark.sinks.partitioned import (
    LINEAGE_COLS,
    committed_dates,
    extract_and_write,
    lineage_metrics,
    verify_lineage,
    with_partition_keys,
    write_salts,
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

    # physical layout: hive-style date/bucket dirs. No directory holds
    # more than a writer task's share here, so each is written by one
    # task: one part file per directory
    dirs = glob.glob(f"{out}/data/crawl_date=*/host_bucket=*")
    assert dirs
    assert [len(glob.glob(f"{d}/part-*.parquet")) for d in dirs] == [1] * len(dirs)

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
    out = str(tmp_path / "out")
    extract_and_write(spark, pages, out)
    assert verify_lineage(spark, out).count() == 0

    # tamper: delete one data partition directory → audit must flag it
    import glob as _glob
    import shutil

    victim = _glob.glob(f"{out}/data/crawl_date=*/host_bucket=*")[0]
    shutil.rmtree(victim)
    assert verify_lineage(spark, out).count() >= 1


def test_two_chunk_backfill(spark, pages, tmp_path):
    """45 dates run as two commits (30 + 15): every date lands, every
    url's text is the extractor's, the audit is clean and a rerun is a
    no-op."""
    from ocr_spark.operators.extract_html import extract_pages

    day = (F.row_number().over(Window.orderBy("url")) - 1) % 45
    shifted = pages.withColumn(
        "warc_ts", F.timestamp_seconds(F.lit(1704110400) + day * 86400)
    ).cache()
    out = str(tmp_path / "out")
    r1 = extract_and_write(spark, shifted, out)
    assert len(r1["dates_processed"]) == 45 and not r1["dates_skipped"]
    assert committed_dates(spark, out) == set(r1["dates_processed"])
    lineage = spark.read.parquet(f"{out}/_lineage")
    assert lineage.select("committed_at").distinct().count() == 2

    cols = ["url", "extracted_text"]
    got = spark.read.parquet(f"{out}/data").select(cols)
    exp = extract_pages(shifted).select(cols)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    assert verify_lineage(spark, out).count() == 0

    assert not extract_and_write(spark, shifted, out)["dates_processed"]


@pytest.mark.parametrize("nulls", ["one", "all"])
def test_null_warc_ts_raises_before_any_write(spark, pages, tmp_path, nulls):
    """A page with no warc_ts has no crawl_date to commit under: the sink
    refuses the input instead of crashing mid-sort (one null) or
    committing a None date with zero rows (all null)."""
    first = pages.agg(F.min("url")).first()[0]
    hit = F.col("url") == first if nulls == "one" else F.lit(True)
    bad = pages.withColumn(
        "warc_ts", F.when(hit, F.lit(None).cast("timestamp")).otherwise(F.col("warc_ts"))
    )
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="warc_ts"):
        extract_and_write(spark, bad, out)
    assert not os.path.exists(out)


@pytest.mark.parametrize("leftover", ["none", "_temporary", ".spark-staging-x"])
def test_committed_dates_ignore_uncommitted_lineage(spark, pages, tmp_path, leftover):
    """Only a ``_lineage/crawl_date=D`` directory commits D. A kill during
    the first lineage write leaves ``_temporary/`` or a staged
    ``.spark-staging-*/crawl_date=D/``: no date is committed, so every
    date runs, the run deletes the staged leftover, and the next run
    resumes."""
    out = str(tmp_path / "out")
    if leftover != "none":
        staged = tmp_path / "out" / "_lineage" / leftover / "crawl_date=2024-01-01"
        staged.mkdir(parents=True)
        (staged / "part-00000.parquet").write_bytes(b"PAR1")  # torn write
    assert committed_dates(spark, out) == set()

    dates = pages.select(F.to_date("warc_ts")).distinct().count()
    r = extract_and_write(spark, pages, out)
    assert len(r["dates_processed"]) == dates
    assert committed_dates(spark, out) == set(r["dates_processed"])
    if leftover.startswith(".spark-staging-"):
        assert not (tmp_path / "out" / "_lineage" / leftover).exists()
    assert not extract_and_write(spark, pages, out)["dates_processed"]


def test_session_conf_untouched_and_rewrite_replaces_one_date(spark, pages, tmp_path):
    """The sink sets dynamic partition overwrite per write, never on the
    caller's session; rewriting one date replaces that date's rows and
    leaves every other date as it was."""
    from ocr_spark.operators.extract_html import extract_pages

    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        out = str(tmp_path / "out")
        extract_and_write(spark, pages, out)
        assert spark.conf.get(key) == "static"

        day = pages.agg(F.min(F.to_date("warc_ts"))).first()[0]
        on_day = F.to_date("warc_ts") == F.lit(day)
        before = spark.read.parquet(f"{out}/data").filter(~on_day).collect()
        edited = pages.filter(on_day).withColumn(
            "html", F.regexp_replace("html", "<p>", "<p>rewritten ")
        )
        r = extract_and_write(spark, edited, out, resume=False)
        assert r["dates_processed"] == [day]
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, saved)

    data = spark.read.parquet(f"{out}/data")
    cols = ["url", "extracted_text"]
    got = data.filter(on_day).select(cols)
    exp = extract_pages(edited).select(cols)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    assert got.filter(F.col("extracted_text").contains("rewritten")).count() > 0
    assert sorted(data.filter(~on_day).collect()) == sorted(before)


def test_rewrite_from_smaller_input_leaves_no_stale_rows(spark, pages, tmp_path):
    """A date is replaced wholesale: rewriting it from one of its pages
    leaves exactly that page's row, not the old rows of every host bucket
    the smaller input no longer produces. Lineage comes from the rows the
    job meant to write, so stale rows would also fail the audit."""
    out = str(tmp_path / "out")
    extract_and_write(spark, pages, out)
    day = pages.agg(F.min(F.to_date("warc_ts"))).first()[0]
    on_day = F.to_date("warc_ts") == F.lit(day)
    assert pages.filter(on_day).count() > 1
    others = spark.read.parquet(f"{out}/data").filter(F.col("crawl_date") != day).count()

    one_page = pages.filter(on_day).orderBy("url").limit(1)
    r = extract_and_write(spark, one_page, out, resume=False)
    assert r["dates_processed"] == [day]
    assert verify_lineage(spark, out).count() == 0

    data = spark.read.parquet(f"{out}/data")
    assert data.filter(F.col("crawl_date") == day).count() == 1
    assert data.filter(F.col("crawl_date") != day).count() == others


def _two_except_alls(spark, out_dir):
    """The audit as two anti-matches, the reference for the one-pass
    ``verify_lineage``."""
    stored = spark.read.parquet(f"{out_dir}/_lineage").select(LINEAGE_COLS)
    recomputed = lineage_metrics(spark.read.parquet(f"{out_dir}/data")).select(LINEAGE_COLS)
    return stored.exceptAll(recomputed).unionByName(recomputed.exceptAll(stored))


@pytest.fixture(scope="module")
def written(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("written") / "out")
    extract_and_write(spark, pages, out)
    return out


@pytest.mark.parametrize("tamper", ["clean", "deleted_bucket", "duplicate_commit"])
def test_one_pass_audit_equals_two_except_alls(spark, written, tmp_path, tamper):
    out = str(tmp_path / "out")
    shutil.copytree(written, out)
    if tamper == "deleted_bucket":
        shutil.rmtree(sorted(glob.glob(f"{out}/data/crawl_date=*/host_bucket=*"))[0])
    elif tamper == "duplicate_commit":
        part = sorted(glob.glob(f"{out}/_lineage/crawl_date=*/part-*.parquet"))[0]
        shutil.copy(part, part.replace("part-", "part-copy-"))

    got = sorted(verify_lineage(spark, out).collect())
    assert got == sorted(_two_except_alls(spark, out).collect())
    assert (len(got) == 0) == (tamper == "clean")


def test_write_salts_splits_only_a_directory_over_one_task_share():
    assert write_salts([72] * 63, 4) == 1  # even directories
    hostile = [1500] + [10] * 150  # half the rows in one directory
    assert write_salts(hostile, 4) == 2
    assert write_salts(hostile, 64) == HOT_HOST_SALT
    assert write_salts([1] * 1920, 16_000) == HOT_HOST_SALT


def test_extract_and_write_leaves_nothing_cached(spark, tmp_path, monkeypatch):
    """The keyed extraction output is persisted for the lineage and
    unpersisted when the sink returns, and also when its data write
    raises."""
    from pyspark.sql import DataFrameWriter

    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    fresh = pages_from_documents(spark, SF_DIR)
    extract_and_write(spark, fresh, str(tmp_path / "ok"))
    assert cache.numCachedEntries() == before

    def fail(self, path, *args, **kwargs):
        raise RuntimeError("data write failed")

    monkeypatch.setattr(DataFrameWriter, "parquet", fail)
    with pytest.raises(RuntimeError, match="data write failed"):
        extract_and_write(spark, fresh, str(tmp_path / "failed"))
    assert cache.numCachedEntries() == before
