"""The four benchmark workloads.

Each workload materializes its input once at set-up, computes the expected
output checksum independently of the engine (DuckDB runs the oracle SQL from
``__spark_entry__.oracle_sql()`` over the same documents), and then runs
timed reps. A rep's output is reduced to a checksum over every output
column, ``count(*)`` plus ``bit_xor(xxhash64(...))``, the function the sink's
lineage uses. Only when a checksum differs does a diagnostic join count the
mismatched rows.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import corpus


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    seed: int
    n_docs: int
    corrupt: bool = False

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


@dataclass
class Rep:
    seconds: float
    checksum: tuple[int, int] | None
    layers: dict[str, float] = field(default_factory=dict)


def checksum(df: DataFrame) -> tuple[int, int]:
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("x")
    ).collect()[0]
    return int(row.n), int(row.x or 0)


def text_checksum(df: DataFrame) -> tuple[tuple[int, int], int]:
    """``checksum`` of (url, extracted_text) plus the count of empty
    extractions (``n_blocks == 0``), in one pass."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("url", "extracted_text")).alias("x"),
        F.count_if(F.col("n_blocks") == 0).alias("empty"),
    ).collect()[0]
    return (int(row.n), int(row.x or 0)), int(row.empty)


def mismatched_rows(actual: DataFrame, expected: DataFrame, keys: list[str]) -> int:
    """Rows missing from either side or differing in any column."""
    a = actual.withColumn("_a", F.lit(1))
    e = expected.withColumn("_e", F.lit(1))
    j = a.join(e, keys, "full_outer")
    values = [c for c in actual.columns if c not in keys]
    differs = F.col("_a").isNull() | F.col("_e").isNull()
    for c in values:
        differs = differs | ~a[c].eqNullSafe(e[c])
    return j.filter(differs).count()


class Workload:
    name = ""
    default_docs = 0
    python_workers = True  # whether the job runs Python UDFs
    warmup_reps = 1  # untimed reps at set-up; more where rep times still fall
    oracle = ""  # key into __spark_entry__.oracle_sql()
    keys: list[str] = []

    # ---- set-up -------------------------------------------------------
    def materialize(self, ctx: Ctx) -> None:
        self.write_documents(ctx)

    def write_documents(self, ctx: Ctx) -> None:
        spark = ctx.spark
        docs = corpus.documents(ctx.seed, ctx.n_docs)
        n = spark.sparkContext.defaultParallelism
        spark.createDataFrame(docs).repartition(n).write.parquet(
            ctx.path("documents.parquet")
        )

    def oracle_rows(self, ctx: Ctx) -> None:
        """Run the oracle SQL in DuckDB over the materialized documents and
        store its rows as ``expected.parquet``. Needs no Spark, so set-up
        runs it beside the warm-up rep."""
        import duckdb
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        con = duckdb.connect()
        try:
            con.execute("SET threads = 4")
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{ctx.path('documents.parquet')}/*.parquet')"
            )
            table = con.execute(entry.oracle_sql()[self.oracle]).arrow()
        finally:
            con.close()
        if ctx.corrupt:
            table = _flip_one_byte(table)
        pq.write_table(table, ctx.path("expected.parquet"))

    def expected(self, ctx: Ctx) -> DataFrame:
        return self.project(ctx.spark.read.parquet(ctx.path("expected.parquet")))

    # ---- the timed job ------------------------------------------------
    def output(self, ctx: Ctx, tr) -> DataFrame:
        raise NotImplementedError

    def project(self, df: DataFrame) -> DataFrame:
        """The checksummed columns, in a fixed order and representation."""
        return df.select("url", "extracted_text")

    def rep(self, ctx: Ctx, tr) -> Rep:
        t0 = time.perf_counter()
        with tr.span("operator.checksum"):
            cs = checksum(self.project(self.output(ctx, tr)))
        return Rep(time.perf_counter() - t0, cs)

    def actual(self, ctx: Ctx) -> DataFrame:
        return self.project(self.output(ctx, NULL_TRACER))

    def finish(self, ctx: Ctx, rep: Rep) -> None:
        """Complete ``rep.checksum`` when the timed job does not yield it."""

    def after_rep(self, ctx: Ctx) -> None:
        pass

    def trace_extras(self, ctx: Ctx) -> dict[str, float]:
        return {}


class _PagesWorkload(Workload):
    def pages(self, ctx: Ctx) -> DataFrame:
        return ctx.spark.read.parquet(ctx.path("pages.parquet"))

    def build_pages(self, ctx: Ctx) -> DataFrame:
        from ocr_spark.sources.pages import pages_from_documents

        return pages_from_documents(ctx.spark, ctx.work)

    def materialize(self, ctx: Ctx) -> None:
        self.write_documents(ctx)
        self.build_pages(ctx).write.parquet(ctx.path("pages.parquet"))


class HtmlExtract(_PagesWorkload):
    """Kernel-bound HTML path: charset decode, tokenizer, scoring and the Arrow
    boundary do the work."""

    name = "html_extract"
    default_docs = 4000
    oracle = "extract_html"
    keys = ["url"]

    def output(self, ctx, tr):
        from ocr_spark.operators.extract_html import extract_pages

        with tr.span("source.read"):
            pages = self.pages(ctx)
        return extract_pages(pages)

    def rep(self, ctx, tr):
        t0 = time.perf_counter()
        with tr.span("operator.checksum"):
            cs, empty = text_checksum(self.output(ctx, tr))
        return Rep(
            time.perf_counter() - t0, cs, {"operators.extract_html.empty_docs": float(empty)}
        )


class OcrNoisy(_PagesWorkload):
    """Image codecs, strip normalization and NCC recognition across two Arrow
    stages and the groupBy(url) shuffle."""

    name = "ocr_noisy"
    default_docs = 400
    warmup_reps = 2
    oracle = "extract_full_noisy"
    keys = ["url"]

    def build_pages(self, ctx):
        from ocr_spark.sources.pages import pages_with_noisy_font_images_from_documents

        return pages_with_noisy_font_images_from_documents(ctx.spark, ctx.work)

    def output(self, ctx, tr):
        from ocr_spark.operators.pipeline import extract_full

        with tr.span("source.read"):
            pages = self.pages(ctx)
        return extract_full(pages, recognizer="font")


class JobWrite(_PagesWorkload):
    """Production write path: extraction, salted partitioned write, lineage,
    manifest resume and audit."""

    name = "job_write"
    default_docs = 1000
    oracle = "extract_html"
    keys = ["url"]

    _runs = 0

    def output(self, ctx, tr):
        # the written table of the most recent rep
        return ctx.spark.read.parquet(os.path.join(self._last, "data"))

    def rep(self, ctx, tr):
        from ocr_spark.sinks.partitioned import extract_and_write, verify_lineage

        spark = ctx.spark
        self._runs += 1
        out = ctx.path(f"out-{self._runs}")
        self._last = out
        t0 = time.perf_counter()
        with tr.span("sink.extract_and_write"):
            with tr.span("source.read"):
                pages = self.pages(ctx)
            first = extract_and_write(spark, pages, out)
        t1 = time.perf_counter()
        with tr.span("sink.resume"):
            again = extract_and_write(spark, self.pages(ctx), out)
        t2 = time.perf_counter()
        with tr.span("sink.verify_lineage"):
            bad = verify_lineage(spark, out).count()
        t3 = time.perf_counter()
        if not first["dates_processed"] or again["dates_processed"] or bad:
            raise RuntimeError(
                f"job_write: wrote {len(first['dates_processed'])} dates, resume "
                f"processed {len(again['dates_processed'])}, lineage audit found {bad} rows"
            )
        return Rep(
            t3 - t0,
            None,
            {
                "sinks.partitioned.write_s": t1 - t0,
                "sinks.partitioned.resume_s": t2 - t1,
                "sinks.partitioned.verify_lineage_s": t3 - t2,
                "sinks.partitioned.resume_dates_processed": float(
                    len(again["dates_processed"])
                ),
            },
        )

    def finish(self, ctx, rep):
        """Read the written table back and checksum it."""
        rep.checksum, empty = text_checksum(self.output(ctx, NULL_TRACER))
        files, nbytes = _dir_usage(os.path.join(self._last, "data"))
        rep.layers["sinks.partitioned.files_written"] = float(files)
        rep.layers["sinks.partitioned.output_mb"] = nbytes / 1e6
        rep.layers["operators.extract_html.empty_docs"] = float(empty)

    def after_rep(self, ctx):
        # keep the newest table for a diagnostic read-back; drop the rest
        for name in os.listdir(ctx.work):
            p = ctx.path(name)
            if name.startswith("out-") and p != self._last:
                shutil.rmtree(p, ignore_errors=True)


class DedupVerified(Workload):
    """JVM-only control: LSH banding and exact Jaccard verification run no
    Python worker, so kernel and Arrow changes must not move it."""

    name = "dedup_verified"
    default_docs = 2000
    python_workers = False
    warmup_reps = 2
    oracle = "dedup_verified"
    keys = ["doc_id_a", "doc_id_b"]

    def project(self, df):
        # decimal(8,6) holds the 6-dp jaccard exactly, so the hash cannot
        # depend on how each engine rounds the last bit of the double
        return df.select(
            "doc_id_a", "doc_id_b", F.col("jaccard").cast("decimal(8,6)").alias("jaccard")
        )

    def docs(self, ctx: Ctx) -> DataFrame:
        return ctx.spark.read.parquet(ctx.path("documents.parquet"))

    def output(self, ctx, tr):
        from ocr_spark.operators.dedup import lsh_candidate_pairs, verify_pairs

        with tr.span("source.read"):
            docs = self.docs(ctx)
        pairs = lsh_candidate_pairs(docs, n_bands=4, rows_per_band=2)
        return verify_pairs(docs, pairs, min_jaccard=0.0)

    def after_rep(self, ctx):
        # lsh_candidate_pairs persists its signatures; a later rep must
        # recompute them, not read this rep's cache
        ctx.spark.catalog.clearCache()

    def trace_extras(self, ctx):
        from ocr_spark.operators.dedup import lsh_candidate_pairs

        n = lsh_candidate_pairs(self.docs(ctx), n_bands=4, rows_per_band=2).count()
        ctx.spark.catalog.clearCache()
        return {"operators.dedup.candidate_pairs": float(n)}


WORKLOADS = {w.name: w for w in (HtmlExtract, OcrNoisy, JobWrite, DedupVerified)}


def _flip_one_byte(table):
    """Return ``table`` with one byte of its first row changed: the low bit
    of the first character of the first string column, or of the last
    column's value when no column holds text."""
    import pyarrow as pa

    rows = table.to_pylist()
    row = rows[0]
    text_cols = [f.name for f in table.schema if pa.types.is_string(f.type)]
    if text_cols:
        c = text_cols[-1]
        row[c] = chr(ord(row[c][0]) ^ 1) + row[c][1:]
    else:
        c = table.schema.names[-1]
        row[c] = row[c] + 1e-6
    return pa.Table.from_pylist(rows, schema=table.schema)


def _dir_usage(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
    return files, nbytes


class _NullTracer:
    def span(self, name: str, **attrs):
        return nullcontext()


NULL_TRACER = _NullTracer()
