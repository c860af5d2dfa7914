"""Corpus curation funnel: the C4/RefinedWeb-style keep/drop gate chain.

A 100-TB training-data pipeline does not run its quality signals as
separate jobs — it runs ONE funnel that tags every document keep/drop
with the first failing gate as the reason, so corpus composition is
auditable per gate. This operator composes the engine's existing signals
(language cascade, quality score, repetition, exact-dup representatives)
into that funnel.

Physical shape, deliberately: the per-document signals (language votes,
quality ratios, dup-token ratio) are ONE narrow projection over the scan
— no self-joins between signal operators (joining `quality_score(docs)`
to `lang_id(docs)` on doc_id would shuffle the corpus twice for columns
that live in the same row). The one aggregate-shaped signal is the
exact-dup winner set: a 16-byte-hash groupBy whose map-side partial
aggregation absorbs hot texts (the viral empty-page/"403" cluster that
would melt a window-over-md5 spelling), then an id-keyed join back —
broadcast while winners fit (the local plan: signals never shuffle at
all), sort-merge at corpus scale where winners ≈ distinct texts. The
window respelling would save that join's shuffle but has NO partial
aggregation, so one hot text funnels its entire cluster into one task —
the groupBy+join shape is the deliberate skew-safe choice.

Gate order is fixed and documented (first failure wins): exact_dup →
lang → too_short → low_quality → repetitive. Order matters for the
reason column only; the keep decision is the conjunction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.textstats import (
    lang_cascade_col,
    lang_vote_cols,
    quality_cols,
    words,
)

GATE_ORDER = ("exact_dup", "lang", "too_short", "low_quality", "repetitive")


def curate_corpus(
    docs: DataFrame,
    allowed_langs: tuple[str, ...] = ("en",),
    min_tokens: int = 40,
    min_quality: float = 0.45,
    max_dup_token_ratio: float = 0.65,
) -> DataFrame:
    """Tag every document keep/drop with the first failing gate.

    Returns (doc_id, keep boolean, reason string, predicted_lang,
    n_tokens, quality, dup_token_ratio) — ``reason`` is 'keep' or the
    first entry of ``GATE_ORDER`` that fails.
    """
    dup_token_ratio = F.round(
        F.lit(1.0)
        - F.size(F.array_distinct("_w")) / F.greatest(F.size("_w"), F.lit(1)),
        6,
    ).alias("dup_token_ratio")
    signals = (
        docs.select("doc_id", "text", words().alias("_w"))
        .select("doc_id", *lang_vote_cols(), *quality_cols(), dup_token_ratio)
        .withColumn("predicted_lang", lang_cascade_col())
    )

    # exact-dup representatives: min doc_id per md5(text) group survives —
    # the one aggregate-shaped signal (same spelling as exact_dedup)
    winners = (
        docs.groupBy(F.md5("text").alias("k"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("is_rep"))
    )
    joined = signals.join(winners, "doc_id", "left")

    reason = (
        F.when(F.col("is_rep").isNull(), "exact_dup")
        .when(~F.col("predicted_lang").isin(*allowed_langs), "lang")
        .when(F.col("n_tokens") < min_tokens, "too_short")
        .when(F.col("quality") < min_quality, "low_quality")
        .when(F.col("dup_token_ratio") > max_dup_token_ratio, "repetitive")
        .otherwise("keep")
    )
    return joined.select(
        "doc_id",
        (reason == "keep").alias("keep"),
        reason.alias("reason"),
        "predicted_lang",
        "n_tokens",
        "quality",
        "dup_token_ratio",
    )


def stratified_sample(
    docs: DataFrame,
    per_group: int = 25,
    group_col: str = "source",
    n_salts: int = 16,
) -> DataFrame:
    """Training-mix construction: the top ``per_group`` documents per
    group (host/source) by quality, deterministic (quality desc, doc_id
    asc tiebreak).

    A single ``row_number() OVER (PARTITION BY group)`` puts every row of
    a hot group into ONE task — the classic window-skew trap at corpus
    scale. This is the salted two-level spelling instead: a first window
    over (group, doc_id % n_salts) keeps each salt's local top-k, then a
    second window over the surviving ≤ k·n_salts rows per group takes the
    global top-k. EXACT by construction — every global top-k row is
    necessarily in its own salt's local top-k — while the heavy first
    pass splits a hot group across ``n_salts`` tasks and the second pass
    sees only k·n_salts slim rows per group. Returns (doc_id, group,
    quality, rank).
    """
    tok = docs.select(
        "doc_id", F.col(group_col).alias("grp"), "text", words().alias("_w")
    )
    q = tok.select("doc_id", "grp", *quality_cols())
    order = [F.col("quality").desc(), F.col("doc_id").asc()]
    from pyspark.sql import Window

    salted = Window.partitionBy(
        "grp", (F.col("doc_id") % n_salts).alias("salt")
    ).orderBy(*order)
    local = q.withColumn("r", F.row_number().over(salted)).filter(
        F.col("r") <= per_group
    )
    final = Window.partitionBy("grp").orderBy(*order)
    return (
        local.withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= per_group)
        .select(
            "doc_id",
            F.col("grp").alias(group_col),
            "quality",
            F.col("rank").cast("long").alias("rank"),
        )
    )
