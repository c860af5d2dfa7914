"""Corpus-trained character-trigram language-model scoring — the
CCNet-style "perplexity gate" re-expressed without external model files.

CCNet/RefinedWeb rank documents by language-model perplexity to separate
fluent prose from gibberish/boilerplate. This operator trains the LM ON
the corpus itself (two passes, both relational) instead of loading a
KenLM binary, so the whole gate is self-contained and oracle-checkable:

1. **Count pass**: explode every document into character trigrams, count
   corpus-wide — ONE partial-aggregated shuffle keyed by trigram (hot
   trigrams like 'th ' collapse map-side). The model keeps the top
   ``max_model_size`` trigrams by (count desc, trigram asc) — the
   deterministic cap that bounds the broadcast when a multilingual or
   hostile corpus inflates the trigram space (ASCII prose alone is
   naturally bounded near 95³).
2. **Score pass**: per document, the mean add-one-smoothed log-probability
   of its trigrams under those counts: ln((c+1) / (N + V)) with N = total
   kept-trigram mass and V = kept-vocabulary size + 1 (the unseen class,
   c = 0). Low score = far from the corpus distribution — gibberish,
   wrong language, binary junk.

Physical shape: count shuffle → slim (trigram, count) model broadcast →
map-side trigram explode + broadcast join → one (doc_id, logprob)
aggregation. The document text crosses exactly one exchange (the trigram
explode feeding the join is map-side; only slim rows shuffle into the
per-doc mean).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.textstats import word_ngrams_expr, words

MAX_MODEL_SIZE = 100_000


def _trigrams_expr(col: str = "text") -> str:
    """Array of character trigrams of ``col`` (empty for len < 3)."""
    return (
        f"CASE WHEN length({col}) < 3 THEN array() "
        f"ELSE transform(sequence(1, length({col}) - 2), "
        f"i -> substring({col}, i, 3)) END"
    )


def lm_train_counts(
    docs: DataFrame,
    max_model_size: int = MAX_MODEL_SIZE,
    n_salts: int = 16,
) -> DataFrame:
    """Corpus trigram counts, capped to the top ``max_model_size`` by
    (count desc, trigram asc). Returns (trigram, c).

    The cap is the salted two-level EXACT top-k (the spelling proven in
    ``curation.stratified_sample``), NOT a global
    ``row_number() OVER (ORDER BY ...)``: a single global window funnels
    every distinct trigram through ONE task, which is exactly wrong in
    the case the cap exists for — a multilingual/hostile 100-TB corpus
    with hundreds of millions of distinct char trigrams (CJK, binary
    junk). Level 1 ranks within ``n_salts`` hash partitions of the
    trigram space (each sorts ~1/n_salts of the distinct table); level 2
    ranks only the ≤ k·n_salts survivors — bounded by PARAMETERS, not by
    the corpus. Exact by construction: every global top-k row is
    necessarily in its own salt's local top-k (same total order both
    levels, ties broken by trigram)."""
    grams = docs.select(
        F.explode(F.expr(_trigrams_expr())).alias("trigram")
    )
    counts = grams.groupBy("trigram").agg(F.count("*").alias("c"))
    from pyspark.sql import Window

    order = [F.col("c").desc(), F.col("trigram").asc()]
    salted = Window.partitionBy(
        F.pmod(F.xxhash64("trigram"), F.lit(n_salts)).alias("salt")
    ).orderBy(*order)
    local = counts.withColumn("r", F.row_number().over(salted)).filter(
        F.col("r") <= max_model_size
    )
    final = Window.orderBy(*order)
    return (
        local.withColumn("r2", F.row_number().over(final))
        .filter(F.col("r2") <= max_model_size)
        .select("trigram", "c")
    )


def lm_score(
    docs: DataFrame, max_model_size: int = MAX_MODEL_SIZE
) -> DataFrame:
    """Per-document mean trigram log-probability under the corpus model.

    Returns (doc_id, n_trigrams, logprob) — logprob rounded 6 dp, NULL-free.
    Documents shorter than 3 chars have no evidence of fluency, so they
    score the UNSEEN-CLASS FLOOR ln(1/(N+V+1)) with n_trigrams = 0 — the
    worst possible per-trigram score, NOT 0.0 (which would be the best
    score in the table and let empty/teaser junk sail over every real
    document in a keep-above-threshold gate).
    """
    model = lm_train_counts(docs, max_model_size)
    totals = model.agg(
        F.sum("c").alias("n_mass"), F.count("*").alias("v_kept")
    )
    doc_grams = docs.select(
        "doc_id", F.explode(F.expr(_trigrams_expr())).alias("trigram")
    )
    joined = (
        doc_grams.join(F.broadcast(model), "trigram", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                / (F.col("n_mass") + F.col("v_kept") + F.lit(1.0))
            ).alias("lp"),
        )
    )
    scored = joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_trigrams"),
        F.round(F.avg("lp"), 6).alias("logprob"),
    )
    floor = F.round(
        F.log(F.lit(1.0) / (F.col("n_mass") + F.col("v_kept") + F.lit(1.0))),
        6,
    )
    return (
        docs.select("doc_id")
        .crossJoin(F.broadcast(totals))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_trigrams", F.lit(0)).cast("long").alias("n_trigrams"),
            F.coalesce(F.col("logprob"), floor).alias("logprob"),
        )
    )


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    n_words: int = 13,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 13-gram method): flag every
    corpus document sharing at least one ``n_words``-word shingle with the
    benchmark set. Returns (doc_id, n_hits) for contaminated docs only.

    Physical shape: the benchmark's shingle-hash set is tiny (eval sets
    are thousands of rows) and BROADCASTS; the corpus side streams its
    shingle hashes past the broadcast semi-join — the big side never
    shuffles. Word shingles are hashed to md5 so only 16-byte keys move.
    Each side's word array is bound once per row, so its shingles cost
    O(words) per document.
    """
    def shingles(df: DataFrame, id_col: str | None):
        ids = [id_col] if id_col else []
        grams = F.expr(word_ngrams_expr("_w", n_words))
        return (
            df.select(*ids, words(text_col).alias("_w"))
            .select(*ids, F.explode(grams).alias("g"))
            .select(*ids, F.md5("g").alias("h"))
        )

    bench_h = shingles(benchmark, None).distinct()
    doc_h = shingles(docs, "doc_id")
    hits = doc_h.join(F.broadcast(bench_h), "h")
    return hits.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_hits")
    )
