"""Text-analysis operators over a document corpus (training-data pipeline).

These are the corpus-hygiene operators a 100 TB web-text pipeline runs after
extraction: token counting, quality scoring, language identification, and
document fingerprinting. Every operator here is a pure column-expression
pipeline — built-in ``pyspark.sql.functions`` only, no Python UDFs — so the
whole stage stays inside whole-stage codegen and the scan only reads the
``text`` column (column pruning). At 10^12 documents these run as a single
map-side pass with zero shuffles (per-document outputs) or one partial-agg
shuffle (corpus rollups).

Relation to the reference: the reference's recognition decoder maps class
indices through a fixed 94-char vocabulary and drops out-of-vocabulary
symbols (``/root/reference/DataPreprocess/DataGen.py:28-45``); the token /
charset discipline here generalizes that idea to corpus statistics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Whitespace-token split, empty strings dropped — the one token definition,
# shared by this module, ``operators.dedup`` and ``operators.lm`` (and
# mirrored by the DuckDB oracles).
_WORDS_EXPR = "filter(split({col}, '\\\\s+'), x -> x != '')"


def word_ngrams_expr(w: str, n: int) -> str:
    """SQL array of the word n-grams (``concat_ws(' ', ...)``, in document
    order, duplicates kept) of the word-array column ``w``.

    ``w`` must be bound to ``words()`` in an earlier projection, never be
    the split itself: a lambda is evaluated per element, so a split inside
    it re-tokenizes the document for every n-gram (O(words²) per
    document); bound once, each n-gram is a slice (O(words)). ``w`` is
    referenced more than once here, so Catalyst keeps the binding
    projection. ``sequence(1, 0)`` yields a DESCENDING [1, 0], not an
    empty array, hence the explicit branch for size < n.
    """
    return (
        f"case when size({w}) < {n} then array() "
        f"else transform(sequence(1, size({w}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({w}, i, {n}))) end"
    )


# Stopword lists for the n-gram/stopword language-ID heuristic.
STOPWORDS_EN = ("the", "a", "and", "of", "in", "to", "is")
STOPWORDS_DE = ("der", "die", "das", "und", "ist", "ein", "zu")
STOPWORDS_FR = ("le", "la", "les", "et", "est", "un", "une")
STOPWORDS_ES = ("el", "los", "las", "por", "para", "y", "con")
# CJK unified-ideograph char-range vote (zh detection is char-based, not
# stopword-based — Chinese has no whitespace tokens to vote with).
CJK_RANGE_RE = r"[\x{4e00}-\x{9fff}]"


def words(col: str = "text") -> Column:
    """The word array of ``col``. Bind it once per row
    (``words().alias("_w")``) in a projection before the columns that
    read it, so each document is split once, not once per column."""
    return F.expr(_WORDS_EXPR.format(col=col))


def _count_in(vocab: tuple[str, ...]) -> Column:
    """Words of the bound word array ``_w`` that are in ``vocab``."""
    quoted = ", ".join(f"'{w}'" for w in vocab)
    return F.size(F.expr(f"filter(_w, x -> x in ({quoted}))")).cast("long")


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token statistics.

    (doc_id, n_tokens, n_chars_obs, n_distinct_tokens, avg_token_len) —
    whitespace tokenization; a BPE-ish sub-token count is added as
    ``n_subtokens`` (runs of letters / digits / single punctuation, the
    common pre-tokenizer regex), via ``regexp_count`` (JVM-side).
    """
    w = F.col("_w")
    return docs.select("doc_id", "text", words().alias("_w")).select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_obs"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct_tokens"),
        F.round(
            F.length(F.regexp_replace("text", r"\s+", ""))
            / F.greatest(F.size(w), F.lit(1)),
            6,
        ).alias("avg_token_len"),
        F.regexp_count(F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"))
        .cast("long")
        .alias("n_subtokens"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document-quality score in [0, 1].

    Combines length saturation, punctuation ratio, and stopword ratio — the
    standard web-corpus quality gates (C4/Gopher-style rules). Deterministic
    closed-form so it is oracle-checkable in ANSI SQL.
    """
    tok = docs.select("doc_id", "text", words().alias("_w"))
    return tok.select("doc_id", *quality_cols())


def quality_cols() -> list[Column]:
    """The four quality columns (n_tokens, punct_ratio, stop_ratio,
    quality) — shared by ``quality_score``, the curation funnel and the
    ``curate_hosts`` query. They read ``text`` and the word array bound
    as ``_w``."""
    n_tokens = F.size("_w")
    n_chars = F.length("text")
    punct = F.regexp_count(F.col("text"), F.lit(r"[^a-zA-Z0-9\s]"))
    n_stop = _count_in(STOPWORDS_EN)
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_tokens, F.lit(1))
    len_sat = F.least(n_tokens / F.lit(64.0), F.lit(1.0))
    score = len_sat * (F.lit(1.0) - punct_ratio) * (
        F.lit(0.5) + F.lit(0.5) * F.least(stop_ratio * F.lit(5.0), F.lit(1.0))
    )
    return [
        n_tokens.cast("long").alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality"),
    ]


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword/char-range language identification (en/de/fr/es/zh).

    Per doc: count stopword hits per Latin language plus CJK chars for
    Chinese, then a deterministic cascade: any CJK presence wins (Chinese
    has no whitespace stopwords to vote with); otherwise strict-win
    priority de > fr > es — a later language must beat every earlier
    Latin language strictly except the documented de-tie concessions
    (c_fr >= c_de, c_es >= c_de: 'der/die/das' rarely collide), and
    fr/es ties resolve to fr. Ties otherwise fall to en. The ES list
    deliberately excludes 'de'/'que' (top-frequency French tokens) so
    ordinary French prose cannot out-vote fr. All counts are JVM-side
    column expressions. Returns (doc_id, lang, predicted_lang, c_en, c_de,
    c_fr, c_es, c_zh).
    """
    tok = docs.select("doc_id", "lang", "text", words().alias("_w"))
    out = tok.select("doc_id", "lang", *lang_vote_cols())
    return out.withColumn("predicted_lang", lang_cascade_col()).select(
        "doc_id", "lang", "predicted_lang", "c_en", "c_de", "c_fr", "c_es", "c_zh"
    )


def lang_vote_cols() -> list[Column]:
    """The five per-language vote columns (aliased c_en..c_zh) — shared by
    ``lang_id`` and the curation funnel so the cascade never drifts. They
    read ``text`` and the word array bound as ``_w``."""
    return [
        _count_in(STOPWORDS_EN).alias("c_en"),
        _count_in(STOPWORDS_DE).alias("c_de"),
        _count_in(STOPWORDS_FR).alias("c_fr"),
        _count_in(STOPWORDS_ES).alias("c_es"),
        F.regexp_count(F.col("text"), F.lit(CJK_RANGE_RE))
        .cast("long")
        .alias("c_zh"),
    ]


def lang_cascade_col() -> Column:
    """The deterministic language cascade over c_en..c_zh (see lang_id)."""
    return (
        F.when(F.col("c_zh") > 0, "zh")
        .when(
            (F.col("c_de") > F.col("c_en"))
            & (F.col("c_de") > F.col("c_fr"))
            & (F.col("c_de") > F.col("c_es")),
            "de",
        )
        .when(
            (F.col("c_fr") > F.col("c_en"))
            & (F.col("c_fr") >= F.col("c_de"))
            & (F.col("c_fr") > F.col("c_es")),
            "fr",
        )
        .when(
            (F.col("c_es") > F.col("c_en"))
            & (F.col("c_es") >= F.col("c_de"))
            & (F.col("c_es") > F.col("c_fr")),
            "es",
        )
        .otherwise("en")
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document.

    (doc_id, dup_token_ratio, top_bigram_ratio): fraction of repeated
    tokens, and the most-frequent word-bigram's share of all bigrams —
    the standard machine-generated-text tells. Bigram counting is
    explode → (doc, bigram) groupBy → per-doc max, all JVM-side; the
    shuffle key is (doc_id, bigram), evenly spread by construction.
    Both branches read the word array bound once per row (``_w``).
    """
    tok = docs.select("doc_id", words().alias("_w"))
    base = tok.select(
        "doc_id",
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct("_w")) / F.greatest(F.size("_w"), F.lit(1)),
            6,
        ).alias("dup_token_ratio"),
    )
    bigrams = F.expr(word_ngrams_expr("_w", 2))
    bg = tok.select("doc_id", F.explode(bigrams).alias("bg"))
    counts = bg.groupBy("doc_id", "bg").agg(F.count("*").alias("c"))
    top = counts.groupBy("doc_id").agg(
        F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_ratio")
    )
    return base.join(top, "doc_id", "left").select(
        "doc_id",
        "dup_token_ratio",
        F.coalesce("top_bigram_ratio", F.lit(0.0)).alias("top_bigram_ratio"),
    )


def compression_ratio(docs: DataFrame) -> DataFrame:
    """zlib compressed/raw byte ratio per document (low ratio = highly
    repetitive/templated text — the Gopher compression gate). The codec is
    per-batch Python (an iterator Arrow UDF; no JVM zlib expression
    exists), everything else stays relational.

    Returns (doc_id, n_bytes, ratio, ratio_2x) where ``ratio_2x`` is the
    ratio of the text concatenated with itself — always strictly below
    ``ratio`` (zlib's dictionary captures the repeat), which gives
    SQL-blind oracles a checkable invariant of the codec.

    Empty text is special-cased: zlib's 8-byte stream header would put the
    raw ratio at 8.0 (outside the documented (0.2, 1.3) band) with
    ratio_2x == ratio. Zero-length documents instead emit the sentinel
    (ratio=1.0, ratio_2x=0.999999), preserving both invariants.
    """
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    def one(b: bytes) -> tuple[float, float]:
        if not b:
            return 1.0, 0.999999
        return (
            round(len(zlib.compress(b, 6)) / len(b), 6),
            round(len(zlib.compress(b + b, 6)) / (2 * len(b)), 6),
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = [str(t).encode("utf-8") for t in pdf["text"]]
            pairs = [one(b) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(b) for b in raw],
                    "ratio": [p[0] for p in pairs],
                    "ratio_2x": [p[1] for p in pairs],
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        fn, schema="doc_id long, n_bytes long, ratio double, ratio_2x double"
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Whitespace-normalized content fingerprint per document.

    md5 over lower-cased, whitespace-collapsed text — the cheap exact-dup
    key robust to formatting noise. (doc_id, fp).
    """
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return docs.select("doc_id", F.md5(norm).alias("fp"))


# PII redaction patterns — deliberately conservative spellings that parse
# identically in Java regex (Spark) and RE2-ish engines (DuckDB oracle):
# no lookarounds, no backreferences, explicit character classes only.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
)


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-data PII scrub: replace emails / IPv4 addresses / NNN-NNN-
    NNNN phone numbers with typed placeholder tokens and count each kind
    (the standard pre-training redaction pass). Pure JVM ``regexp_replace``
    / ``regexp_count`` column expressions — no Python in the path, scales
    as a map-only stage. Each pattern is counted on the text AS THE
    PREVIOUS PATTERNS LEFT IT, in the same fixed order the replacements
    apply, so every count equals the number of placeholder tokens actually
    emitted — overlapping PII ('555-123-4567@corp.example.com': the email
    match consumes the phone substring) can never report a phantom
    redaction that does not appear in clean_text.

    Returns (doc_id, clean_text, n_email, n_ipv4, n_phone).
    """
    cols = [F.col("doc_id")]
    cleaned = F.col(text_col)
    for name, pat, token in PII_PATTERNS:
        # functions API, not F.expr: a SQL literal would re-process the
        # pattern's backslashes ('\b' → backspace) under default parsing
        cols.append(
            F.size(
                F.regexp_extract_all(cleaned, F.lit(pat), F.lit(0))
            ).cast("long").alias(f"n_{name}")
        )
        cleaned = F.regexp_replace(cleaned, pat, token)
    return docs.select(*cols, cleaned.alias("clean_text")).select(
        "doc_id", "clean_text", "n_email", "n_ipv4", "n_phone"
    )
