"""Word n-gram and word-count expressions tokenize each document once.

Every word-n-gram operator binds the word array in a projection before
any lambda and slices that array per n-gram; the per-document signal
operators read the same bound array in every column. A split inside the
lambda re-tokenizes the whole document for every n-gram (Spark evaluates
higher-order-function lambdas once per element), which makes an n-gram
set O(words²) per document. The plan pins fail if the optimizer ever
inlines the bound array back into the lambda; the scaling test fails if
the per-document cost grows super-linearly for any other reason.
"""

from __future__ import annotations

import random
import statistics
import time

import pyspark.sql.functions as F
import pytest

from ocr_spark.operators import curation, dedup, lm, textstats


def _docs(spark, n_words: int, seed: int = 3):
    """Two copies of one ``n_words``-word document in one source group."""
    rng = random.Random(seed)
    text = " ".join(f"w{rng.randrange(500)}" for _ in range(n_words))
    return spark.createDataFrame(
        [(1, text, "s"), (2, text, "s")], "doc_id long, text string, source string"
    )


def _pairs(spark):
    return spark.createDataFrame([(1, 2)], "doc_id_a long, doc_id_b long")


# operator → (build the operator's lazy frame, tokenizing branches in its
# plan: a self-join, or a join of two projections of one input, holds
# the tokenizing projection once per side)
OPERATORS = {
    "minhash_signatures": (lambda s, d: dedup.minhash_signatures(d, 4), 1),
    "verify_pairs": (lambda s, d: dedup.verify_pairs(d, _pairs(s)), 2),
    "ngram_jaccard_pairs": (lambda s, d: dedup.ngram_jaccard_pairs(d), 2),
    "repetition_stats": (lambda s, d: textstats.repetition_stats(d), 2),
    "contamination_check": (
        lambda s, d: lm.contamination_check(d, d.filter("doc_id = 1").select("text")),
        2,
    ),
    # remove_boilerplate_chunks checkpoints its result, which erases the
    # plan; its chunk explode is the part that tokenizes
    "remove_boilerplate_chunks": (lambda s, d: dedup._chunk_rows(d, 8), 1),
    # the per-document signals: every vote, ratio and count column reads
    # the one bound word array
    "lang_id": (lambda s, d: textstats.lang_id(d.withColumn("lang", F.lit("en"))), 1),
    "token_stats": (lambda s, d: textstats.token_stats(d), 1),
    "quality_score": (lambda s, d: textstats.quality_score(d), 1),
    "curate_corpus": (lambda s, d: curation.curate_corpus(d), 1),
    "stratified_sample": (lambda s, d: curation.stratified_sample(d), 1),
}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_split_bound_once_per_tokenizing_branch(spark, name):
    build, branches = OPERATORS[name]
    plan = build(spark, _docs(spark, 50))._jdf.queryExecution().optimizedPlan().toString()
    lines = [line for line in plan.splitlines() if "split(" in line]
    assert plan.count("split(") == branches, plan
    # each split sits in the projection that binds the word array, never
    # inside an n-gram lambda
    assert all(line.count("split(") == 1 and " AS _w#" in line for line in lines), plan


def _run(build, spark, docs) -> float:
    t0 = time.perf_counter()
    build(spark, docs).collect()
    return time.perf_counter() - t0


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_per_document_cost_scales_linearly(spark, name):
    """A document of 8,000 words costs under 6× one of 2,000 words (a
    re-split per n-gram grows ~16×). Small and large runs alternate and
    the median of the adjacent-pair ratios is taken, so a burst of host
    load moves one ratio, not the verdict."""
    build = OPERATORS[name][0]
    if name == "remove_boilerplate_chunks":  # the whole operator, eager
        build = lambda s, d: dedup.remove_boilerplate_chunks(d, 8, 2)  # noqa: E731
    small, large = _docs(spark, 2000), _docs(spark, 8000)
    _run(build, spark, small)  # warm the plan and codegen caches
    ratios = [
        _run(build, spark, large) / _run(build, spark, small) for _ in range(3)
    ]
    assert statistics.median(ratios) < 6, sorted(ratios)
