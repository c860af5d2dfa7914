"""Dedup stack on a corpus with PLANTED duplicates: exact dups, word-drop
near-dups, and unrelated docs. Verifies recall/precision of the LSH
candidate generation, Jaccard verification, and representative selection —
the driver testdata has no duplicates, so this synthesizes them."""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F
import pytest

from ocr_spark.operators.dedup import (
    exact_dedup,
    keep_representatives,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_band_pairs,
)

SF = "/root/testdata/sf0.001"
N_BASE = 120


@pytest.fixture(scope="module")
def planted(spark):
    """base docs 0..N-1; near-dup of doc i at id i+10000 (every 12th word
    dropped); exact dup of doc i at id i+20000 for i % 3 == 0."""
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") < N_BASE)
        .select("doc_id", "text", "source")
    )
    rows = docs.collect()
    out = [(r.doc_id, r.text, r.source) for r in rows]
    for r in rows:
        words = r.text.split(" ")
        mutated = " ".join(w for i, w in enumerate(words) if i % 12 != 5)
        out.append((r.doc_id + 10_000, mutated, r.source))
        if r.doc_id % 3 == 0:
            out.append((r.doc_id + 20_000, r.text, r.source))
    return spark.createDataFrame(out, "doc_id long, text string, source string")


def test_exact_dedup_finds_planted_exact_dups(spark, planted):
    groups = exact_dedup(planted)
    dup_groups = groups.filter(F.col("n_copies") > 1)
    expected_exact = sum(1 for i in range(N_BASE) if i % 3 == 0)
    assert dup_groups.count() == expected_exact
    # representative is always the min id (the base doc)
    assert dup_groups.filter(F.col("doc_id") >= 10_000).count() == 0


def test_lsh_recall_on_near_dups(spark, planted):
    # 8 bands × 2 rows: for J=0.5 (short docs, one dropped word kills 3 of
    # ~8 shingles) P(candidate) = 1-(1-J²)^8 ≈ 0.90; 4×2 would sit at ~0.68
    # — recall is a banding-parameter choice, so the test pins the tuned
    # configuration, not a lucky default
    pairs = lsh_candidate_pairs(planted, n_bands=8, rows_per_band=2)
    got = {(r.doc_id_a, r.doc_id_b) for r in pairs.collect()}
    planted_pairs = {(i, i + 10_000) for i in range(N_BASE)}
    recall = len(got & planted_pairs) / len(planted_pairs)
    assert recall >= 0.9, f"LSH recall {recall}"


def test_jaccard_verifies_candidates(spark, planted):
    pairs = ngram_jaccard_pairs(planted, min_jaccard=0.5)
    got = {(r.doc_id_a, r.doc_id_b): r.jaccard for r in pairs.collect()}
    hits = sum(1 for i in range(N_BASE) if (i, i + 10_000) in got)
    assert hits >= 0.95 * N_BASE
    # unrelated base docs must not cross the 0.5 bar
    false_pairs = [
        (a, b) for (a, b) in got if a < 10_000 and b < 10_000 and a != b
    ]
    assert not false_pairs, false_pairs[:5]


def test_simhash_separates_near_dups(spark, planted):
    pairs = simhash_band_pairs(planted, n_bands=16, max_hamming=12)
    got = {(r.doc_id_a, r.doc_id_b) for r in pairs.collect()}
    planted_pairs = {(i, i + 10_000) for i in range(N_BASE)}
    recall = len(got & planted_pairs) / len(planted_pairs)
    assert recall >= 0.8, f"simhash recall {recall}"


def test_end_to_end_dedup_pipeline(spark, planted):
    """LSH candidates → Jaccard verify → drop losers: every base doc
    survives, every planted near/exact dup is gone."""
    cands = lsh_candidate_pairs(planted, n_bands=8, rows_per_band=2)
    sh = planted
    verified = ngram_jaccard_pairs(sh, min_jaccard=0.5).join(
        cands, ["doc_id_a", "doc_id_b"]
    )
    survivors = keep_representatives(planted, verified)
    ids = {r.doc_id for r in survivors.select("doc_id").collect()}
    assert all(i in ids for i in range(N_BASE))
    killed = [i + 10_000 for i in range(N_BASE) if (i + 10_000) not in ids]
    assert len(killed) >= 0.9 * N_BASE


# ---- round 3: Hamming-band simhash near-pairs + table materialization ----


def test_simhash_band_pairs_exact_recall_vs_brute_force(spark, planted):
    """Pigeonhole guarantee: 8 bands of 8 bits find EVERY pair with
    Hamming distance <= 7 — verified against the brute-force all-pairs
    sweep on the planted corpus (no bucket exceeds the hot cap here)."""
    from ocr_spark.operators.dedup import simhash64, simhash_band_pairs

    got = {
        (r.doc_id_a, r.doc_id_b, r.hamming)
        for r in simhash_band_pairs(planted, n_bands=8).collect()
    }
    sigs = {r.doc_id: (r.simhash_hi, r.simhash_lo) for r in simhash64(planted).collect()}
    ids = sorted(sigs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = bin(sigs[a][0] ^ sigs[b][0]).count("1") + bin(
                sigs[a][1] ^ sigs[b][1]
            ).count("1")
            if ham <= 7:
                want.add((a, b, ham))
    assert got == want
    # the planted exact dups are all found at distance 0
    zero = {(a, b) for a, b, h in got if h == 0}
    assert all((i, i + 20_000) in zero for i in range(0, N_BASE, 3))


def test_simhash_band_pairs_radius_follows_bands(spark, planted):
    """4 bands of 16 bits guarantee radius 3 — a subset of the radius-7
    result, never missing a pair within its own radius."""
    from ocr_spark.operators.dedup import simhash_band_pairs

    r7 = {
        (r.doc_id_a, r.doc_id_b, r.hamming)
        for r in simhash_band_pairs(planted, n_bands=8).collect()
    }
    r3 = {
        (r.doc_id_a, r.doc_id_b, r.hamming)
        for r in simhash_band_pairs(planted, n_bands=4).collect()
    }
    assert r3 == {(a, b, h) for a, b, h in r7 if h <= 3}


def test_pair_materialization_table_mode(spark, planted, tmp_path):
    """materialize='table' writes the pair table to parquet and returns a
    reader over it — identical rows to the local-checkpoint mode, and the
    parquet survives as the resume artifact."""
    from ocr_spark.operators.dedup import lsh_candidate_pairs

    local = lsh_candidate_pairs(planted, n_bands=8, rows_per_band=2)
    path = str(tmp_path / "pairs")
    table = lsh_candidate_pairs(
        planted, n_bands=8, rows_per_band=2,
        materialize="table", table_path=path,
    )
    as_set = lambda df: {(r.doc_id_a, r.doc_id_b) for r in df.collect()}
    assert as_set(local) == as_set(table)
    # the artifact is re-readable cold
    assert as_set(spark.read.parquet(path)) == as_set(local)
    with pytest.raises(ValueError):
        lsh_candidate_pairs(planted, materialize="table")  # no path


# ---- round 3: CCNet-style cross-document chunk dedup + PII redaction ----


def test_remove_boilerplate_chunks_planted(spark):
    """Docs sharing a planted 8-word boilerplate chunk lose exactly that
    chunk; unique content survives in order; a doc that is ALL boilerplate
    comes back empty."""
    from ocr_spark.operators.dedup import remove_boilerplate_chunks

    boiler = "subscribe to our newsletter today for free updates"  # 8 words
    rows = [
        (1, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, boiler + " one two three four five six seven eight"),
        (3, "iota kappa lambdaa mu nu xi omicron pi " + boiler),
        (4, boiler),  # all boilerplate
        (5, "unique text that appears nowhere else in corpus"),
        (6, ""),  # empty doc: zero chunks, never crashes
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.clean_text, r.n_chunks, r.n_removed)
        for r in remove_boilerplate_chunks(docs, 8, 2).collect()
    }
    assert out[1] == ("alpha beta gamma delta epsilon zeta eta theta", 2, 1)
    assert out[2] == ("one two three four five six seven eight", 2, 1)
    assert out[3] == ("iota kappa lambdaa mu nu xi omicron pi", 2, 1)
    assert out[4] == ("", 1, 1)
    assert out[5] == ("unique text that appears nowhere else in corpus", 1, 0)
    assert out[6] == ("", 0, 0)


def test_redact_pii_kinds_and_counts(spark):
    from ocr_spark.operators.textstats import redact_pii

    rows = [
        (1, "mail a.user+tag@sub.example.org or b@x.co now"),
        (2, "server at 10.0.255.7 and 192.168.1.1 up"),
        (3, "call 555-867-5309 after noon"),
        (4, "clean text with no identifiers at all"),
        (5, "combo: c@d.io 8.8.8.8 555-000-1111 end"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert out[1].n_email == 2 and "<EMAIL>" in out[1].clean_text
    assert "@" not in out[1].clean_text.replace("<EMAIL>", "")
    assert out[2].n_ipv4 == 2 and out[2].clean_text.count("<IP>") == 2
    assert out[3].n_phone == 1 and "<PHONE>" in out[3].clean_text
    assert out[4].clean_text == "clean text with no identifiers at all"
    assert (out[5].n_email, out[5].n_ipv4, out[5].n_phone) == (1, 1, 1)
    assert out[5].clean_text == "combo: <EMAIL> <IP> <PHONE> end"


def test_curate_corpus_gate_order_and_reasons(spark):
    """Each gate fires on its planted doc, in the documented first-failure
    order; the clean doc keeps."""
    from ocr_spark.operators.curation import curate_corpus

    good = ("the data " * 30).strip()  # 60 tokens, stopword-rich, varied?
    # 60 tokens but only 2 distinct -> repetitive; build a genuinely good doc
    good = " ".join(f"the value{i} of point{i} is fine{i}" for i in range(12))
    rows = [
        (1, good),                       # keep
        (2, good),                       # exact dup of 1 -> exact_dup
        (3, "der die das und ist ein zu " * 12),  # german -> lang
        (4, "short text only"),          # -> too_short
        # stopword-rich so quality passes (0.70), 7 distinct of 49 tokens
        # -> dup_token_ratio 0.857 trips the repetition gate
        (5, ("the of and is to in a " * 7).strip()),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    curated = curate_corpus(docs).collect()
    out = {r.doc_id: r for r in curated}
    assert out[1].keep and out[1].reason == "keep"
    assert out[2].reason == "exact_dup" and not out[2].keep
    assert out[3].reason == "lang" and out[3].predicted_lang == "de"
    assert out[4].reason == "too_short"
    assert out[5].reason == "repetitive"
    assert Counter(r.reason for r in curated) == {
        "keep": 1, "exact_dup": 1, "lang": 1, "too_short": 1,
        "repetitive": 1}


def test_stratified_sample_exact_vs_naive_window(spark):
    """The salted two-level top-k must equal the single global window on a
    corpus where the cap BINDS (groups larger than per_group), including
    tie handling (quality desc, doc_id asc)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ocr_spark.operators.curation import stratified_sample
    from ocr_spark.operators.textstats import quality_cols, words

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .limit(300)
        .withColumn("source", (F.col("doc_id") % 3).cast("string"))
        .select("doc_id", "text", "source")
    )  # 3 groups of ~100 >> per_group=10: the cap binds hard
    got = {
        (r.doc_id, r.source, r.rank)
        for r in stratified_sample(docs, per_group=10, n_salts=7).collect()
    }
    q = docs.select(
        "doc_id", F.col("source").alias("grp"), "text", words().alias("_w")
    ).select("doc_id", "grp", *quality_cols())
    w = Window.partitionBy("grp").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    want = {
        (r.doc_id, r.grp, r.rank)
        for r in q.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .collect()
    }
    assert got == want
    assert len(got) == 30


def test_simhash_band_pairs_rejects_unguaranteed_radius(spark, planted):
    """max_hamming beyond the pigeonhole radius must raise, not silently
    return partial recall."""
    from ocr_spark.operators.dedup import simhash_band_pairs

    with pytest.raises(ValueError):
        simhash_band_pairs(planted, n_bands=8, max_hamming=8)


def test_redact_pii_overlapping_counts_match_replacements(spark):
    """A phone/IP inside an email is consumed by the email replacement;
    the counts must equal the placeholders actually emitted — no phantom
    redactions."""
    from ocr_spark.operators.textstats import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "reach me at 555-123-4567@corp.example.com today"),
            (2, "mail user.1.2.3.4@host.example.org soon"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    for r in out.values():
        assert r.clean_text.count("<EMAIL>") == r.n_email
        assert r.clean_text.count("<IP>") == r.n_ipv4
        assert r.clean_text.count("<PHONE>") == r.n_phone
    assert out[1].n_email == 1 and out[1].n_phone == 0
    assert out[2].n_email == 1 and out[2].n_ipv4 == 0


def test_dup_clusters_transitive_closure(spark):
    """min-label propagation finds the true component representative on
    shapes the per-pair min-id rule gets wrong: in a-b, c-b (a<b, c<b) the
    pair rule keeps BOTH a and c; the component says one cluster, rep a."""
    from ocr_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [
            (1, 5), (3, 5),          # star: {1,3,5} rep 1 (pair rule keeps 1 AND 3)
            (10, 11), (11, 12), (12, 13),  # chain: {10..13} rep 10
            (20, 21),                # simple pair
        ],
        "doc_id_a long, doc_id_b long",
    )
    got = {r.doc_id: r.cluster_rep for r in dup_clusters(pairs).collect()}
    assert got == {
        1: 1, 3: 1, 5: 1,
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20,
    }


def test_dup_clusters_convergence_bound(spark):
    """A chain longer than max_iter raises instead of returning a wrong
    fixpoint silently."""
    import pytest as _pytest

    from ocr_spark.operators.dedup import dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_id_a long, doc_id_b long"
    )
    assert (
        dup_clusters(chain, max_iter=20).filter("cluster_rep = 0").count()
        == 13
    )
    with _pytest.raises(RuntimeError):
        dup_clusters(chain, max_iter=3)


def test_dup_clusters_table_mode_resumes(spark, tmp_path):
    """materialize='table': every round is a durable parquet artifact. A
    run killed mid-iteration (simulated by a too-small max_iter) leaves
    its last completed round on disk; a NEW invocation with the same
    table_path resumes from that round instead of restarting the closure,
    and converges to the same answer as a fresh local-mode run."""
    import pytest as _pytest

    from ocr_spark.operators.dedup import dup_clusters

    # a 12-chain: diameter 11 → needs ~11 propagation rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_id_a long, doc_id_b long"
    )
    path = str(tmp_path / "clusters")

    with _pytest.raises(RuntimeError):
        dup_clusters(chain, max_iter=4, materialize="table", table_path=path)
    m1 = spark.read.parquet(f"{path}/manifest").collect()[0]["next_round"]
    assert m1 == 4  # four completed durable rounds on disk

    got = {
        r.doc_id: r.cluster_rep
        for r in dup_clusters(
            chain, max_iter=30, materialize="table", table_path=path
        ).collect()
    }
    assert got == {i: 0 for i in range(12)}
    m2 = spark.read.parquet(f"{path}/manifest").collect()[0]["next_round"]
    assert m2 > m1  # resumed forward, not restarted

    want = {
        r.doc_id: r.cluster_rep
        for r in dup_clusters(chain, max_iter=30).collect()
    }
    assert got == want


# ---- hot-bucket cap of the banded self-join ----

_CLONE = " ".join(f"boiler{i % 11} plate{i}" for i in range(30))
_PLANTED = " ".join(f"tok{(i * 7919) % 1009}" for i in range(120))


def _cap_corpus(spark, n_clones):
    """``n_clones`` identical docs (ids 0..n-1, one bucket per band) plus a
    planted near-duplicate pair at ids 100000/100001 (last word differs)."""
    rows = [(i, _CLONE) for i in range(n_clones)]
    rows += [(100_000, _PLANTED), (100_001, _PLANTED.rsplit(" ", 1)[0] + " tail")]
    return spark.createDataFrame(rows, "doc_id long, text string")


_FAMILIES = {
    "minhash": lambda d: lsh_candidate_pairs(d, n_bands=4, rows_per_band=2),
    "simhash": lambda d: simhash_band_pairs(d, n_bands=8),
}


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_lsh_hot_bucket_cap(spark, family):
    """Buckets over MAX_LSH_BUCKET are dropped before the self-join; a
    bucket of exactly MAX_LSH_BUCKET docs still joins."""
    from ocr_spark.operators.dedup import MAX_LSH_BUCKET

    pairs = _FAMILIES[family]
    planted = (100_000, 100_001)

    over = {
        (r.doc_id_a, r.doc_id_b)
        for r in pairs(_cap_corpus(spark, MAX_LSH_BUCKET + 6)).collect()
    }
    assert over == {planted}

    at_cap = pairs(_cap_corpus(spark, MAX_LSH_BUCKET))
    n = MAX_LSH_BUCKET
    assert at_cap.count() == n * (n - 1) // 2 + 1 == 523_777
    assert at_cap.filter(
        (F.col("doc_id_a") == planted[0]) & (F.col("doc_id_b") == planted[1])
    ).count() == 1
