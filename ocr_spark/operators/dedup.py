"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The dedup family a web-scale corpus pipeline needs, each expressed
Spark-first:

* **exact_dedup** — hash-groupBy on an md5 key. One shuffle on a 16-byte
  key (never on the full text — at 100 TB the key shuffle is ~3 orders of
  magnitude smaller than a text shuffle). Map-side partial aggregation
  applies automatically.
* **minhash_signatures / lsh_candidate_pairs** — shingle → k min-hashes →
  band buckets → bucket self-join. All column expressions
  (``transform``/``array_min`` higher-order functions, JVM-side); the only
  shuffle is the groupBy on (band, bucket-hash), whose fan-in is bounded by
  band width. This is the scale path: candidate pairs are generated without
  any O(N²) comparison.
* **ngram_jaccard_pairs** — exact verification of candidate pairs (or an
  intra-group O(n²) sweep for small groups) via ``array_intersect`` /
  ``array_union`` sizes. Shingles come from the shared n-gram helper
  ``textstats.word_ngrams_expr``, which slices a word array bound once
  per row (boilerplate chunks slice the same array), so building them is
  O(words) per document.
* **simhash64** — 64-bit SimHash over token hashes using bit-arithmetic
  column expressions (sum of per-bit votes via ``aggregate``); near-dup =
  small Hamming distance, computed with ``bit_count(x ^ y)``.

The reference's analogous operator is locality-aware NMS — score-weighted
merging of near-duplicate detections (``/root/reference/
locality_aware_nms.py:18-58``); dedup is the corpus-level generalization:
find near-identical members, keep one representative.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.textstats import _WORDS_EXPR, word_ngrams_expr, words

_WORDS = _WORDS_EXPR.format(col="text")

# hot-bucket cap of the LSH self-join (see ``_bucket_pairs``)
MAX_LSH_BUCKET = 1024


def ensure_min_partitions(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the input
    arrives under-partitioned (a small-file parquet scan can be a single
    partition, serializing the expression-heavy hashing passes onto one
    core — measured 5× on the bench corpus). At real scale the scan
    already has ≥ defaultParallelism partitions and this is a no-op, so
    no shuffle is added where it would hurt."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def shingles(n: int = 3, w: str = "_w") -> str:
    """SQL expression producing the distinct word n-gram set of the word
    array ``w``: a column bound to ``textstats.words()`` in an earlier
    projection, never the split itself (see ``textstats.word_ngrams_expr``,
    which this wraps in ``array_distinct``)."""
    return f"array_distinct({word_ngrams_expr(w, n)})"


def exact_dedup(docs: DataFrame, key_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash.

    Returns one row per distinct content: (doc_id = min id in group,
    n_copies). Shuffles only (md5, doc_id) — the projection drops ``text``
    before the exchange.
    """
    keyed = docs.select(F.md5(F.col(key_col)).alias("k"), "doc_id")
    return (
        keyed.groupBy("k")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "n_copies")
    )


def minhash_signatures(docs: DataFrame, n_hashes: int = 4, shingle_n: int = 3) -> DataFrame:
    """Per-document MinHash signature over word-shingle sets.

    Hash family ``h_i(s) = md5(s || '#i')`` (min taken lexicographically on
    the hex digest — a uniform order, same both in Spark and any ANSI
    oracle). Pure higher-order-function expressions; no UDF, no shuffle.
    Returns (doc_id, sig_0..sig_{k-1}); empty shingle set → NULL signature.

    The word array is bound once per row in its own projection, so each
    shingle slices it (O(words) per document, not a re-split per
    shingle). The signatures are ONE ``aggregate`` pass carrying all k
    running minima (init = 'g' sentinels, lexicographically above any hex
    digest; ``zip_with``/``least`` element-wise update), so the shingle
    set is built once per row regardless of k. The per-signature spelling
    (k separate ``array_min(transform(...))`` columns) re-evaluates the
    shingle construction per signature — measured 3.3× slower at k=8 on
    the bench corpus, identical output.
    """
    k = n_hashes
    init = "array(" + ", ".join(["'g'"] * k) + ")"
    upd = (
        "zip_with(acc, array("
        + ", ".join(f"md5(concat(s, '#{i}'))" for i in range(k))
        + "), (x, y) -> least(x, y))"
    )
    expr = f"aggregate({shingles(shingle_n)}, {init}, (acc, s) -> {upd})"
    sig_arr = (
        ensure_min_partitions(docs)
        .select("doc_id", words().alias("_w"))
        .select("doc_id", F.expr(expr).alias("_sig"))
    )
    cols = [
        F.expr(f"if(_sig[{i}] = 'g', null, _sig[{i}])").alias(f"sig_{i}")
        for i in range(k)
    ]
    return sig_arr.select("doc_id", *cols)


def _materialize(df: DataFrame, materialize: str, path: str | None) -> DataFrame:
    """Materialize a pair or label table one of two ways:

    - ``"local"``: eager ``localCheckpoint`` — cheapest, but the blocks
      live in executor storage and are NOT resilient to executor loss;
      right for interactive/short jobs.
    - ``"table"``: write the rows to ``path`` as parquet and read them
      back — the cluster-resilient path for multi-hour jobs (the table is
      the natural checkpoint artifact; any executor can re-read it after
      a loss).
    """
    if materialize == "table":
        if not path:
            raise ValueError("materialize='table' requires table_path")
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)
    if materialize != "local":
        raise ValueError(f"unknown materialize mode {materialize!r}")
    return df.localCheckpoint(eager=True)


def _bucket_pairs(bands: DataFrame) -> DataFrame:
    """Banded self-join shared by both LSH families: ``(doc_id, band,
    bucket)`` rows → distinct ``(doc_id_a, doc_id_b)`` pairs, a < b, for
    docs sharing any (band, bucket).

    Pair generation is a hash self-join on (band, bucket) — equi-keyed,
    AQE-skew-splittable, never a global O(N²). A census of bucket sizes
    runs first: a bucket of m docs would emit m(m-1)/2 pairs, so buckets
    over ``MAX_LSH_BUCKET`` (the hot-bucket skew case, same rationale as
    the reference's ``max_box_num`` cap) are dropped before the join, and
    any oracle re-implementation must apply the same cap. ``bands`` feeds
    the census and both join sides, so callers pass it persisted.
    """
    sizes = bands.groupBy("band", "bucket").agg(F.count("*").alias("m"))
    ok = sizes.filter(
        (F.col("m") > 1) & (F.col("m") <= MAX_LSH_BUCKET)
    ).select("band", "bucket")
    pruned = bands.join(ok, ["band", "bucket"])
    a, b = pruned.alias("a"), pruned.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )


def _jaccard(a: Column | str, b: Column | str) -> Column:
    """Set Jaccard of two array columns, rounded to 6 dp."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.round(inter / F.greatest(union, F.lit(1)), 6)


def lsh_candidate_pairs(
    docs: DataFrame,
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    materialize: str = "local",
    table_path: str | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    signature length = n_bands * rows_per_band min-hashes; band bucket =
    md5(concat of that band's rows); pairs come from ``_bucket_pairs``,
    which drops hot buckets. Returns (doc_id_a, doc_id_b) distinct, a < b.
    """
    k = n_bands * rows_per_band
    # persist the signature projection BEFORE banding: Catalyst collapses
    # projections, so without a materialization barrier each band-bucket
    # md5 inlines its two signature expressions and the shingle+min-hash
    # HOFs are re-evaluated per band (measured 4× slower at sf0.1)
    sigs = minhash_signatures(docs, n_hashes=k, shingle_n=shingle_n).persist()
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"sig_{b * rows_per_band + r}")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    # the bands relation feeds three consumers (size census + both join
    # sides); without a persist each would re-tokenize and re-hash the
    # whole corpus. Slim rows (id, band, 16-byte bucket) — safe to cache.
    # The candidate-pair result (≪ corpus) is materialized eagerly via an
    # eager localCheckpoint so (a) the bands cache can be released before
    # returning and (b) the returned DataFrame holds no persist the caller
    # must remember to release — checkpoint blocks are reclaimed by the
    # ContextCleaner when the result is garbage-collected, so repeated
    # invocations do not leak storage. (Trade-off: a localCheckpoint is
    # not resilient to executor loss; callers running inside multi-hour
    # cluster jobs should pass materialize="table" + table_path to write
    # the pairs to parquet instead — the natural checkpoint artifact.)
    bands = bands.persist()
    try:
        return _materialize(_bucket_pairs(bands), materialize, table_path)
    finally:
        bands.unpersist()
        sigs.unpersist()


def verify_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard for a GIVEN candidate-pair table — the scale
    path: feed it ``lsh_candidate_pairs`` output and verification cost is
    O(|candidates|) shingle joins, never any O(N²) sweep. The standard
    two-stage web-dedup pipeline is therefore::

        pairs = lsh_candidate_pairs(docs)          # recall stage, bucketed
        dups  = verify_pairs(docs, pairs,          # precision stage, exact
                             min_jaccard=0.7)
        clean = keep_representatives(docs, dups)

    Physical shape: two equi-joins of the slim pair table against the
    shingle projection (doc_id, sh) — shuffle keys are doc ids, text
    itself never moves. Returns (doc_id_a, doc_id_b, jaccard), 6 dp.
    """
    sh = (
        ensure_min_partitions(docs)
        .select("doc_id", words().alias("_w"))
        .select("doc_id", F.expr(shingles(shingle_n)).alias("sh"))
    )
    a = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "doc_id_a").join(b, "doc_id_b")
    jac = _jaccard("sh_a", "sh_b")
    return joined.select("doc_id_a", "doc_id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= F.lit(min_jaccard)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    group_col: str = "source",
    shingle_n: int = 3,
    min_jaccard: float = 0.05,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within a blocking group —
    the small-corpus / test spelling. At corpus scale use ``verify_pairs``
    over ``lsh_candidate_pairs`` output instead: an attribute blocking
    column like ``source`` has bounded cardinality, so intra-group sweeps
    grow O(n²/groups). Returns (doc_id_a, doc_id_b, jaccard) with a < b
    and jaccard >= min_jaccard, rounded to 6 dp.
    """
    sh = docs.select(
        F.col(group_col).alias("g"), "doc_id", words().alias("_w")
    ).select("g", "doc_id", F.expr(shingles(shingle_n)).alias("sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    joined = a.join(b, on="g").filter(F.col("a.doc_id") < F.col("b.doc_id"))
    jac = _jaccard(F.col("a.sh"), F.col("b.sh"))
    return (
        joined.select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(min_jaccard))
    )


# hex digits whose high bit is set — "is bit b of the token hash 1" reads
# hex digit b of the md5-derived hash string and checks membership here.
_HI_HEX = "'8','9','a','b','c','d','e','f'"


def simhash64(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per document from md5-derived token-hash bits.

    Per token t the 64 hash bits are the high bits of the 64 hex digits of
    ``md5(t) || md5(t || '#')`` — a uniform bit family both Spark and any
    ANSI/DuckDB oracle can compute (the same respelling-for-provability
    move ``minhash_signatures`` makes; xxhash64 has no SQL twin). For each
    bit b, vote +1/−1 by bit value (token frequency weights votes since
    every occurrence votes); sig bit b = 1 iff the summed vote > 0.
    Expressed as 64 ``aggregate`` reductions over the hashed-token array —
    entirely JVM-side expressions, one pass, zero shuffle.

    Returns (doc_id, simhash_hi, simhash_lo): bits 32..63 / 0..31 packed
    into two non-negative 32-bit values (a single 64-bit pack would
    overflow BIGINT at bit 63 under ANSI mode — in Spark AND in the
    oracle). Near-duplicate query:
    ``bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b) <= k``.

    Like ``minhash_signatures``, all 64 vote counters ride in ONE
    ``aggregate`` (``zip_with`` element-wise add), so tokens are hashed
    exactly once per document — the 64-separate-aggregates spelling
    re-scans the token array per bit (measured 2.8× slower, identical
    output).
    """
    init = "array(" + ", ".join(["0L"] * 64) + ")"
    votes = (
        "array("
        + ", ".join(
            f"if(substr(h, {b + 1}, 1) in ({_HI_HEX}), 1L, -1L)"
            for b in range(64)
        )
        + ")"
    )
    expr = (
        f"aggregate(transform({_WORDS}, x -> concat(md5(x), md5(concat(x, '#')))), "
        f"{init}, (acc, h) -> zip_with(acc, {votes}, (x, y) -> x + y))"
    )
    voted = ensure_min_partitions(docs).select(
        "doc_id", F.expr(expr).alias("_v")
    )

    def _pack(lo_bit: int) -> str:
        return " + ".join(
            f"if(_v[{lo_bit + i}] > 0, {1 << i}L, 0L)" for i in range(32)
        )

    return voted.select(
        "doc_id",
        F.expr(_pack(32)).alias("simhash_hi"),
        F.expr(_pack(0)).alias("simhash_lo"),
    )


def simhash_band_pairs(
    docs: DataFrame,
    n_bands: int = 8,
    max_hamming: int | None = None,
    materialize: str = "local",
    table_path: str | None = None,
) -> DataFrame:
    """SimHash near-pairs by Hamming-band bucketing — the SCALE path (an
    equi-join on band bits, never an all-pairs sweep).

    Pigeonhole guarantee: split the 64 signature bits into ``n_bands``
    equal bands; two signatures within Hamming distance < n_bands must
    agree EXACTLY on at least one band, so an equi self-join on
    (band, bucket) finds every pair with distance ≤ n_bands − 1 — the
    default ``max_hamming``. Recall is exactly 1.0 in that radius, unlike
    MinHash banding's probabilistic recall.

    Physical shape mirrors ``lsh_candidate_pairs``: persisted signature
    projection (Catalyst would otherwise re-inline the 64-vote aggregate
    into every band expression), band explode to slim (doc_id, band,
    bucket) rows, the capped self-join of ``_bucket_pairs``, then exact
    XOR-popcount verification of candidates only. Returns (doc_id_a, doc_id_b, hamming)
    distinct with a < b, hamming ≤ max_hamming.
    """
    if 64 % n_bands or 32 % (64 // n_bands):
        raise ValueError("n_bands must split 64 bits within 32-bit halves")
    bits = 64 // n_bands
    mask = (1 << bits) - 1
    if max_hamming is None:
        max_hamming = n_bands - 1
    if max_hamming >= n_bands:
        # the pigeonhole guarantee only reaches n_bands - 1: a wider
        # radius would SILENTLY return partial recall (pairs at distance
        # >= n_bands are found only on coincidental band agreement) —
        # refuse rather than hand back a result that looks complete
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the guaranteed radius "
            f"{n_bands - 1} of {n_bands} bands; use more/wider bands"
        )
    sigs = simhash64(docs).persist()
    band_vals = [
        F.expr(
            f"shiftright(simhash_{'lo' if i * bits < 32 else 'hi'}, "
            f"{(i * bits) % 32}) & {mask}"
        )
        for i in range(n_bands)
    ]
    bands = sigs.select(
        "doc_id",
        F.posexplode(F.array(*band_vals)).alias("band", "bucket"),
    ).persist()
    try:
        sa = sigs.select(
            F.col("doc_id").alias("doc_id_a"),
            F.col("simhash_hi").alias("hi_a"),
            F.col("simhash_lo").alias("lo_a"),
        )
        sb = sigs.select(
            F.col("doc_id").alias("doc_id_b"),
            F.col("simhash_hi").alias("hi_b"),
            F.col("simhash_lo").alias("lo_b"),
        )
        ham = F.bit_count(
            F.col("hi_a").bitwiseXOR(F.col("hi_b"))
        ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        pairs = (
            _bucket_pairs(bands)
            .join(sa, "doc_id_a")
            .join(sb, "doc_id_b")
            .select(
                "doc_id_a",
                "doc_id_b",
                ham.cast("long").alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        )
        return _materialize(pairs, materialize, table_path)
    finally:
        bands.unpersist()
        sigs.unpersist()


def _chunk_rows(docs: DataFrame, cw: int) -> DataFrame:
    """(doc_id, pos, chunk, h): each doc's consecutive ``cw``-word chunks,
    sliced from the word array bound once per row (``_w``), with the md5
    of each chunk."""
    chunks_expr = (
        "CASE WHEN size(_w) = 0 THEN array() "
        # sequence(0, -1) would yield DESCENDING [0, -1], not empty —
        # the guarded spelling (engine rule: never unguarded sequence)
        f"ELSE transform(sequence(0, CAST(ceil(size(_w) / {cw}.0) AS INT) - 1), "
        f"i -> array_join(slice(_w, i * {cw} + 1, {cw}), ' ')) END"
    )
    # frequency is keyed on md5(chunk) while the DuckDB oracle groups on
    # the raw chunk text: an md5 collision between distinct chunks would
    # over-remove content and diverge from the oracle. Same documented
    # collision assumption as every other md5-keyed dedup oracle here
    # (exact_dedup, minhash, LSH buckets) — astronomically unlikely, and
    # accepted for the 16-byte-key shuffle it buys.
    return (
        ensure_min_partitions(docs)
        .select("doc_id", words().alias("_w"))
        .select("doc_id", F.posexplode(F.expr(chunks_expr)).alias("pos", "chunk"))
        .withColumn("h", F.md5("chunk"))
    )


def remove_boilerplate_chunks(
    docs: DataFrame, chunk_words: int = 8, min_docs: int = 2
) -> DataFrame:
    """CCNet/RefinedWeb-style cross-document chunk dedup: split each doc
    into fixed ``chunk_words``-word chunks, count the DISTINCT documents
    containing each chunk text corpus-wide, drop every chunk that appears
    in ≥ ``min_docs`` documents (repeated across documents = boilerplate:
    nav text, legal footers, subscribe prompts survive main-content
    extraction on some sites), and reassemble the surviving chunks in
    document order.

    Physical shape (the standard line-dedup shape at corpus scale): one
    chunk explode (text bytes move once), a frequency aggregation keyed on
    the 16-byte md5 of the chunk (count-distinct doc shuffle carries
    (hash, doc_id), never the text), a hash equi-join back, and one
    slim-row reassembly groupBy. No self-joins, no windows over the
    corpus. Returns (doc_id, clean_text, n_chunks, n_removed) — docs whose
    chunks are ALL boilerplate come back with clean_text = ''.
    """
    exploded = _chunk_rows(docs, int(chunk_words)).persist()
    try:
        freq = exploded.groupBy("h").agg(
            F.countDistinct("doc_id").alias("nd")
        )
        boiler = freq.filter(F.col("nd") >= min_docs).select("h")
        kept = exploded.join(boiler, "h", "left_anti")
        reassembled = kept.groupBy("doc_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
        totals = exploded.groupBy("doc_id").agg(
            F.count("*").alias("n_chunks")
        )
        out = (
            docs.select("doc_id")
            .join(totals, "doc_id", "left")
            .join(reassembled, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
                (
                    F.coalesce("n_chunks", F.lit(0))
                    - F.coalesce("n_kept", F.lit(0))
                ).cast("long").alias("n_removed"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        exploded.unpersist()


def dup_clusters(
    pairs: DataFrame,
    max_iter: int = 50,
    materialize: str = "local",
    table_path: str | None = None,
) -> DataFrame:
    """Connected components over a duplicate-pair graph → per-doc cluster
    representative (the component's min doc_id).

    ``keep_representatives`` applies the min-id rule PER PAIR — an
    approximation that can keep one member of a transitive chain
    (a–b, b–c: c's pair says drop c, b's pair says drop b, a survives —
    but a chain a–b, c–b with a<b, b>c keeps BOTH a and c even though all
    three are one duplicate cluster). This operator computes the true
    transitive closure by iterative min-label propagation: every vertex
    starts labeled with itself; each round every vertex takes the min of
    its own label and its neighbors' labels; fixpoint = per-component min
    id. Rounds needed = component diameter (web dup clusters are shallow;
    ``max_iter`` bounds the pathological chain). Per round: one
    edges⋈labels equi-join + one groupBy(min) — all partial-aggregated
    slim (id, id) rows; lineage is cut per round so the plan does not
    grow with iterations. Deterministic.

    Durability (the two modes of ``_materialize``):

    - ``materialize="local"``: per-round ``localCheckpoint`` — cheapest,
      right for interactive jobs, but the blocks live in executor storage
      and an executor loss mid-run restarts the whole iteration.
    - ``materialize="table"``: edges and every round's labels are written
      to ``table_path`` as parquet and read back — each round is a
      durable artifact, and a NEW invocation with the same ``table_path``
      RESUMES from the last completed round (a killed multi-hour corpus
      job re-does at most one round, not the whole closure). A tiny
      manifest parquet records the last completed round.

    Returns (doc_id, cluster_rep) for every vertex that appears in
    ``pairs``. Raises if the fixpoint is not reached within max_iter.
    """
    spark = pairs.sparkSession

    def persist(df: DataFrame, name: str) -> DataFrame:
        return _materialize(df, materialize, f"{table_path}/{name}")

    start_round = 0
    labels = None
    edges = None
    if materialize == "table":
        if not table_path:
            raise ValueError("materialize='table' requires table_path")
        try:  # resume from a prior run's last completed round
            manifest = spark.read.parquet(f"{table_path}/manifest").collect()
            start_round = int(manifest[0]["next_round"])
            edges = spark.read.parquet(f"{table_path}/edges")
            labels = spark.read.parquet(
                f"{table_path}/labels_{start_round - 1:05d}"
            )
        except Exception:  # noqa: BLE001 — no artifact yet: fresh start
            start_round = 0

    if edges is None:
        edges = persist(
            pairs.select(
                F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
            )
            .unionByName(
                pairs.select(
                    F.col("doc_id_b").alias("src"),
                    F.col("doc_id_a").alias("dst"),
                )
            )
            .distinct(),
            "edges",
        )
    if labels is None:
        labels = persist(
            edges.select(F.col("src").alias("doc_id"))
            .distinct()
            .withColumn("label", F.col("doc_id")),
            "labels_init",
        )

    for rnd in range(start_round, max_iter):
        prop = (
            edges.join(
                labels.withColumnRenamed("doc_id", "src"), "src"
            )
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry the per-round delta flag INTO the artifact so the
        # convergence probe is a metadata-cheap filter over the parquet
        # just written, not a second join
        new = persist(
            labels.join(prop, "doc_id", "left").select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (
                    F.coalesce("nbr_label", F.col("label")) < F.col("label")
                ).alias("changed"),
            ),
            f"labels_{rnd:05d}",
        )
        if materialize == "table":
            spark.createDataFrame(
                [(rnd + 1,)], "next_round int"
            ).write.mode("overwrite").parquet(f"{table_path}/manifest")
        changed = new.filter(F.col("changed")).count()
        labels = new.select("doc_id", "label")
        if changed == 0:
            return labels.select(
                "doc_id", F.col("label").alias("cluster_rep")
            )
    raise RuntimeError(
        f"dup_clusters did not converge in {max_iter} rounds "
        f"(component diameter exceeds the bound)"
    )


def keep_representatives(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Given dup pairs (a < b), drop every doc that appears as the larger id
    of any pair — the min-id representative of each dup cluster survives.
    (Transitive closure is approximated by the min-id rule, the standard
    single-pass policy for web dedup.)"""
    losers = pairs.select(F.col("doc_id_b").alias("doc_id")).distinct()
    return docs.join(losers, "doc_id", "left_anti")
