"""Physical-plan discipline tests: pushdown, pruning, broadcast, shuffle
counts, codegen. A regression here means a silent 100TB-scale slowdown
even if results stay correct — these are performance invariants, asserted
like correctness."""

from __future__ import annotations

import pyspark.sql.functions as F

import __spark_entry__ as em
from ocr_spark.plans.inspect import (
    count_exchanges,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
    wholestage_codegen_ids,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("n_chars") > 100)
        .select("doc_id", "text")
    )
    pf = pushed_filters(df)
    assert any("n_chars" in f for f in pf), pf


def test_column_pruning_flagship(spark):
    """The flagship extraction must scan ONLY the columns the synth+extract
    UDFs declare — never the full documents schema."""
    q = em.q_extract_html(spark, SF)
    schemas = read_schema_columns(q)
    assert schemas and set(schemas[0]) == {"doc_id", "text", "lang", "source"}


def test_column_pruning_textstats(spark):
    # the quality-score OPERATOR stays a pure map-side projection (the
    # text_signals contract query joins it to the repetition/compression
    # panels, which legitimately shuffle slim per-doc rows)
    from ocr_spark.operators.textstats import quality_score

    q = quality_score(em._docs(spark, SF))
    schemas = read_schema_columns(q)
    assert schemas and set(schemas[0]) == {"doc_id", "text"}
    # pure map-side pipeline: no shuffle at all, fully codegen'd
    assert count_exchanges(q) == 0
    assert wholestage_codegen_ids(q) >= 1


def test_flagship_single_exchange(spark):
    """scan → repartition (explicit fan-out) → synth → extract: at most
    one exchange — the extraction itself must not introduce a shuffle.
    (≤, not ==: if another suite cached the shared pages subtree, the
    fan-out lives inside the cache build and the query executes zero.)"""
    assert count_exchanges(em.q_extract_html(spark, SF)) <= 1


def test_pdf_colocated_zero_shuffle(spark):
    """The colocated PDF path must be shuffle-free after its explicit
    fan-out repartition."""
    assert count_exchanges(em.q_extract_pdf(spark, SF)) <= 1  # only fan-out


def test_dim_joins_broadcast(spark):
    q = em.q_rel_nation_revenue(spark, SF)
    assert has_broadcast_join(q)
    # orders side shuffles once for the final aggregate, never for the joins
    assert count_exchanges(q) <= 1


def test_sim_topk_broadcasts_queries(spark):
    q = em.q_sim_topk(spark, SF)
    assert has_broadcast_join(q)
    # candidate side: no shuffle before scoring; one exchange for the
    # per-query window rank
    assert count_exchanges(q) <= 1


def test_dedup_map_side(spark):
    """Exact dedup shuffles only the (hash, id) projection — the scan must
    not read any column beyond text + doc_id."""
    q = em.q_dedup_exact(spark, SF)
    schemas = read_schema_columns(q)
    assert schemas and set(schemas[0]) == {"doc_id", "text"}
    assert count_exchanges(q) == 1  # the groupBy(k)


def test_minhash_no_aggregation_shuffle(spark):
    """The signature/bit-vote computations are map-side only: no hash or
    range exchange anywhere in the plan. A RoundRobin fan-out IS allowed —
    ensure_min_partitions deliberately repartitions an under-partitioned
    small-file scan so the HOF passes use all cores (no-op at scale)."""
    from ocr_spark.plans.inspect import explain_str

    from ocr_spark.operators.dedup import minhash_signatures, simhash64

    docs = em._docs(spark, SF)
    for q in (minhash_signatures(docs, n_hashes=4), simhash64(docs)):
        plan = explain_str(q, "simple")
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Exchange rangepartitioning" not in plan, plan


def _exchange_output_columns(df) -> list[list[str]]:
    """Output columns of every exchange in the physical plan (AQE's input
    plan, where EnsureRequirements has already placed the exchanges)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    cols, todo = [], [plan]
    while todo:
        node = todo.pop()
        if "Exchange" in node.nodeName():
            out = node.output()
            cols.append([out.apply(i).name() for i in range(out.size())])
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return cols


def test_round2_query_plan_budgets(spark):
    """Plan discipline for the noisy/rotated queries: the rotated PDF path
    is map-only after its fan-out repartition; both OCR contract queries
    render, recognize and join each doc's segments in the one map stage
    after their fan-out, so no strip column and no segment-reassembly
    groupBy ever appear.
    The fused noisy pipeline never shuffles the html blobs: with the
    fixture cache on, the scan of the cached files fans out by itself;
    with it off, only the slim documents rows cross the synth fan-out."""
    for q in (em.q_ocr_roundtrip, em.q_ocr_noisy):
        df = q(spark, SF)
        assert count_exchanges(df) == 1  # the fan-out only
        # every node of the optimized plan lists its output columns
        assert "strip#" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert count_exchanges(em.q_extract_pdf_rotated(spark, SF)) == 1
    for q in (em.q_extract_full, em.q_extract_full_noisy):
        outputs = _exchange_output_columns(q(spark, SF))
        assert not any("html" in cols for cols in outputs), outputs


def test_dedup_embedding_join_is_bucketed(spark):
    """The embedding near-dup self-join must be an equi-join on the
    (table, bucket) key — no cartesian/broadcast-nested-loop anywhere."""
    from ocr_spark.plans.inspect import explain_str

    plan = explain_str(em.q_dedup_embedding(spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_strip_cached_subtrees_handles_branch_prefixes():
    """Cached build plans in a NON-LAST join branch render with ':'
    continuation prefixes (constant leading-space count); the stripper
    must still drop their exchanges."""
    from ocr_spark.plans.inspect import _strip_cached_subtrees

    plan = "\n".join([
        "SortMergeJoin",
        ":- InMemoryTableScan [a]",
        ":     +- InMemoryRelation [a]",
        ":           +- Exchange hashpartitioning(a, 4)",
        ":              +- FileScan parquet",
        "+- Sort [b]",
        "   +- Exchange hashpartitioning(b, 4)",
        "      +- FileScan parquet",
    ])
    stripped = _strip_cached_subtrees(plan)
    assert "Exchange hashpartitioning(a, 4)" not in stripped
    assert "Exchange hashpartitioning(b, 4)" in stripped


def test_text_redact_is_map_only(spark):
    """PII redaction is pure JVM regexp projection: zero exchanges beyond
    the scan, no Python evaluation anywhere in the plan."""
    from ocr_spark.plans.inspect import explain_str

    df = em.q_text_redact(spark, SF)
    plan = explain_str(df, "simple")
    assert count_exchanges(df) == 0
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_dedup_chunks_no_cartesian_and_pruned_freq(spark):
    """The chunk-frequency path must be equi-join shaped: no cartesian or
    broadcast nested loop anywhere in the boilerplate-removal plan.
    q_dedup_chunks localCheckpoints its result (persist-lifecycle rule),
    which erases the plan — so this rebuilds the operator's pre-checkpoint
    composition (chunk explode → freq → anti-join) and inspects that."""
    from ocr_spark.operators.dedup import _chunk_rows

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    exploded = _chunk_rows(docs, 8)
    freq = exploded.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    boiler = freq.filter(F.col("nd") >= 2).select("h")
    kept = exploded.join(boiler, "h", "left_anti")
    from ocr_spark.plans.inspect import explain_str

    plan = explain_str(kept, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_video_ocr_is_map_only(spark):
    """Video-frame OCR never shuffles: one scan, one MapInPandas, zero
    exchanges — the payload is dropped inside the stage, so at scale the
    frame-text table multiplies rows without ever moving video bytes
    across the network."""
    import numpy as np

    from ocr_spark.kernels.avi import encode_avi
    from ocr_spark.kernels.font import render_line_font
    from ocr_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        recognize_video_frames,
    )
    from ocr_spark.plans.inspect import count_exchanges

    frames = np.stack(
        [(render_line_font("plan")[0] * 255).astype(np.uint8)]
    )
    media = spark.createDataFrame(
        [(1, "u", "video", bytearray(encode_avi(frames, codec="mjpg")),
          (384, 8, 1, None, "video/avi"))],
        MEDIA_SCHEMA,
    )
    df = recognize_video_frames(media)
    assert count_exchanges(df) == 0
    assert df.collect()[0].text == "plan"


def test_warc_path_is_map_only(spark, tmp_path, monkeypatch):
    """binaryFile scan → WARC parse → extraction must introduce ZERO
    exchanges: at crawl scale the archives are the parallelism unit and
    every added shuffle would move the raw html bytes."""
    monkeypatch.setenv("SPARK_GRAFT_FIXTURE_CACHE", str(tmp_path))
    from ocr_spark.operators.extract_html import extract_pages
    from ocr_spark.sources.warc import read_warc, warc_fixture

    path = warc_fixture(spark, SF, n_files=2)
    out = extract_pages(read_warc(spark, path + "/*.warc.gz"))
    assert count_exchanges(out) == 0
