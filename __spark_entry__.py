"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship HTML main-content extraction on sf0.001.
``queries()`` — one entry per implemented operator family (SURVEY.md §2 +
the training-data-pipeline operators), each ``(spark, sf_dir) → DataFrame``.
``oracle_sql()`` — matching DuckDB SQL on the same parquet tables.

Oracle-parity rules observed throughout: every computed column is aliased
identically on both sides; integer outputs are ``bigint`` on both sides
(DuckDB ``count``/``len`` are BIGINT, Spark ``size``/``count`` are cast);
doubles that cross an aggregation or dot-product are rounded (6 dp for
ratios, 2–4 dp for big sums) so floating-point association differences
cannot flip the value hash.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# Shared SQL fragments (DuckDB dialect) mirroring the library's definitions
# ---------------------------------------------------------------------------

# url synthesis — the SQL twin of ocr_spark.kernels.synth.url_for_doc
_HOST_POOL = [
    "news.example.com", "blog.example.org", "shop.example.net",
    "docs.example.io", "forum.example.dev", "wiki.example.co",
    "media.example.tv", "press.example.info",
]
_HOST_SQL = (
    "CASE WHEN doc_id % 100 < 30 THEN 'hot.example.com' ELSE CASE doc_id % 8 "
    + " ".join(f"WHEN {i} THEN '{h}'" for i, h in enumerate(_HOST_POOL))
    + " END END"
)
_URL_SQL = f"'https://' || {_HOST_SQL} || '/' || source || '/' || CAST(doc_id AS VARCHAR)"

# whitespace tokens / shingles — twins of operators.textstats / operators.dedup
_DWORDS = "list_filter(string_split_regex(text, '\\s+'), x -> x != '')"
_DSHINGLES = (
    f"CASE WHEN len({_DWORDS}) < 3 THEN [] "
    f"ELSE list_distinct(list_transform(range(len({_DWORDS}) - 2), "
    f"i -> array_to_string({_DWORDS}[i+1:i+3], ' '))) END"
)


def _minhash_sig_sql(i: int) -> str:
    return f"list_min(list_transform(sh, s -> md5(s || '#{i}')))"


# PDF expected output — the SQL twin of ocr_spark.kernels.synth_pdf
_PDF_FAMILY_IDS = {0: [2, 0, 3, 1, 10], 1: [0, 2, 4, 1, 3, 5], 2: [0, 1, 2]}


def _pdf_block_sql(b: int) -> str:
    return (
        f"'doc ' || CAST(doc_id AS VARCHAR) || ' block {b} content words "
        "alpha beta gamma delta epsilon zeta eta theta'"
    )


def _pdf_expected_sql() -> str:
    cases = []
    for fam, ids in _PDF_FAMILY_IDS.items():
        joined = ", ".join(_pdf_block_sql(b) for b in ids)
        cases.append(f"WHEN {fam} THEN concat_ws(chr(10) || chr(10), {joined})")
    return "CASE doc_id % 3 " + " ".join(cases) + " END"


# ---------------------------------------------------------------------------
# Spark-side query callables
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_extract_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: synth pages table → fused mapInPandas extraction."""
    from ocr_spark.operators.extract_html import extract_pages
    from ocr_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir, n_paragraphs=1)
    out = extract_pages(pages)
    return out.select(
        "url", "lang", "extracted_text", F.col("n_blocks").cast("long").alias("n_blocks")
    )


def q_extract_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production front door: real WARC bytes → pages → extraction.

    The corpus materializes as member-gzipped multi-file WARC archives
    (``sources.warc.warc_fixture`` — one gzip member per record, the
    Common Crawl layout), is read back through ``read_warc`` (binaryFile
    scan → per-member inflate → WARC header parse → HTTP payload strip),
    and extracted. Every emitted value crosses the full container path:
    the url and warc_ts come from parsed WARC headers (the timestamp
    string proves WARC-Date parsing end-to-end), the text from HTML
    payload bytes that lived inside gzip members."""
    from ocr_spark.operators.extract_html import extract_pages
    from ocr_spark.sources.warc import read_warc, warc_fixture

    _pin_utc(spark)
    path = warc_fixture(spark, sf_dir)
    pages = read_warc(spark, path + "/*.warc.gz")
    out = extract_pages(pages)
    return out.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("warc_time"),
        "extracted_text",
        F.col("n_blocks").cast("long").alias("n_blocks"),
    )


def q_extract_html_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-paragraph pages: byte-identical match flag per url."""
    from ocr_spark.operators.extract_html import extract_pages
    from ocr_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir, n_paragraphs=3)
    out = extract_pages(pages)
    # expected: same paragraph re-split as wrap_html, joined with the block
    # separator — built from the raw text, independent of the extractor
    import pandas as pd

    from ocr_spark.config import BLOCK_SEPARATOR
    from ocr_spark.kernels.synth import url_for_doc

    def expected_fn(batches):
        for pdf in batches:
            urls, exps = [], []
            for doc_id, text, source in zip(pdf["doc_id"], pdf["text"], pdf["source"]):
                urls.append(url_for_doc(int(doc_id), str(source)))
                words = str(text).split(" ")
                step = max(1, len(words) // 3)
                paras = [
                    " ".join(words[i : i + step]) for i in range(0, len(words), step)
                ]
                exps.append(BLOCK_SEPARATOR.join(p for p in paras if p))
            yield pd.DataFrame({"url": urls, "expected_text": exps})

    from ocr_spark.operators.extract_html import extraction_match_rate

    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
    expected = docs.mapInPandas(expected_fn, schema="url string, expected_text string")
    return extraction_match_rate(out, expected)


def q_extract_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full fused pipeline: HTML branch + embedded-image OCR branch."""
    from ocr_spark.operators.pipeline import extract_full
    from ocr_spark.sources.pages import pages_with_images_from_documents

    pages = pages_with_images_from_documents(spark, sf_dir)
    return extract_full(pages)


def q_extract_full_noisy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused pipeline over NON-identity imagery: embedded lines are
    bitmap-font renders, 2×-upscaled with seeded noise, shipped in MIXED
    real containers (per-line PNG or baseline JPEG — the lossy branch
    adds quantization artifacts on top of the noise) and decoded by the
    NCC recognizer — the production path with nothing bit-identical
    between renderer and recognizer, container-agnostic. Same closed-form
    oracle as extract_full."""
    from ocr_spark.operators.pipeline import extract_full
    from ocr_spark.sources.pages import (
        pages_with_noisy_font_images_from_documents,
    )

    pages = pages_with_noisy_font_images_from_documents(spark, sf_dir)
    return extract_full(pages, recognizer="font")


def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-span contract: spans tile the extracted text exactly (the
    north-star offset guarantee), checked corpus-wide via SQL-visible
    aggregates: per url, span count and total covered chars."""
    from ocr_spark.operators.extract_html import extract_pages
    from ocr_spark.sources.pages import pages_from_documents

    out = extract_pages(pages_from_documents(spark, sf_dir, n_paragraphs=1))
    return out.select(
        "url",
        F.size("spans").cast("long").alias("n_spans"),
        F.expr(
            "aggregate(spans, 0L, (acc, s) -> acc + (s.end - s.start))"
        ).alias("covered_chars"),
    )


def q_extract_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document counts off the flagship output (skew surface)."""
    out = q_extract_html(spark, sf_dir)
    host = F.regexp_extract("url", r"^https://([^/]+)/", 1)
    return out.groupBy(host.alias("host")).agg(F.count("*").alias("n_docs"))


def q_extract_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document extraction-confidence signal: the boilerplate ratio
    (chrome char mass dropped / total block-node char mass). Hard-oracled:
    every chrome node's text length is a closed form of the md5 url_key
    (the same model as the nodes_profile oracle), so the ratio is exactly
    SQL-reconstructible from the raw documents table."""
    from ocr_spark.operators.extract_html import extract_pages
    from ocr_spark.sources.pages import pages_from_documents

    out = extract_pages(pages_from_documents(spark, sf_dir, n_paragraphs=1))
    return out.select(
        "url",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.round("boilerplate_ratio", 6).alias("boilerplate_ratio"),
    )


def q_curate_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-curation rollup — the keep/drop-this-host decision surface
    of a web corpus pipeline: per host, document count, mean quality
    score, and exact-duplicate ratio (1 − distinct contents / docs). One
    partial-agg shuffle on the host key; quality is the ``quality``
    column of ``textstats.quality_cols``."""
    from ocr_spark.operators.textstats import quality_cols, words

    docs = _docs(spark, sf_dir).select(
        F.expr(_HOST_SQL).alias("host"), "text", words().alias("_w")
    )
    return docs.select("host", "text", *quality_cols()).groupBy("host").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.round(
            F.lit(1.0) - F.countDistinct(F.md5("text")) / F.count("*"), 6
        ).alias("dup_ratio"),
    )


def q_dom_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded DOM-node table: content <p> rollup across the corpus."""
    from ocr_spark.operators.nodes import tokenize_to_nodes
    from ocr_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir, n_paragraphs=1)
    nodes = tokenize_to_nodes(pages)
    # content <p> only: the synth chrome also carries a footer <p>, which is
    # flagged negative by ancestry — exactly what the node table is for
    return nodes.filter((F.col("tag") == "p") & (~F.col("negative"))).agg(
        F.count("*").alias("n_p_nodes"),
        F.sum("text_len").alias("total_text_len"),
    )


def q_nodes_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-table analytics surface: per-tag corpus profile over the
    flattened DOM-node table. Hard-oracled: every chrome-node count and
    text length is a closed form of the md5-derived ``url_key`` (see
    ``_nodes_profile_oracle_sql``), so the DuckDB twin reproduces the full
    per-tag rollup from the raw documents table."""
    from ocr_spark.operators.nodes import tokenize_to_nodes
    from ocr_spark.sources.pages import pages_from_documents

    nodes = tokenize_to_nodes(pages_from_documents(spark, sf_dir))
    return nodes.groupBy("tag").agg(
        F.count("*").alias("n_nodes"),
        F.round(F.avg("score"), 6).alias("avg_score"),
        F.round(F.avg(F.col("negative").cast("double")), 6).alias("neg_rate"),
        F.sum("text_len").alias("total_chars"),
    )


def q_extract_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF branch: per-doc deterministic layout → XY-cut + NMS → text."""
    import pandas as pd

    from ocr_spark.kernels.synth_pdf import make_pdf_doc
    from ocr_spark.operators.extract_pdf import extract_pdf_blocks

    def blocks_fn(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_rows, _, _ = make_pdf_doc(int(doc_id))
                rows.extend(doc_rows)
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "page", "block_id", "x0", "y0", "x1", "y1",
                    "text", "score",
                ],
            )

    blocks_schema = (
        "url string, page long, block_id long, x0 double, y0 double, "
        "x1 double, y1 double, text string, score double"
    )
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    blocks = docs.mapInPandas(blocks_fn, schema=blocks_schema)
    # blocks are generated per-document inside one task → already colocated;
    # the zero-shuffle path (see extract_pdf_blocks docstring)
    out = extract_pdf_blocks(blocks, colocated=True)
    return out.select(
        "url", "extracted_text", F.col("n_blocks").cast("long").alias("n_blocks")
    )


def q_extract_pdf_rotated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF branch under rotation: every block quad is rotated by a per-doc
    angle in [-0.16, 0.16] rad, then suppressed/merged with TRUE polygon
    IoU (Sutherland–Hodgman clip — the lanms semantics) and read in
    XY-cut order over the quad hulls. The oracle is the same closed-form
    expected text as ``extract_pdf``: rotation must not change reading
    order or merge decisions, which only holds if the polygon geometry is
    right (AABB IoU on rotated near-dup fixtures gives different merges)."""
    import numpy as np
    import pandas as pd

    from ocr_spark.kernels.blocks import assemble_pdf_text, rect_to_quad
    from ocr_spark.kernels.synth_pdf import make_pdf_doc

    def rotated_fn(batches):
        for pdf in batches:
            urls, texts_out, n_blocks = [], [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                rows, _, _ = make_pdf_doc(doc_id)
                angle = ((doc_id % 9) - 4) * 0.04
                pages_a = np.array([r["page"] for r in rows])
                boxes = np.array(
                    [[r["x0"], r["y0"], r["x1"], r["y1"]] for r in rows]
                )
                scores = np.array([r["score"] for r in rows])
                texts = [r["text"] for r in rows]
                bids = np.array([r["block_id"] for r in rows])
                quads = np.stack([rect_to_quad(b, angle) for b in boxes])
                text, ids = assemble_pdf_text(
                    pages_a, quads, scores, texts, bids
                )
                urls.append(rows[0]["url"])
                texts_out.append(text)
                n_blocks.append(len(ids))
            yield pd.DataFrame(
                {
                    "url": urls,
                    "extracted_text": texts_out,
                    "n_blocks": n_blocks,
                }
            )

    docs = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return docs.mapInPandas(
        rotated_fn,
        schema="url string, extracted_text string, n_blocks long",
    )


def q_extract_html_wild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wild-HTML honesty gate: the hand-written realistic-layout corpus
    (``ocr_spark.fixtures.wild_html`` — comment sections, ads, cookie
    walls, entity salad, script/comment decoys, table layouts, misnested
    tags, div soup) runs through the FULL distributed extraction pipeline;
    the oracle is the hand-specified expected main text, verbatim, as a
    VALUES table. Unlike the synthetic chrome model, the extractor cannot
    co-evolve with these expectations — they are human judgments written
    down first. Input is independent of sf_dir (the corpus is fixed)."""
    import datetime

    from ocr_spark.fixtures.wild_html import WILD_CASES
    from ocr_spark.operators.extract_html import extract_pages
    from ocr_spark.sources.pages import PAGES_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (
            f"wild://case/{fid}",
            ts,
            bytearray(html if isinstance(html, bytes) else html.encode("utf-8")),
            None,
            "en",
        )
        for fid, _name, html, _expected in WILD_CASES
    ]
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA).repartition(4)
    out = extract_pages(pages)
    return out.select(
        F.regexp_extract("url", r"wild://case/(\d+)", 1)
        .cast("long")
        .alias("fixture_id"),
        F.col("extracted_text").alias("text_out"),
    )


def _extract_html_wild_oracle_sql() -> str:
    from ocr_spark.fixtures.wild_html import WILD_CASES

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    values = ",\n".join(
        f"({fid}, {lit(expected)})" for fid, _n, _h, expected in WILD_CASES
    )
    return (
        "SELECT CAST(fixture_id AS BIGINT) AS fixture_id, text_out "
        f"FROM (VALUES {values}) AS t(fixture_id, text_out)"
    )


def _recognize_docs(
    spark: SparkSession, sf_dir: str, render: Callable, recognizer: str
) -> DataFrame:
    """The OCR contract shape: the documents fan out, then ONE map stage
    renders each doc's strips (``render(doc_id, text)`` → [(strip,
    width)]), recognizes every strip of the Arrow batch in one call, and
    joins each doc's texts in segment order → (doc_id, text_out). Strips
    never leave the Python worker that rendered them."""
    import numpy as np
    import pandas as pd

    from ocr_spark.operators.pipeline import recognizer_fn

    recognize = recognizer_fn(recognizer)

    def fn(batches):
        for pdf in batches:
            parts, owners, strips, widths = [], [], [], []
            for doc, (doc_id, text) in enumerate(zip(pdf["doc_id"], pdf["text"])):
                parts.append([])
                for strip, width in render(int(doc_id), str(text)):
                    owners.append(doc)
                    strips.append(strip)
                    widths.append(width)
            if strips:
                texts = recognize(np.stack(strips), np.asarray(widths, np.int64))
                for doc, text in zip(owners, texts):
                    parts[doc].append(text)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "text_out": ["".join(p) for p in parts]}
            )

    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return docs.mapInPandas(fn, schema="doc_id long, text_out string")


def q_ocr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR branch: render text → strip tensor → conv+CTC decode → text."""
    from ocr_spark.kernels.ocr import render_line

    def render(doc_id, text):
        # strip to alphanumerics so the rendered text is fully
        # in-vocabulary — render_line silently drops OOV chars, which
        # would diverge from the oracle's substr otherwise
        return [render_line(re.sub(r"[^0-9a-zA-Z]", "", text)[:40])]

    return _recognize_docs(spark, sf_dir, render, "conv")


# 4 deterministic punctuation suffixes that jointly cover all 32
# punctuation chars of CHAR_VECTOR; doc_id % 4 picks one, so every noisy
# OCR line mixes alphanumerics with punctuation and the full punctuation
# vocabulary is exercised across the corpus.
_PUNCT_SUFFIXES = ["-~`<>'.:", ";^/|!?$%", "#@&*()[]", "{}_+=,\\\""]
# the same four, spelled as DuckDB single-quoted literals ('' = quote,
# backslash literal — DuckDB default strings have NO escape sequences)
_PUNCT_SUFFIXES_SQL = (
    "'-~`<>''.:'",
    "';^/|!?$%'",
    "'#@&*()[]'",
    "'{}_+=,\\\"'",
)

# the whole 94-char vocabulary as one DuckDB literal (for the oracle's
# in-vocabulary filter — the exact SQL twin of `c in CHAR_VECTOR`)
from ocr_spark.config import CHAR_VECTOR as _CHAR_VECTOR

_VOCAB_SQL_LIT = "'" + _CHAR_VECTOR.replace("'", "''") + "'"


def q_ocr_noisy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR branch under NON-identity rendering, full 94-char vocabulary:
    each doc's in-vocabulary prefix (32 chars) plus a doc_id-selected
    8-char punctuation suffix — 40 chars total, mixing alphanumerics and
    punctuation — is rendered in the 5×7 bitmap-font atlas as CONTINUATION
    strips (texts whose repeat-gap cells overflow one 64-cell strip roll
    into a second strip; ``render_distorted_line_multi``), each strip
    bilinear-upscaled 2×, perturbed with seeded Gaussian noise (σ=0.1),
    resampled back to the 8-row geometry, recognized by normalized
    cross-correlation + CTC, and joined in segment order. The oracle
    asserts exact text recovery — what reaches the recognizer is
    anti-aliased and noisy, never bit-identical to any template."""
    from ocr_spark.config import CHAR_VECTOR
    from ocr_spark.kernels.font import render_distorted_line_multi

    def render(doc_id, text):
        s = "".join(c for c in text if c in CHAR_VECTOR)[:32]
        s += _PUNCT_SUFFIXES[doc_id % 4]
        return render_distorted_line_multi(s, scale=2.0, sigma=0.1, seed=doc_id)

    return _recognize_docs(spark, sf_dir, render, "font")


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over REAL container bytes, all four codecs:

    - doc_id % 4 == 0: the doc's text bytes become the pixel rows of an
      8×min(n,384) grayscale image, encoded as an actual PNG
      (``kernels.png``, stored-deflate level 0 so the byte size has the
      closed form 76 + 8·W), decoded back via signature sniff + IHDR
      parse + inflate + unfilter. doc_id % 16 == 4 ships the SAME raster
      as a color-type-3 PALETTED container (identity gray 256-entry
      PLTE), so the decode maps indices through the palette yet yields
      pixel-identical features; only the byte size grows by the PLTE
      chunk (+780) — proving the palette decode path on the contract.
      doc_id % 16 == 12 ships the raster as a GIF (``kernels.gif``,
      identity gray GCT, real LZW): the oracle recomputes the decoded
      pixel sum as the tiled text-byte sum in SQL — a value that exists
      only after the LZW decode + palette composite — putting the FIFTH
      codec family under the hash gate.
      doc_id % 16 == 8 ships the raster ADAM7-INTERLACED: the
      de-interlaced pixels are identical, and the byte size follows the
      per-pass closed form (H=8 pass heights 1,1,1,2,2,4,4 × widths
      ceil(W/8)…W, empty passes omitted) — proving the interlace decode
      path on the contract.
    - doc_id % 4 == 2: AUDIO. doc_id % 8 == 2: a 16-bit PCM WAV
      (``kernels.wav``) whose samples are the doc's first min(n,2000)
      codepoints mapped to (cp % 256)·200 − 25500 (full int16 headroom,
      roundtrip-exact), so the oracle predicts the decoded sample sum AND
      the container byte size (44 + 2n) closed-form — both exist only
      after the RIFF walk + sample decode. doc_id % 8 == 6: the SAME
      codepoints become G.711 code bytes (µ-law for doc_id % 16 == 6,
      A-law for 14; WAVE format tags 7/6) whose linear values are the
      ITU expansion formulas — the oracle recomputes the expansion per
      code IN SQL (bias-132 / 0x55-XOR segment math), so the decoded
      sample sum proves the companded decode path, and the byte size is
      44 + n + (n % 2) (8-bit samples + RIFF pad byte).
    - doc_id % 4 == 1: a per-8×8-block-uniform grayscale image (W = 8·(1
      + doc_id % 5), H = 16, block b value (doc_id·7 + 13·b) % 251)
      encoded as an actual JPEG (``kernels.jpeg``, quality 90 — baseline
      SOF0, or SOF2 progressive for doc_id % 8 == 5), decoded back via
      marker parse + Huffman + dequantize + IDCT (scan accumulation for
      the progressive container). DC-only blocks at q90 reconstruct
      EXACTLY, so the oracle predicts the decoded pixel-sum checksum
      Σ 64·v_b in closed form — a value that only exists after a full
      real decode.
    - doc_id % 4 == 3: VIDEO — a Motion-JPEG AVI (``kernels.avi``,
      'MJPG' fourcc) of 1 + doc_id % 3 frames. doc_id % 8 == 3: DC-exact
      block frames (frame f block b value (doc_id·7 + 13·b + 17·f) %
      251), decoded back via the full RIFF walk + per-frame JPEG decode;
      the pixel-sum checksum spans ALL frames, so the closed-form
      Σ_f Σ_b 64·v_{f,b} proves both the container parse (frame count)
      and every frame's entropy decode. doc_id % 8 == 7: SUBTITLE frames
      — 8-px glyph strips rendering "v{doc_id}f{f}" per frame f —
      recognized by ``recognize_video_frames`` (the video-OCR operator);
      the per-frame texts, ordered and '|'-joined, form the ``frame_text``
      column whose oracle value is pure string SQL. Recognized text is a
      stronger full-decode proof than a checksum: every frame's entropy
      decode AND the recognizer must be correct.

    The oracle checks the sniffed container fmt, the PNG/WAV byte sizes,
    the decoded dimensions (which only exist inside the payload), the
    JPEG/AVI/WAV decode checksums, and the video-OCR frame text."""
    import pandas as pd

    from ocr_spark.kernels.avi import encode_avi
    from ocr_spark.kernels.font import render_line_font
    from ocr_spark.kernels.gif import encode_gif
    from ocr_spark.kernels.jpeg import encode_jpeg
    from ocr_spark.kernels.png import encode_png
    from ocr_spark.kernels.wav import encode_wav, g711_linear
    from ocr_spark.operators.multimodal import (
        extract_media_features,
        recognize_video_frames,
    )

    def media_fn(batches):
        import numpy as np

        def block_image(doc_id, f):
            blocks = np.arange(2 * (1 + doc_id % 5), dtype=np.int64)
            vals = (doc_id * 7 + 13 * blocks + 17 * f) % 251
            return (
                vals.reshape(2, -1)
                .repeat(8, axis=0)
                .repeat(8, axis=1)
                .astype(np.uint8)
            )

        for pdf in batches:
            ids, urls, kinds, payloads = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                kind = "image"
                if doc_id % 4 == 0:
                    b = str(text).encode("utf-8")
                    w = min(max(len(b), 1), 384)
                    pix = np.tile(
                        np.frombuffer(b or b"\x00", dtype=np.uint8),
                        8 * w // max(len(b), 1) + 8,
                    )[: 8 * w].reshape(8, w)
                    if doc_id % 16 == 4:
                        # paletted (color-type-3) container: identity gray
                        # palette (index i -> (i,i,i)), so the decoded
                        # raster is pixel-identical to the grayscale twin
                        # and only the byte size changes (+780 PLTE chunk)
                        pal = np.repeat(
                            np.arange(256, dtype=np.uint8)[:, None], 3, axis=1
                        )
                        payload = encode_png(pix, level=0, palette=pal)
                    elif doc_id % 16 == 12:
                        # GIF container (fifth codec family): identity
                        # gray GCT, so the composited RGB reduces to the
                        # same raster; the oracle recomputes the pixel
                        # sum as the tiled text-byte sum in SQL
                        payload = encode_gif(pix)
                    elif doc_id % 16 == 8:
                        # Adam7-interlaced container: the de-interlaced
                        # raster is pixel-identical; the byte size follows
                        # the per-pass closed form the oracle mirrors
                        payload = encode_png(pix, level=0, interlace=True)
                    else:
                        payload = encode_png(pix, level=0)
                elif doc_id % 4 == 2:
                    kind = "audio"
                    cps = [ord(c) for c in str(text)[:2000]] or [0]
                    if doc_id % 8 == 2:
                        # codepoint-derived int16 samples, roundtrip-exact:
                        # |v| <= 25500 < 32767, v/32767*32767 rounds back
                        vals = (
                            np.array(cps, dtype=np.int64) % 256 * 200 - 25500
                        )
                        payload = encode_wav(
                            vals.astype(np.float64) / 32767.0,
                            sample_rate=8000,
                        )
                    else:
                        # G.711: codepoints ARE the code bytes; samples
                        # are their exact ITU expansions, so nearest-code
                        # encode roundtrips bit-identically and the
                        # decoded sum is closed-form
                        enc = "ulaw" if doc_id % 16 == 6 else "alaw"
                        lin = g711_linear(
                            np.array(cps, dtype=np.int64) % 256, enc
                        )
                        payload = encode_wav(
                            lin.astype(np.float64) / 32767.0,
                            sample_rate=8000,
                            encoding=enc,
                        )
                elif doc_id % 4 == 1:
                    # doc_id % 8 == 5 ships SOF2 progressive: same
                    # quantized coefficients, same exact DC-only pixel
                    # sum — one closed-form oracle proves both containers
                    payload = encode_jpeg(
                        block_image(doc_id, 0),
                        quality=90,
                        progressive=doc_id % 8 == 5,
                    )
                else:
                    # MJPG AVI: DC-exact block frames (%8==3, all-frame
                    # pixel sum closed-form) or 8-px subtitle strips
                    # (%8==7, recognized text closed-form)
                    kind = "video"
                    if doc_id % 8 == 3:
                        frames = np.stack(
                            [
                                block_image(doc_id, f)
                                for f in range(1 + doc_id % 3)
                            ]
                        )
                    else:
                        frames = np.stack(
                            [
                                (
                                    render_line_font(f"v{doc_id}f{f}")[0]
                                    * 255
                                ).astype(np.uint8)
                                for f in range(1 + doc_id % 3)
                            ]
                        )
                    payload = encode_avi(frames, codec="mjpg", quality=90)
                ids.append(doc_id)
                urls.append(f"mem://doc/{doc_id}")
                kinds.append(kind)
                payloads.append(payload)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "url": urls,
                    "kind": kinds,
                    "payload": payloads,
                }
            )

    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    media = docs.mapInPandas(
        media_fn,
        schema="media_id long, url string, kind string, payload binary",
    ).select(
        "media_id",
        "url",
        "kind",
        "payload",
        F.struct(
            F.lit(16).cast("int").alias("width"),
            F.lit(16).cast("int").alias("height"),
            F.lit(1).cast("int").alias("n_frames"),
            F.lit(0).cast("int").alias("sample_rate"),
            F.lit("image/*").alias("content_type"),
        ).alias("meta"),
    )
    feats = extract_media_features(media)
    # Video-OCR branch: per-frame subtitle recognition, ordered and
    # '|'-joined per media row. Only the %8==7 subtitle AVIs carry
    # 8-px-tall (recognizable) frames; block AVIs yield no rows and
    # stay NULL through the left join. The joined side carries only
    # (media_id, frame_text) — the payload never reaches the shuffle.
    subtitles = recognize_video_frames(media).groupBy("media_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("frame_no", "text"))),
                lambda s: s["text"],
            ),
            "|",
        ).alias("frame_text")
    )
    return feats.join(subtitles, "media_id", "left").select(
        "media_id",
        "kind",
        "fmt",
        # closed-form-checkable per format: PNG/WAV byte sizes,
        # JPEG/AVI/WAV decode checksums, subtitle-AVI recognized text
        F.when(
            F.col("fmt").isin("png", "wav"), F.col("payload_bytes")
        ).alias("payload_bytes"),
        "decoded_w",
        "decoded_h",
        F.when(
            F.col("fmt").isin("jpeg", "wav", "gif")
            | ((F.col("fmt") == "avi") & (F.col("media_id") % 8 == 3)),
            F.col("pixel_sum"),
        ).alias("pixel_sum"),
        "frame_text",
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_dedup_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document near-dup signatures, both families in one panel: the
    4-hash MinHash signature (shingle Jaccard sketch) and the 64-bit
    SimHash (token-frequency-weighted bit votes, packed hi/lo). Each is a
    single-pass projection; the panel joins the two slim signature tables
    on doc_id."""
    from ocr_spark.operators.dedup import minhash_signatures, simhash64

    docs = _docs(spark, sf_dir)
    return minhash_signatures(docs, n_hashes=4).join(simhash64(docs), "doc_id")


def q_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(_docs(spark, sf_dir), n_bands=4, rows_per_band=2)


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), min_jaccard=0.05)


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pair search by Hamming-band bucketing (pigeonhole:
    8 bands of 8 bits each find EVERY pair within Hamming distance 7 via
    exact-match band equi-joins — guaranteed recall, no attribute
    blocking). The oracle reproduces signatures, banding, the hot-bucket
    cap, and the XOR-popcount verification in SQL."""
    from ocr_spark.operators.dedup import simhash_band_pairs

    return simhash_band_pairs(_docs(spark, sf_dir), n_bands=8)


def q_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document chunk dedup: 8-word chunks repeated in
    ≥2 documents are boilerplate and drop out; survivors reassemble in
    document order. The oracle reproduces chunking, corpus-wide distinct-
    doc frequency, the threshold and reassembly in SQL."""
    from ocr_spark.operators.dedup import remove_boilerplate_chunks

    return remove_boilerplate_chunks(
        _docs(spark, sf_dir), chunk_words=8, min_docs=2
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True transitive-closure dup clustering: connected components over
    the LSH candidate-pair graph by iterative min-label propagation; the
    oracle computes the same components with a recursive CTE."""
    from ocr_spark.operators.dedup import dup_clusters, lsh_candidate_pairs

    pairs = lsh_candidate_pairs(
        _docs(spark, sf_dir), n_bands=4, rows_per_band=2
    )
    return dup_clusters(pairs)


def _dedup_clusters_oracle_sql(lsh_pairs_sql: str) -> str:
    """Recursive-CTE twin of ``dedup.dup_clusters`` over the same
    ``dedup_lsh`` candidate pairs: undirected reachability, component
    representative = min reachable id."""
    return f"""
        WITH RECURSIVE pairs AS (SELECT * FROM ({lsh_pairs_sql})),
        e(a, b) AS (
          SELECT doc_id_a, doc_id_b FROM pairs
          UNION ALL
          SELECT doc_id_b, doc_id_a FROM pairs
        ),
        reach(id, r) AS (
          SELECT DISTINCT a, a FROM e
          UNION
          SELECT e.b, reach.r FROM reach JOIN e ON reach.id = e.a
        )
        SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY id
    """


def q_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage dedup pipeline: LSH banding candidates (recall stage) →
    exact n-gram Jaccard verification of exactly those pairs (precision
    stage) — the production path at corpus scale; the oracle reproduces
    both stages in SQL."""
    from ocr_spark.operators.dedup import lsh_candidate_pairs, verify_pairs

    docs = _docs(spark, sf_dir)
    pairs = lsh_candidate_pairs(docs, n_bands=4, rows_per_band=2)
    return verify_pairs(docs, pairs, min_jaccard=0.0)


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token statistics + the normalized document fingerprint — both pure
    per-row projections over one scan (Catalyst collapses the join of two
    projections of the same source into column pruning + one exchange)."""
    from ocr_spark.operators.textstats import fingerprint, token_stats

    docs = _docs(spark, sf_dir)
    return token_stats(docs).join(fingerprint(docs), "doc_id")


def q_text_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document quality-signal panel a curation pipeline computes
    in one pass: C4/Gopher quality ratios, repetition stats (dup-token +
    top-bigram), and the zlib compression gate. Quality and compression
    are narrow per-row projections; repetition's top-bigram needs its own
    explode+groupBy — joined back on doc_id (slim rows). The compression
    ratio itself has no SQL twin (no zlib in ANSI SQL) so it is asserted
    via two per-doc codec invariants: the ratio lies in zlib's possible
    band for word text, and doubling the text strictly improves the ratio
    (a broken codec path flips a boolean or the exact byte count)."""
    from ocr_spark.operators.textstats import (
        compression_ratio,
        quality_score,
        repetition_stats,
    )

    docs = _docs(spark, sf_dir)
    comp = compression_ratio(docs).select(
        "doc_id",
        "n_bytes",
        ((F.col("ratio") > 0.2) & (F.col("ratio") < 1.3)).alias("ratio_in_band"),
        (F.col("ratio_2x") < F.col("ratio")).alias("doubling_gains"),
    )
    return (
        quality_score(docs)
        .join(repetition_stats(docs), "doc_id")
        .join(comp, "doc_id")
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.textstats import lang_id

    return lang_id(_docs(spark, sf_dir))


def _queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.similarity import cosine_topk

    emb = _emb(spark, sf_dir)
    return cosine_topk(emb, _queries_df(spark, sf_dir), k=5)


def q_sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.similarity import lsh_topk

    emb = _emb(spark, sf_dir)
    return lsh_topk(emb, _queries_df(spark, sf_dir), dim=64, k=5, n_planes=6)


def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (deterministic distributed k-means coarse quantizer + probed
    rank), hard-gated against the exact top-k computed in the same job: one
    row (n_queries, n_exact, recall_ok) where recall_ok asserts corpus
    recall >= 0.8 (measured 1.00 at sf0.001, 0.92 at sf0.01 with k=16,
    n_probe=8). The iterative fit has no SQL twin, so the oracle checks the
    exact-side counts exactly and the recall bound as an invariant — a
    broken quantizer or probe join drives recall below the bound and flips
    the hash."""
    from ocr_spark.operators.similarity import cosine_topk, ivf_topk, kmeans_fit

    emb = _emb(spark, sf_dir)
    queries = _queries_df(spark, sf_dir)
    cents = kmeans_fit(emb, k=16, iters=4)
    ivf = ivf_topk(emb, queries, cents, k=5, n_probe=8).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    exact = cosine_topk(emb, queries, k=5).select("query_id", "vec_id")
    joined = exact.join(ivf, ["query_id", "vec_id"], "left")
    return joined.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count("*").alias("n_exact"),
        (
            F.sum(F.coalesce("hit", F.lit(0)))
            >= F.lit(0.8) * F.count("*")
        ).alias("recall_ok"),
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup tier: multi-table LSH candidates → exact
    cosine ≥ 0.4 (the driver embeddings are weakly clustered, so the demo
    threshold sits where pairs exist; a real corpus runs ≥ 0.9). Oracle
    reproduces the bucketing (literal hyperplanes) and the verify stage."""
    from ocr_spark.operators.similarity import cosine_near_pairs

    return cosine_near_pairs(_emb(spark, sf_dir), threshold=0.4)


def q_sim_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.similarity import cosine_topk, label_knn_accuracy

    emb = _emb(spark, sf_dir)
    topk = cosine_topk(emb, _queries_df(spark, sf_dir), k=5)
    return label_knn_accuracy(topk, emb)


# the deterministic PII suffix both sides append to every document before
# redaction: synthesized (the corpus carries no real PII), doc_id-derived,
# identically computable in Spark and the DuckDB oracle
_PII_SUFFIX_SPARK = (
    "concat(text, ' Contact doc', CAST(doc_id AS STRING),"
    " '@crawl.example.com from 10.2.', CAST(doc_id % 256 AS STRING),"
    " '.9 or 555-', lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), '-0199.')"
)
_PII_SUFFIX_SQL = (
    "text || ' Contact doc' || CAST(doc_id AS VARCHAR)"
    " || '@crawl.example.com from 10.2.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.9 or 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
    " || '-0199.'"
)


def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: every doc gets a deterministic doc_id-derived
    PII suffix (email + IPv4 + phone — the corpus itself carries none),
    then ``redact_pii`` replaces each kind with a typed token and counts
    matches. Map-only JVM regexp stage; the oracle reproduces the suffix
    construction, the counts, and the exact redacted text in SQL."""
    from ocr_spark.operators.textstats import redact_pii

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_PII_SUFFIX_SPARK).alias("text")
    )
    return redact_pii(docs)


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style curation funnel: every document tagged
    keep/drop with the FIRST failing gate (exact_dup → lang → too_short →
    low_quality → repetitive) as the auditable reason. One narrow signal
    projection + one dup-winner groupBy — the oracle recomputes every
    gate and the cascade in SQL."""
    from ocr_spark.operators.curation import curate_corpus

    return curate_corpus(_docs(spark, sf_dir))


def _curate_corpus_oracle_sql() -> str:
    """DuckDB twin of ``curation.curate_corpus`` at the default
    thresholds: signals reuse the text_quality / text_langid /
    text_repetition oracle spellings; winners are min(doc_id) per
    md5(text); the CASE mirrors GATE_ORDER exactly."""
    return f"""
        WITH t AS (
          SELECT doc_id,
             len({_DWORDS}) AS n_tokens,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
             len(list_filter({_DWORDS},
                 x -> x IN ('the','a','and','of','in','to','is'))) AS c_en,
             len(list_filter({_DWORDS},
                 x -> x IN ('der','die','das','und','ist','ein','zu'))) AS c_de,
             len(list_filter({_DWORDS},
                 x -> x IN ('le','la','les','et','est','un','une'))) AS c_fr,
             len(list_filter({_DWORDS},
                 x -> x IN ('el','los','las','por','para','y','con'))) AS c_es,
             CAST(len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]'))
                  AS BIGINT) AS c_zh,
             round(1.0 - CAST(len(list_distinct({_DWORDS})) AS DOUBLE)
                   / greatest(len({_DWORDS}), 1), 6) AS dup_token_ratio
          FROM documents
        ),
        s AS (
          SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 dup_token_ratio,
                 round(least(n_tokens / 64.0, 1.0)
                       * (1.0 - CAST(n_punct AS DOUBLE) / greatest(n_chars, 1))
                       * (0.5 + 0.5 * least(CAST(c_en AS DOUBLE)
                                            / greatest(n_tokens, 1) * 5.0,
                                            1.0)), 6) AS quality,
                 CASE WHEN c_zh > 0 THEN 'zh'
                      WHEN c_de > c_en AND c_de > c_fr AND c_de > c_es THEN 'de'
                      WHEN c_fr > c_en AND c_fr >= c_de AND c_fr > c_es THEN 'fr'
                      WHEN c_es > c_en AND c_es >= c_de AND c_es > c_fr THEN 'es'
                      ELSE 'en' END AS predicted_lang
          FROM t
        ),
        w AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        tagged AS (
          SELECT s.*,
                 CASE WHEN w.doc_id IS NULL THEN 'exact_dup'
                      WHEN predicted_lang != 'en' THEN 'lang'
                      WHEN n_tokens < 40 THEN 'too_short'
                      WHEN quality < 0.45 THEN 'low_quality'
                      WHEN dup_token_ratio > 0.65 THEN 'repetitive'
                      ELSE 'keep' END AS reason
          FROM s LEFT JOIN w ON s.doc_id = w.doc_id
        )
        SELECT doc_id, (reason = 'keep') AS keep, reason, predicted_lang,
               n_tokens, quality, dup_token_ratio
        FROM tagged
    """


def q_curate_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified training-mix sampling: top-25 docs per source by
    quality, via the salted two-level top-k (exact; hot groups split
    across 16 salt tasks). The oracle is the single global window — the
    two spellings must agree exactly, which IS the exactness proof of
    the salted decomposition."""
    from ocr_spark.operators.curation import stratified_sample

    return stratified_sample(_docs(spark, sf_dir), per_group=25)


def _curate_sample_oracle_sql() -> str:
    return f"""
        WITH t AS (
          SELECT doc_id, source,
             len({_DWORDS}) AS n_tokens,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
             len(list_filter({_DWORDS},
                 x -> x IN ('the','a','and','of','in','to','is'))) AS n_stop
          FROM documents
        ),
        q AS (
          SELECT doc_id, source,
                 round(least(n_tokens / 64.0, 1.0)
                       * (1.0 - CAST(n_punct AS DOUBLE) / greatest(n_chars, 1))
                       * (0.5 + 0.5 * least(CAST(n_stop AS DOUBLE)
                                            / greatest(n_tokens, 1) * 5.0,
                                            1.0)), 6) AS quality
          FROM t
        ),
        r AS (
          SELECT doc_id, source, quality,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY quality DESC, doc_id) AS rank
          FROM q
        )
        SELECT doc_id, source, quality, CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 25
    """


def q_text_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained char-trigram LM scoring (the CCNet perplexity-gate
    shape, self-contained): count pass → capped model → per-doc mean
    smoothed log-probability. The oracle retrains the same model and
    rescoring in SQL."""
    from ocr_spark.operators.lm import lm_score

    return lm_score(_docs(spark, sf_dir))


def _text_lm_oracle_sql() -> str:
    trigrams = (
        "CASE WHEN length(text) < 3 THEN [] ELSE "
        "list_transform(range(length(text) - 2), "
        "i -> substr(text, CAST(i + 1 AS INTEGER), 3)) END"
    )
    return f"""
        WITH g AS (
          SELECT unnest({trigrams}) AS trigram FROM documents
        ),
        counts AS (SELECT trigram, count(*) AS c FROM g GROUP BY trigram),
        model AS (
          SELECT trigram, c FROM (
            SELECT *, row_number() OVER (ORDER BY c DESC, trigram) AS r
            FROM counts
          ) WHERE r <= 100000
        ),
        tot AS (SELECT sum(c) AS n_mass, count(*) AS v_kept FROM model),
        dg AS (
          SELECT doc_id, unnest({trigrams}) AS trigram FROM documents
        ),
        lp AS (
          SELECT doc_id,
                 ln((coalesce(m.c, 0) + 1.0)
                    / (t.n_mass + t.v_kept + 1.0)) AS lp
          FROM dg LEFT JOIN model m USING (trigram) CROSS JOIN tot t
        ),
        s AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
                 round(avg(lp), 6) AS logprob
          FROM lp GROUP BY doc_id
        )
        SELECT d.doc_id, coalesce(s.n_trigrams, 0) AS n_trigrams,
               coalesce(s.logprob,
                        round(ln(1.0 / (t.n_mass + t.v_kept + 1.0)), 6))
                   AS logprob
        FROM documents d CROSS JOIN tot t LEFT JOIN s USING (doc_id)
    """


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 13-gram method): docs with
    doc_id % 97 == 0 stand in for the eval set; every corpus document
    sharing a 13-word shingle with it is flagged with its hit count.
    The benchmark shingle-hash set broadcasts; the corpus side never
    shuffles its text."""
    from ocr_spark.operators.lm import contamination_check

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    return contamination_check(docs, bench, n_words=13)


def _text_contamination_oracle_sql() -> str:
    sh = (
        f"CASE WHEN len({_DWORDS}) < 13 THEN [] ELSE "
        f"list_transform(range(len({_DWORDS}) - 12), "
        f"i -> md5(array_to_string({_DWORDS}[CAST(i + 1 AS BIGINT) : "
        f"CAST(i + 13 AS BIGINT)], ' '))) END"
    )
    return f"""
        WITH bh AS (
          SELECT DISTINCT unnest({sh}) AS h
          FROM documents WHERE doc_id % 97 = 0
        ),
        dh AS (SELECT doc_id, unnest({sh}) AS h FROM documents)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM dh JOIN bh USING (h)
        GROUP BY doc_id
    """


def q_text_topk_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 documents per language by quality score (window top-k over a
    computed metric — the corpus-curation 'best docs per stratum' query)."""
    from ocr_spark.operators.textstats import quality_score

    docs = _docs(spark, sf_dir)
    q = quality_score(docs).join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        q.select(
            "lang", "doc_id", "quality",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 5)
    )


def q_union_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML-branch ∪ PDF-branch outputs as one corpus (unionByName), with
    per-branch counts — the set-op surface (SURVEY §2.6)."""
    html = q_extract_html(spark, sf_dir).select(
        "url", F.lit("html").alias("branch"), F.length("extracted_text").cast("long").alias("text_len")
    )
    pdf = q_extract_pdf(spark, sf_dir).select(
        "url", F.lit("pdf").alias("branch"), F.length("extracted_text").cast("long").alias("text_len")
    )
    both = html.unionByName(pdf)
    return both.groupBy("branch").agg(
        F.count("*").alias("n_docs"), F.sum("text_len").alias("total_len")
    )


def q_rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_rel_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


def q_rel_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    joined = orders.join(
        F.broadcast(customer.select("c_custkey", "c_nationkey")),
        orders.o_custkey == customer.c_custkey,
    ).join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
    return joined.groupBy("n_name").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )


def q_rel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup over lineitem flags (grouping-sets surface),
    with a distinct-count per grouping set (the countDistinct surface —
    absorbed from the retired rel_distinct query; broadcast-join coverage
    stays with rel_nation_revenue)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


def q_rel_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders (left anti join — the resume pattern)."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        customer.join(
            orders.select("o_custkey"), customer.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .select("c_custkey", "c_name")
    )


def q_rel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-statistic + second-moment aggregates per return flag: exact
    percentiles (median/p95), min/max, stddev, correlation, covariance —
    ONE groupBy produces all seven (one shuffle; the separate
    percentile/stats queries of earlier rounds were two scans of the same
    table for columns that share a grouping)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
        F.round(F.min("l_extendedprice"), 4).alias("lo"),
        F.round(F.max("l_extendedprice"), 4).alias("hi"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias(
            "qty_disc_covar"
        ),
    )


def q_text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein distance between consecutive docs within a source —
    the string-similarity scalar surface. Pairs are (doc, next doc within
    the same source by id) — a bounded self-join."""
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    a, b = docs.alias("a"), docs.alias("b")
    w = Window.partitionBy("source").orderBy("doc_id")
    nxt = docs.select(
        "source",
        F.col("doc_id").alias("doc_id_a"),
        F.lead("doc_id").over(w).alias("doc_id_b"),
    ).filter(F.col("doc_id_b").isNotNull())
    joined = (
        nxt.join(a, nxt.doc_id_a == a.doc_id)
        .join(b, nxt.doc_id_b == F.col("b.doc_id"))
    )
    return joined.select(
        "doc_id_a",
        "doc_id_b",
        F.levenshtein(
            F.substring(F.col("a.text"), 1, 60), F.substring(F.col("b.text"), 1, 60)
        ).cast("long").alias("edit_distance"),
    )


def _pin_utc(spark: SparkSession) -> None:
    """Timestamp-rendering queries format via the session timezone; the
    driver's plain SparkSession inherits the JVM default, so a non-UTC host
    would shift every rendered hour/mark string away from the DuckDB
    oracle's naive-UTC reading of the same parquet micros. Pin UTC."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (window lag + running sum + groupBy)."""
    from ocr_spark.operators.sessions import sessionize

    _pin_utc(spark)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = sessionize(events)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return s.select(
        "user_id",
        "session_no",
        "n_events",
        F.date_format("session_start", fmt).alias("session_start"),
        F.date_format("session_end", fmt).alias("session_end"),
        "sum_value",
    )


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: per-user hourly marks → latest event value at or
    before each mark (the leakage-free feature-store join)."""
    from ocr_spark.operators.asof import asof_join

    _pin_utc(spark)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    marks = (
        events.select(
            "user_id",
            (F.date_trunc("hour", "ts") + F.expr("INTERVAL 1 HOUR")).alias(
                "mark"
            ),
        )
        .distinct()
    )
    joined = asof_join(
        marks, events, key="user_id", left_ts="mark", right_ts="ts",
        value_cols=["value"],
    )
    return joined.select(
        "user_id",
        F.date_format("mark", "yyyy-MM-dd HH:mm:ss").alias("mark"),
        F.round("asof_value", 6).alias("asof_value"),
    )


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_utc(spark)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    hour = F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
    return events.groupBy(hour.alias("hour"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extract_html(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_html": q_extract_html,
        "extract_html_multi": q_extract_html_multi,
        "extract_full": q_extract_full,
        "extract_full_noisy": q_extract_full_noisy,
        "extract_spans": q_extract_spans,
        "extract_hosts": q_extract_hosts,
        "curate_hosts": q_curate_hosts,
        "extract_quality": q_extract_quality,
        "extract_html_wild": q_extract_html_wild,
        "dom_nodes": q_dom_nodes,
        "nodes_profile": q_nodes_profile,
        "extract_pdf": q_extract_pdf,
        "extract_pdf_rotated": q_extract_pdf_rotated,
        "ocr_roundtrip": q_ocr_roundtrip,
        "ocr_noisy": q_ocr_noisy,
        "media_features": q_media_features,
        "dedup_exact": q_dedup_exact,
        "dedup_signatures": q_dedup_signatures,
        "dedup_lsh": q_dedup_lsh,
        "dedup_verified": q_dedup_verified,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "text_redact": q_text_redact,
        "dedup_chunks": q_dedup_chunks,
        "dedup_clusters": q_dedup_clusters,
        "curate_corpus": q_curate_corpus,
        "curate_sample": q_curate_sample,
        "text_lm": q_text_lm,
        "text_contamination": q_text_contamination,
        "dedup_embedding": q_dedup_embedding,
        "dedup_jaccard": q_dedup_jaccard,
        "text_token_stats": q_text_token_stats,
        "text_signals": q_text_signals,
        "text_langid": q_text_langid,
        "text_topk_quality": q_text_topk_quality,
        "union_branches": q_union_branches,
        "sim_topk": q_sim_topk,
        "sim_lsh": q_sim_lsh,
        "sim_ivf": q_sim_ivf,
        "sim_knn_label": q_sim_knn_label,
        "rel_pricing_summary": q_rel_pricing_summary,
        "rel_top_orders": q_rel_top_orders,
        "rel_nation_revenue": q_rel_nation_revenue,
        "rel_rollup": q_rel_rollup,
        "rel_stats": q_rel_stats,
        "text_edit_distance": q_text_edit_distance,
        "rel_anti_join": q_rel_anti_join,
        "extract_warc": q_extract_warc,
        "events_windowed": q_events_windowed,
        "events_sessions": q_events_sessions,
        "events_asof": q_events_asof,
    }


def oracle_sql() -> dict[str, str]:
    sig_list = ", ".join(_minhash_sig_sql(i) for i in range(8))
    # the dedup_lsh pair derivation, shared verbatim by the dedup_lsh
    # oracle and the dedup_clusters recursive-CTE oracle
    lsh_pairs_sql = f"""
            WITH w AS (SELECT doc_id, {_DSHINGLES} AS sh FROM documents),
            s AS (SELECT doc_id, [{sig_list}] AS sig FROM w),
            b AS (
              SELECT doc_id, band,
                     md5(concat_ws('|', sig[2*band+1], sig[2*band+2])) AS bucket
              FROM s, (SELECT unnest(range(4)) AS band)
            ),
            ok AS (
              SELECT band, bucket FROM b GROUP BY band, bucket
              HAVING count(*) > 1 AND count(*) <= 1024
            ),
            p AS (SELECT b.* FROM b JOIN ok USING (band, bucket))
            SELECT DISTINCT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b
            FROM p a JOIN p c USING (band, bucket)
            WHERE a.doc_id < c.doc_id
    """
    return {
        "extract_html": f"""
            SELECT {_URL_SQL} AS url, lang, text AS extracted_text,
                   CAST(1 AS BIGINT) AS n_blocks
            FROM documents
        """,
        "extract_html_multi": f"""
            SELECT {_URL_SQL} AS url, CAST(TRUE AS BOOLEAN) AS match
            FROM documents
        """,
        "extract_full": f"""
            SELECT {_URL_SQL} AS url,
                   text || chr(10) || chr(10)
                        || substr(regexp_replace(text, '[^0-9a-zA-Z]', '', 'g'),
                                  1, 20)
                        || chr(10) || chr(10)
                        || 'line' || CAST(doc_id AS VARCHAR) AS extracted_text
            FROM documents
        """,
        "extract_full_noisy": f"""
            SELECT {_URL_SQL} AS url,
                   text || chr(10) || chr(10)
                        || substr(regexp_replace(text, '[^0-9a-zA-Z]', '', 'g'),
                                  1, 20)
                        || chr(10) || chr(10)
                        || 'line' || CAST(doc_id AS VARCHAR) AS extracted_text
            FROM documents
        """,
        "extract_spans": f"""
            SELECT {_URL_SQL} AS url, CAST(1 AS BIGINT) AS n_spans,
                   CAST(n_chars AS BIGINT) AS covered_chars
            FROM documents
        """,
        "extract_hosts": f"""
            SELECT {_HOST_SQL} AS host, count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "curate_hosts": f"""
            WITH t AS (
              SELECT {_HOST_SQL} AS host, text,
                     len({_DWORDS}) AS n_tokens,
                     length(text) AS n_chars,
                     len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
                     len(list_filter({_DWORDS},
                         x -> x IN ('the','a','and','of','in','to','is'))) AS n_stop
              FROM documents
            ),
            q AS (
              SELECT host, text,
                     round(least(n_tokens / 64.0, 1.0)
                           * (1.0 - CAST(n_punct AS DOUBLE) / greatest(n_chars, 1))
                           * (0.5 + 0.5 * least(CAST(n_stop AS DOUBLE)
                                / greatest(n_tokens, 1) * 5.0, 1.0)), 6) AS quality
              FROM t
            )
            SELECT host, count(*) AS n_docs,
                   round(avg(quality), 6) AS avg_quality,
                   round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
                         / count(*), 6) AS dup_ratio
            FROM q GROUP BY host
        """,
        "dom_nodes": """
            SELECT CAST(count(*) AS BIGINT) AS n_p_nodes,
                   CAST(sum(n_chars) AS BIGINT) AS total_text_len
            FROM documents
        """,
        "extract_pdf": f"""
            SELECT 'pdf://doc-' || CAST(doc_id AS VARCHAR) AS url,
                   {_pdf_expected_sql()} AS extracted_text,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 5 WHEN 1 THEN 6 ELSE 3 END
                        AS BIGINT) AS n_blocks
            FROM documents
        """,
        "extract_pdf_rotated": f"""
            SELECT 'pdf://doc-' || CAST(doc_id AS VARCHAR) AS url,
                   {_pdf_expected_sql()} AS extracted_text,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 5 WHEN 1 THEN 6 ELSE 3 END
                        AS BIGINT) AS n_blocks
            FROM documents
        """,
        "ocr_roundtrip": """
            SELECT doc_id,
                   substr(regexp_replace(text, '[^0-9a-zA-Z]', '', 'g'), 1, 40)
                       AS text_out
            FROM documents
        """,
        "ocr_noisy": f"""
            SELECT doc_id,
                   substr(array_to_string(list_filter(
                       regexp_split_to_array(text, ''),
                       c -> strpos({_VOCAB_SQL_LIT}, c) > 0), ''), 1, 32)
                   || CASE CAST(doc_id % 4 AS INTEGER)
                        WHEN 0 THEN {_PUNCT_SUFFIXES_SQL[0]}
                        WHEN 1 THEN {_PUNCT_SUFFIXES_SQL[1]}
                        WHEN 2 THEN {_PUNCT_SUFFIXES_SQL[2]}
                        ELSE {_PUNCT_SUFFIXES_SQL[3]} END AS text_out
            FROM documents
        """,
        "media_features": """
            -- doc_id%4==0: PNG, W = min(n_text_bytes, 384), 8 rows of W
            -- px, filter-0 scanlines, stored-deflate: 8+25+12+12 fixed
            -- chunk overhead + (2 + 5 + 8*(W+1) + 4) zlib framing
            -- = 76 + 8*W; doc_id%16==4 is the paletted (color-type-3)
            -- twin with an identity gray 256-entry PLTE: same raster,
            -- same dims, +780 bytes (12 chunk framing + 768 palette);
            -- doc_id%16==12 is the GIF twin (size not closed-form under
            -- real LZW — the gate is the decoded pixel sum instead).
            -- doc_id%8==2: 16-bit PCM WAV of n = min(n_chars, 2000)
            -- samples v_i = (codepoint_i % 256)*200 - 25500 (empty text
            -- -> one codepoint-0 sample); container bytes = 44 + 2n,
            -- decoded sample sum = sum(v_i).
            -- doc_id%8==6: G.711 WAV, code bytes c_i = codepoint_i % 256;
            -- mu-law (%16==6): u = 255-c, t = ((u&15)*8+132)<<((u>>4)&7),
            -- v = u>=128 ? 132-t : t-132 (ITU bias-132 expansion);
            -- A-law (%16==14): a = c XOR 85, seg = (a>>4)&7,
            -- t = seg=0 ? (a&15)*16+8 : ((a&15)*16+264)<<(seg-1),
            -- v = a&128 ? t : -t. Bytes = 44 + n + n%2 (RIFF pad).
            -- doc_id%4==1: baseline JPEG, W = 8*(1+doc_id%5), H = 16,
            -- per-block-uniform values v_b = (doc_id*7+13*b) % 251 which
            -- are DC-exact at q90, so the decoded pixel sum is 64*sum(v_b).
            -- doc_id%8==3: MJPG AVI of 1+doc_id%3 DC-exact frames, frame f
            -- block b value (doc_id*7+13*b+17*f) % 251; the checksum spans
            -- all frames: 64 * sum over f,b.
            -- doc_id%8==7: MJPG AVI of 1+doc_id%3 subtitle frames (8x384
            -- glyph strips); frame f renders 'v<doc_id>f<f>', so the
            -- video-OCR frame_text is the '|'-join of those strings.
            WITH n_audio AS (
              SELECT doc_id, least(greatest(length(text), 1), 2000) AS n,
                     least(greatest(octet_length(encode(text)), 1), 384) AS w
              FROM documents
            )
            SELECT d.doc_id AS media_id,
                   CASE WHEN d.doc_id % 4 = 3 THEN 'video'
                        WHEN d.doc_id % 4 = 2 THEN 'audio'
                        ELSE 'image' END AS kind,
                   CASE WHEN d.doc_id % 16 = 12 THEN 'gif'
                        WHEN d.doc_id % 4 = 0 THEN 'png'
                        WHEN d.doc_id % 4 = 2 THEN 'wav'
                        WHEN d.doc_id % 4 = 1 THEN 'jpeg'
                        ELSE 'avi' END AS fmt,
                   CASE WHEN d.doc_id % 16 = 12 THEN CAST(NULL AS BIGINT)
                   WHEN d.doc_id % 16 = 8 THEN
                     -- Adam7 at H=8: pass heights 1,1,1,2,2,4,4; widths
                     -- ceil(W/8), ceil((W-4)/8), ceil(W/4), ceil((W-2)/4),
                     -- ceil(W/2), ceil((W-1)/2), W; empty passes (pw=0)
                     -- contribute nothing; raw <= 3086 so one stored
                     -- block: 57 chunk overhead + 11 zlib framing + raw
                     CAST(68
                       + ((a.w + 7) // 8 + 1)
                       + CASE WHEN a.w >= 5
                              THEN (a.w - 4 + 7) // 8 + 1 ELSE 0 END
                       + ((a.w + 3) // 4 + 1)
                       + CASE WHEN a.w >= 3
                              THEN 2 * ((a.w - 2 + 3) // 4 + 1) ELSE 0 END
                       + 2 * ((a.w + 1) // 2 + 1)
                       + CASE WHEN a.w >= 2
                              THEN 4 * ((a.w - 1 + 1) // 2 + 1) ELSE 0 END
                       + 4 * (a.w + 1)
                       AS BIGINT)
                   WHEN d.doc_id % 4 = 0 THEN
                     CAST(76 + 8 * least(greatest(octet_length(encode(d.text)), 1),
                                         384)
                          + CASE WHEN d.doc_id % 16 = 4 THEN 780 ELSE 0 END
                          AS BIGINT)
                   WHEN d.doc_id % 8 = 2 THEN CAST(44 + 2 * a.n AS BIGINT)
                   WHEN d.doc_id % 8 = 6 THEN CAST(44 + a.n + a.n % 2 AS BIGINT)
                   END AS payload_bytes,
                   CAST(CASE WHEN d.doc_id % 4 = 0 THEN
                     least(greatest(octet_length(encode(d.text)), 1), 384)
                     WHEN d.doc_id % 4 = 2 THEN a.n
                     WHEN d.doc_id % 8 = 7 THEN 384
                     ELSE 8 * (1 + d.doc_id % 5) END AS INTEGER) AS decoded_w,
                   CAST(CASE WHEN d.doc_id % 4 = 0 THEN 8
                        WHEN d.doc_id % 4 = 2 THEN 1
                        WHEN d.doc_id % 8 = 7 THEN 8
                        ELSE 16 END AS INTEGER) AS decoded_h,
                   CASE WHEN d.doc_id % 16 = 12 THEN
                     -- GIF: the raster is the doc's text bytes tiled to
                     -- 8*W pixels (ASCII corpus: ascii(char) == byte);
                     -- sum = full_repeats * sum(bytes) + sum(prefix)
                     CAST(CASE WHEN length(d.text) = 0 THEN 0 ELSE
                       ((8 * a.w) // length(d.text)) * list_sum(
                           list_transform(range(length(d.text)),
                             i -> ascii(substr(d.text,
                                      CAST(i AS INTEGER) + 1, 1))))
                       + CASE WHEN (8 * a.w) % length(d.text) = 0 THEN 0
                         ELSE list_sum(list_transform(
                             range((8 * a.w) % length(d.text)),
                             i -> ascii(substr(d.text,
                                      CAST(i AS INTEGER) + 1, 1)))) END
                     END AS BIGINT)
                   WHEN d.doc_id % 4 = 1 THEN
                     CAST(64 * list_sum(list_transform(
                         range(2 * (1 + d.doc_id % 5)),
                         b -> (d.doc_id * 7 + 13 * b) % 251)) AS BIGINT)
                   WHEN d.doc_id % 8 = 2 THEN
                     CAST(CASE WHEN length(d.text) = 0 THEN -25500 ELSE
                       list_sum(list_transform(
                           range(a.n),
                           i -> (ascii(substr(d.text, CAST(i AS INTEGER) + 1, 1))
                                 % 256) * 200 - 25500))
                     END AS BIGINT)
                   WHEN d.doc_id % 16 = 6 THEN
                     CAST(CASE WHEN length(d.text) = 0 THEN -32124 ELSE
                       list_sum(list_transform(
                           list_transform(range(a.n),
                             i -> 255 - (ascii(substr(d.text,
                                     CAST(i AS INTEGER) + 1, 1)) % 256)),
                           u -> CASE WHEN u >= 128
                                THEN 132 - (((u & 15) * 8 + 132)
                                            * (1 << ((u >> 4) & 7)))
                                ELSE (((u & 15) * 8 + 132)
                                      * (1 << ((u >> 4) & 7))) - 132 END))
                     END AS BIGINT)
                   WHEN d.doc_id % 16 = 14 THEN
                     CAST(CASE WHEN length(d.text) = 0 THEN -5504 ELSE
                       list_sum(list_transform(
                           list_transform(range(a.n),
                             i -> xor(ascii(substr(d.text,
                                     CAST(i AS INTEGER) + 1, 1)) % 256, 85)),
                           s -> (CASE WHEN (s & 128) > 0 THEN 1 ELSE -1 END)
                                * (CASE WHEN ((s >> 4) & 7) = 0
                                   THEN (s & 15) * 16 + 8
                                   ELSE ((s & 15) * 16 + 264)
                                        * (1 << (((s >> 4) & 7) - 1)) END)))
                     END AS BIGINT)
                   WHEN d.doc_id % 8 = 3 THEN
                     CAST(64 * list_sum(flatten(list_transform(
                         range(1 + d.doc_id % 3),
                         f -> list_transform(
                             range(2 * (1 + d.doc_id % 5)),
                             b -> (d.doc_id * 7 + 13 * b + 17 * f) % 251))))
                       AS BIGINT)
                   END AS pixel_sum,
                   CASE WHEN d.doc_id % 8 = 7 THEN
                     array_to_string(list_transform(
                         range(1 + d.doc_id % 3),
                         f -> 'v' || CAST(d.doc_id AS VARCHAR)
                              || 'f' || CAST(f AS VARCHAR)), '|')
                   END AS frame_text
            FROM documents d JOIN n_audio a USING (doc_id)
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id, count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "dedup_signatures": f"""
            WITH w AS (SELECT doc_id, {_DSHINGLES} AS sh FROM documents),
            m AS (
              SELECT doc_id,
                     {_minhash_sig_sql(0)} AS sig_0, {_minhash_sig_sql(1)} AS sig_1,
                     {_minhash_sig_sql(2)} AS sig_2, {_minhash_sig_sql(3)} AS sig_3
              FROM w
            ),
            s AS (SELECT * FROM ({_simhash_oracle_sql()}))
            SELECT m.doc_id, sig_0, sig_1, sig_2, sig_3,
                   simhash_hi, simhash_lo
            FROM m JOIN s USING (doc_id)
        """,
        "dedup_lsh": f"""
            WITH w AS (SELECT doc_id, {_DSHINGLES} AS sh FROM documents),
            s AS (SELECT doc_id, [{sig_list}] AS sig FROM w),
            b AS (
              SELECT doc_id, band,
                     md5(concat_ws('|', sig[2*band+1], sig[2*band+2])) AS bucket
              FROM s, (SELECT unnest(range(4)) AS band)
            ),
            ok AS (
              SELECT band, bucket FROM b GROUP BY band, bucket
              HAVING count(*) > 1 AND count(*) <= 1024
            ),
            p AS (SELECT b.* FROM b JOIN ok USING (band, bucket))
            SELECT DISTINCT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b
            FROM p a JOIN p c USING (band, bucket)
            WHERE a.doc_id < c.doc_id
        """,
        "dedup_verified": f"""
            WITH w AS (SELECT doc_id, {_DSHINGLES} AS sh FROM documents),
            s AS (SELECT doc_id, [{sig_list}] AS sig FROM w),
            b AS (
              SELECT doc_id, band,
                     md5(concat_ws('|', sig[2*band+1], sig[2*band+2])) AS bucket
              FROM s, (SELECT unnest(range(4)) AS band)
            ),
            ok AS (
              SELECT band, bucket FROM b GROUP BY band, bucket
              HAVING count(*) > 1 AND count(*) <= 1024
            ),
            p AS (SELECT b.* FROM b JOIN ok USING (band, bucket)),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b
              FROM p a JOIN p c USING (band, bucket)
              WHERE a.doc_id < c.doc_id
            )
            SELECT doc_id_a, doc_id_b,
                   round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                         / greatest(len(list_distinct(x.sh || y.sh)), 1), 6)
                       AS jaccard
            FROM cand
            JOIN w x ON cand.doc_id_a = x.doc_id
            JOIN w y ON cand.doc_id_b = y.doc_id
        """,
        "dedup_jaccard": f"""
            WITH s AS (SELECT source AS g, doc_id, {_DSHINGLES} AS sh FROM documents)
            SELECT * FROM (
              SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                     round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                           / greatest(len(list_distinct(a.sh || b.sh)), 1), 6)
                           AS jaccard
              FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id
            ) WHERE jaccard >= 0.05
        """,
        "text_token_stats": f"""
            SELECT doc_id,
                   len({_DWORDS}) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_obs,
                   len(list_distinct({_DWORDS})) AS n_distinct_tokens,
                   round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                         / greatest(len({_DWORDS}), 1), 6) AS avg_token_len,
                   len(regexp_extract_all(text,
                       '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_subtokens,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
            FROM documents
        """,
        "text_signals": f"""
            WITH t AS (
              SELECT doc_id,
                     len({_DWORDS}) AS n_tokens,
                     length(text) AS n_chars,
                     len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
                     len(list_filter({_DWORDS},
                         x -> x IN ('the','a','and','of','in','to','is'))) AS n_stop
              FROM documents
            ),
            q AS (
              SELECT doc_id, n_tokens,
                     round(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 6)
                         AS punct_ratio,
                     round(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 6)
                         AS stop_ratio,
                     round(least(n_tokens / 64.0, 1.0)
                           * (1.0 - CAST(n_punct AS DOUBLE) / greatest(n_chars, 1))
                           * (0.5 + 0.5 * least(CAST(n_stop AS DOUBLE)
                                                / greatest(n_tokens, 1) * 5.0, 1.0)), 6)
                         AS quality
              FROM t
            ),
            base AS (
              SELECT doc_id,
                     round(1.0 - CAST(len(list_distinct({_DWORDS})) AS DOUBLE)
                           / greatest(len({_DWORDS}), 1), 6) AS dup_token_ratio
              FROM documents
            ),
            bg AS (
              SELECT doc_id, unnest(
                CASE WHEN len({_DWORDS}) < 2 THEN []
                ELSE list_transform(range(len({_DWORDS}) - 1),
                     i -> array_to_string({_DWORDS}[i+1:i+2], ' ')) END
              ) AS b
              FROM documents
            ),
            counts AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY ALL),
            top AS (
              SELECT doc_id,
                     round(CAST(max(c) AS DOUBLE) / sum(c), 6)
                         AS top_bigram_ratio
              FROM counts GROUP BY doc_id
            ),
            comp AS (
              SELECT doc_id,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                     TRUE AS ratio_in_band,
                     TRUE AS doubling_gains
              FROM documents
            )
            SELECT q.doc_id, n_tokens, punct_ratio, stop_ratio, quality,
                   dup_token_ratio,
                   coalesce(top_bigram_ratio, 0.0) AS top_bigram_ratio,
                   n_bytes, ratio_in_band, doubling_gains
            FROM q
            JOIN base USING (doc_id)
            LEFT JOIN top USING (doc_id)
            JOIN comp USING (doc_id)
        """,
        "text_langid": f"""
            WITH t AS (
              SELECT doc_id, lang,
                 len(list_filter({_DWORDS},
                     x -> x IN ('the','a','and','of','in','to','is'))) AS c_en,
                 len(list_filter({_DWORDS},
                     x -> x IN ('der','die','das','und','ist','ein','zu'))) AS c_de,
                 len(list_filter({_DWORDS},
                     x -> x IN ('le','la','les','et','est','un','une'))) AS c_fr,
                 len(list_filter({_DWORDS},
                     x -> x IN ('el','los','las','por','para','y','con'))) AS c_es,
                 CAST(len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]'))
                      AS BIGINT) AS c_zh
              FROM documents
            )
            SELECT doc_id, lang,
                   CASE WHEN c_zh > 0 THEN 'zh'
                        WHEN c_de > c_en AND c_de > c_fr AND c_de > c_es THEN 'de'
                        WHEN c_fr > c_en AND c_fr >= c_de AND c_fr > c_es THEN 'fr'
                        WHEN c_es > c_en AND c_es >= c_de AND c_es > c_fr THEN 'es'
                        ELSE 'en' END AS predicted_lang,
                   c_en, c_de, c_fr, c_es, c_zh
            FROM t
        """,
        "text_topk_quality": f"""
            WITH t AS (
              SELECT doc_id, lang,
                     len({_DWORDS}) AS n_tokens,
                     length(text) AS n_chars,
                     len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
                     len(list_filter({_DWORDS},
                         x -> x IN ('the','a','and','of','in','to','is'))) AS n_stop
              FROM documents
            ),
            q AS (
              SELECT doc_id, lang,
                     round(least(n_tokens / 64.0, 1.0)
                           * (1.0 - CAST(n_punct AS DOUBLE) / greatest(n_chars, 1))
                           * (0.5 + 0.5 * least(CAST(n_stop AS DOUBLE)
                                / greatest(n_tokens, 1) * 5.0, 1.0)), 6) AS quality
              FROM t
            )
            SELECT lang, doc_id, quality, rk FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY lang ORDER BY quality DESC, doc_id) AS rk
              FROM q
            ) WHERE rk <= 5
        """,
        "union_branches": f"""
            SELECT 'html' AS branch, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_len
            FROM documents
            UNION ALL
            SELECT 'pdf' AS branch, count(*) AS n_docs,
                   CAST(sum(length({_pdf_expected_sql()})) AS BIGINT) AS total_len
            FROM documents
        """,
        "sim_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
            p AS (
              SELECT q.query_id, e.vec_id,
                     round(list_dot_product(q.v, e.v)
                           / (sqrt(list_dot_product(q.v, q.v))
                              * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
              FROM e, q WHERE e.vec_id != q.query_id
            )
            SELECT query_id, vec_id, cos, rank FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
              FROM p
            ) WHERE rank <= 5
        """,
        "sim_knn_label": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, v, label FROM e WHERE vec_id < 5),
            p AS (
              SELECT q.query_id, e.vec_id,
                     round(list_dot_product(q.v, e.v)
                           / (sqrt(list_dot_product(q.v, q.v))
                              * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
              FROM e, q WHERE e.vec_id != q.query_id
            ),
            topk AS (
              SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
                FROM p
              ) WHERE rank <= 5
            ),
            j AS (
              SELECT t.query_id, qe.label AS query_label, ce.label AS label
              FROM topk t
              JOIN embeddings ce ON t.vec_id = ce.vec_id
              JOIN embeddings qe ON t.query_id = qe.vec_id
            ),
            v AS (SELECT query_id, query_label, label, count(*) AS c
                  FROM j GROUP BY ALL),
            tv AS (SELECT *, row_number() OVER (
                       PARTITION BY query_id ORDER BY c DESC, label) AS r
                   FROM v)
            SELECT CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(sum(CASE WHEN label = query_label THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_correct
            FROM tv WHERE r = 1
        """,
        "rel_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1.0 - l_discount)), 2)
                       AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "rel_top_orders": """
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                         ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders
            ) WHERE rn <= 3
        """,
        "rel_nation_revenue": """
            SELECT n_name, round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "rel_stats": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                   round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
                   round(min(l_extendedprice), 4) AS lo,
                   round(max(l_extendedprice), 4) AS hi,
                   round(stddev_samp(l_extendedprice), 4) AS sd_price,
                   round(corr(l_quantity, l_extendedprice), 6)
                       AS qty_price_corr,
                   round(covar_samp(l_quantity, l_discount), 6)
                       AS qty_disc_covar
            FROM lineitem GROUP BY l_returnflag
        """,
        "text_edit_distance": """
            WITH n AS (
              SELECT source, doc_id AS doc_id_a,
                     lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
                         AS doc_id_b
              FROM documents
            )
            SELECT n.doc_id_a, n.doc_id_b,
                   CAST(levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60))
                        AS BIGINT) AS edit_distance
            FROM n
            JOIN documents a ON n.doc_id_a = a.doc_id
            JOIN documents b ON n.doc_id_b = b.doc_id
            WHERE n.doc_id_b IS NOT NULL
        """,
        "rel_rollup": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty,
                   CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "rel_anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (
              SELECT 1 FROM orders WHERE o_custkey = c_custkey
            )
        """,
        "extract_warc": f"""
            -- the WARC crawl is a pure function of documents: url and
            -- page bytes via kernels.synth, WARC-Date from
            -- warc_ts_for_doc = 1704067200 + (doc_id%7)*86400
            -- + (doc_id*40499)%86400 epoch seconds (UTC)
            SELECT {_URL_SQL} AS url,
                   strftime(make_timestamp(
                       (1704067200 + (doc_id % 7) * 86400
                        + (doc_id * 40499) % 86400) * 1000000),
                       '%Y-%m-%d %H:%M:%S') AS warc_time,
                   text AS extracted_text,
                   CAST(1 AS BIGINT) AS n_blocks
            FROM documents
        """,
        "events_windowed": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type, count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY ALL
        """,
        "events_asof": """
            WITH marks AS (
              SELECT DISTINCT user_id,
                     date_trunc('hour', ts) + INTERVAL 1 HOUR AS mark
              FROM events
            )
            SELECT m.user_id,
                   strftime(m.mark, '%Y-%m-%d %H:%M:%S') AS mark,
                   round(e.value, 6) AS asof_value
            FROM marks m
            ASOF LEFT JOIN events e
              ON m.user_id = e.user_id AND m.mark >= e.ts
        """,
        "events_sessions": """
            WITH g AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            n AS (
              SELECT *, CAST(sum(new_s) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
                  AS session_no
              FROM g
            )
            SELECT user_id, session_no, count(*) AS n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
                   round(sum(value), 4) AS sum_value
            FROM n GROUP BY user_id, session_no
        """,
        "dedup_simhash_pairs": _simhash_pairs_oracle_sql(),
        "text_redact": _text_redact_oracle_sql(),
        "dedup_chunks": _dedup_chunks_oracle_sql(),
        "dedup_clusters": _dedup_clusters_oracle_sql(lsh_pairs_sql),
        "curate_corpus": _curate_corpus_oracle_sql(),
        "curate_sample": _curate_sample_oracle_sql(),
        "text_lm": _text_lm_oracle_sql(),
        "text_contamination": _text_contamination_oracle_sql(),
        "sim_lsh": _sim_lsh_oracle_sql(),
        "dedup_embedding": _dedup_embedding_oracle_sql(),
        "nodes_profile": _nodes_profile_oracle_sql(),
        "extract_quality": _extract_quality_oracle_sql(),
        "extract_html_wild": _extract_html_wild_oracle_sql(),
        "sim_ivf": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
            p AS (
              SELECT q.query_id, e.vec_id,
                     round(list_dot_product(q.v, e.v)
                           / (sqrt(list_dot_product(q.v, q.v))
                              * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
              FROM e, q WHERE e.vec_id != q.query_id
            ),
            topk AS (
              SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
                FROM p
              ) WHERE rank <= 5
            )
            SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
                   count(*) AS n_exact,
                   TRUE AS recall_ok
            FROM topk
        """,
    }


def _sim_lsh_oracle_sql() -> str:
    """DuckDB twin of ``operators.similarity.lsh_topk`` at the contract
    parameters (dim=64, k=5, n_planes=6, seed=42): the hyperplane matrix is
    the same md5-derived literal table both engines inline
    (``hyperplane_components``), so bucket codes, candidate sets, cosines,
    and ranks must agree exactly."""
    from ocr_spark.operators.similarity import hyperplane_components

    planes = hyperplane_components(dim=64, n_planes=6, seed=42)
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(v, [{', '.join(repr(c) for c in comps)}])"
        f" > 0 THEN {1 << p} ELSE 0 END"
        for p, comps in enumerate(planes)
    )
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        b AS (SELECT vec_id, v, CAST({bucket} AS BIGINT) AS bucket FROM e),
        q AS (SELECT vec_id AS query_id, v, bucket FROM b WHERE vec_id < 5),
        p AS (
          SELECT q.query_id, b.vec_id,
                 round(list_dot_product(q.v, b.v)
                       / nullif(sqrt(list_dot_product(q.v, q.v))
                                * sqrt(list_dot_product(b.v, b.v)), 0.0), 6)
                     AS cos
          FROM b JOIN q ON b.bucket = q.bucket AND b.vec_id != q.query_id
        )
        SELECT query_id, vec_id, cos, rank FROM (
          SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
          FROM p
        ) WHERE rank <= 5
    """


def _nodes_profile_oracle_sql() -> str:
    """DuckDB twin of the per-tag node profile: reproduces the node table
    the HTML tokenizer emits for every synthetic page as a closed form of
    ``k = url_key(url)`` (first 8 md5 hex digits of the url). Per page the
    chrome contributes: one h1 (masthead title), three divs
    (cta/cookie/share — constant text), 5+k%7 nav <li> + two copies of
    4+k%4 sidebar <li>, one h3 (sidebar title), one h4, and a footer <p>;
    the content <p> carries the document text (score saturates at
    text_len/20). Literal word/title length tables are imported from
    ``ocr_spark.kernels.synth`` so this SQL and the page generator share
    one source of truth."""
    from ocr_spark.kernels.synth import _NAV_WORDS, _SIDEBAR_TITLES

    k = f"CAST('0x' || substr(md5({_URL_SQL}), 1, 8) AS BIGINT)"
    nav_lens = ", ".join(str(len(w)) for w in _NAV_WORDS)
    side_lens = ", ".join(str(len(t)) for t in _SIDEBAR_TITLES)
    # constant chrome text lengths (measured from the literal templates):
    # cta div 34, cookie div 53 (the <button>Accept</button> label is a
    # dropped form control), share div 45; h4 17; footer p 56 + digits
    # of k%11; h1 13 + digits of k%13; sidebar li 28 + digits of k%97.
    return f"""
        WITH d AS (
          SELECT doc_id, n_chars, {k} AS k FROM documents
        ),
        per_doc AS (
          SELECT doc_id, n_chars, k,
                 5 + k % 7 AS n_nav,
                 4 + k % 4 AS n_side,
                 length(CAST(k % 13 AS VARCHAR)) AS d13,
                 length(CAST(k % 97 AS VARCHAR)) AS d97,
                 length(CAST(k % 11 AS VARCHAR)) AS d11,
                 list_sum(list_transform(range(5 + k % 7),
                     i -> [{nav_lens}][CAST((k + i) % 12 AS INTEGER) + 1]))
                     AS nav_chars,
                 [{side_lens}][CAST(k % 5 AS INTEGER) + 1] AS side_title_len
          FROM d
        ),
        tags AS (
          SELECT 'h1' AS tag, count(*) AS n_nodes, 0.0 AS sum_score,
                 count(*) AS n_neg, sum(13 + d13) AS total_chars
          FROM per_doc
          UNION ALL
          SELECT 'div', 3 * count(*), 0.0, 3 * count(*),
                 (34 + 53 + 45) * count(*)
          FROM per_doc
          UNION ALL
          SELECT 'li', sum(n_nav + 2 * n_side), 0.0, sum(n_nav + 2 * n_side),
                 sum(nav_chars + 2 * n_side * (28 + d97))
          FROM per_doc
          UNION ALL
          SELECT 'h3', count(*), 0.0, count(*), sum(side_title_len)
          FROM per_doc
          UNION ALL
          SELECT 'h4', count(*), 0.0, count(*), 17 * count(*)
          FROM per_doc
          UNION ALL
          SELECT 'p', 2 * count(*),
                 sum(least(n_chars / 20.0, 1.0)), count(*),
                 sum(n_chars) + sum(56 + d11)
          FROM per_doc
        )
        SELECT tag, CAST(n_nodes AS BIGINT) AS n_nodes,
               round(sum_score / n_nodes, 6) AS avg_score,
               round(CAST(n_neg AS DOUBLE) / n_nodes, 6) AS neg_rate,
               CAST(total_chars AS BIGINT) AS total_chars
        FROM tags
    """


def _dedup_embedding_oracle_sql() -> str:
    """DuckDB twin of ``cosine_near_pairs`` at the contract parameters
    (threshold 0.4, 4 planes × 2 tables, seed 42): same literal hyperplane
    tables, same bucket self-join, same exact-cosine verify."""
    from ocr_spark.operators.similarity import hyperplane_components

    def bucket(seed: int) -> str:
        planes = hyperplane_components(dim=64, n_planes=4, seed=seed)
        return " + ".join(
            f"CASE WHEN list_dot_product(v, [{', '.join(repr(c) for c in comps)}])"
            f" > 0 THEN {1 << p} ELSE 0 END"
            for p, comps in enumerate(planes)
        )

    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        b AS (
          SELECT vec_id, v, 0 AS tbl, CAST({bucket(42)} AS BIGINT) AS bucket
          FROM e
          UNION ALL
          SELECT vec_id, v, 1, CAST({bucket(1042)} AS BIGINT) FROM e
        ),
        p AS (
          SELECT DISTINCT x.vec_id AS vec_id_a, y.vec_id AS vec_id_b,
                 round(list_dot_product(x.v, y.v)
                       / nullif(sqrt(list_dot_product(x.v, x.v))
                                * sqrt(list_dot_product(y.v, y.v)), 0.0), 6)
                     AS cos
          FROM b x JOIN b y
            ON x.tbl = y.tbl AND x.bucket = y.bucket
           AND x.vec_id < y.vec_id
        )
        SELECT * FROM p WHERE cos >= 0.4
    """


def _extract_quality_oracle_sql() -> str:
    """DuckDB twin of the boilerplate-ratio signal: total chrome char mass
    per page as a closed form of k = url_key(url) (the per-tag text-length
    model shared with the nodes_profile oracle: h1 13+digits(k%13), three
    constant divs 34+53+45 (button labels are dropped form controls),
    nav+sidebar <li> word lengths, sidebar title,
    h4 17, footer p 56+digits(k%11)); kept mass is the content <p> =
    n_chars."""
    from ocr_spark.kernels.synth import _NAV_WORDS, _SIDEBAR_TITLES

    k = f"CAST('0x' || substr(md5({_URL_SQL}), 1, 8) AS BIGINT)"
    nav_lens = ", ".join(str(len(w)) for w in _NAV_WORDS)
    side_lens = ", ".join(str(len(t)) for t in _SIDEBAR_TITLES)
    return f"""
        WITH d AS (
          SELECT doc_id, n_chars, source, {k} AS k, {_URL_SQL} AS url
          FROM documents
        ),
        per_doc AS (
          SELECT url, n_chars,
                 218
                 + length(CAST(k % 13 AS VARCHAR))
                 + length(CAST(k % 11 AS VARCHAR))
                 + list_sum(list_transform(range(5 + k % 7),
                     i -> [{nav_lens}][CAST((k + i) % 12 AS INTEGER) + 1]))
                 + 2 * (4 + k % 4) * (28 + length(CAST(k % 97 AS VARCHAR)))
                 + [{side_lens}][CAST(k % 5 AS INTEGER) + 1] AS chrome_chars
          FROM d
        )
        SELECT url, CAST(1 AS BIGINT) AS n_blocks,
               round(1.0 - CAST(n_chars AS DOUBLE)
                     / (n_chars + chrome_chars), 6) AS boilerplate_ratio
        FROM per_doc
    """


def _dedup_chunks_oracle_sql() -> str:
    """DuckDB twin of ``dedup.remove_boilerplate_chunks`` (8-word chunks,
    min_docs=2): per-row ``unnest(range(...))`` expands chunk positions,
    bracket slicing rebuilds each chunk, distinct-doc frequency gates the
    threshold, ``string_agg(... ORDER BY pos)`` reassembles."""
    return f"""
        WITH w AS (SELECT doc_id, {_DWORDS} AS words FROM documents),
        c AS (
          SELECT doc_id, words,
                 unnest(range(CAST(ceil(len(words) / 8.0) AS BIGINT))) AS pos
          FROM w
        ),
        c2 AS (
          SELECT doc_id, pos,
                 array_to_string(words[pos * 8 + 1 : pos * 8 + 8], ' ')
                     AS chunk
          FROM c
        ),
        f AS (SELECT chunk, count(DISTINCT doc_id) AS nd
              FROM c2 GROUP BY chunk),
        kept AS (SELECT c2.* FROM c2 JOIN f USING (chunk) WHERE nd < 2),
        re AS (
          SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id
        ),
        tot AS (SELECT doc_id, count(*) AS n_chunks FROM c2 GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(re.clean_text, '') AS clean_text,
               CAST(coalesce(tot.n_chunks, 0) AS BIGINT) AS n_chunks,
               CAST(coalesce(tot.n_chunks, 0) - coalesce(re.n_kept, 0)
                    AS BIGINT) AS n_removed
        FROM documents d
        LEFT JOIN tot USING (doc_id)
        LEFT JOIN re USING (doc_id)
    """


def _text_redact_oracle_sql() -> str:
    """DuckDB twin of ``q_text_redact``: same suffix construction, each
    count computed on the text as the PREVIOUS patterns left it (= number
    of replacements actually performed), replacement chained in the same
    pattern order ('g' flag = Spark's replace-all default). Patterns are
    shared literals from ``PII_PATTERNS`` — DuckDB standard strings keep
    backslashes raw, so the regex crosses dialects intact."""
    from ocr_spark.operators.textstats import PII_PATTERNS

    cleaned = "text"
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(
            f"CAST(len(regexp_extract_all({cleaned}, '{pat}')) AS BIGINT)"
            f" AS n_{name}"
        )
        cleaned = f"regexp_replace({cleaned}, '{pat}', '{token}', 'g')"
    return f"""
        WITH t AS (SELECT doc_id, {_PII_SUFFIX_SQL} AS text FROM documents)
        SELECT doc_id, {cleaned} AS clean_text, {', '.join(counts)}
        FROM t
    """


def _simhash_pairs_oracle_sql() -> str:
    """DuckDB twin of ``operators.dedup.simhash_band_pairs`` (8 bands × 8
    bits): signatures via the ``dedup_simhash`` oracle, band values by
    shift+mask, the same MAX_LSH_BUCKET hot-bucket HAVING cap, candidate
    pairs by band equi-join, exact XOR-popcount verify at radius 7."""
    return f"""
        WITH s AS (SELECT * FROM ({_simhash_oracle_sql()})),
        b AS (
          SELECT doc_id, band,
                 CASE WHEN band < 4 THEN (simhash_lo >> (band * 8)) & 255
                      ELSE (simhash_hi >> ((band - 4) * 8)) & 255
                 END AS bits
          FROM s, (SELECT unnest(range(8)) AS band)
        ),
        ok AS (
          SELECT band, bits FROM b GROUP BY band, bits
          HAVING count(*) > 1 AND count(*) <= 1024
        ),
        pruned AS (SELECT b.* FROM b JOIN ok USING (band, bits)),
        cand AS (
          SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
          FROM pruned x JOIN pruned y USING (band, bits)
          WHERE x.doc_id < y.doc_id
        ),
        verified AS (
          SELECT cand.a_id AS doc_id_a, cand.b_id AS doc_id_b,
                 CAST(bit_count(xor(sa.simhash_hi, sb.simhash_hi))
                      + bit_count(xor(sa.simhash_lo, sb.simhash_lo))
                      AS BIGINT) AS hamming
          FROM cand
          JOIN s sa ON cand.a_id = sa.doc_id
          JOIN s sb ON cand.b_id = sb.doc_id
        )
        SELECT doc_id_a, doc_id_b, hamming FROM verified WHERE hamming <= 7
    """


def _simhash_oracle_sql() -> str:
    """DuckDB twin of ``operators.dedup.simhash64``: md5-derived bit family
    (high bit of each of the 64 hex digits of md5(t)||md5(t||'#')), ±1
    votes weighted by token frequency, bits packed into two 32-bit halves.
    ``coalesce(..., 0)`` mirrors Spark's aggregate-with-0-init on empty
    token lists (DuckDB ``list_sum([])`` is NULL)."""
    hi_hex = "('8','9','a','b','c','d','e','f')"
    votes = ", ".join(
        f"coalesce(list_sum(list_transform(th, h -> CASE WHEN "
        f"substr(h, {b + 1}, 1) IN {hi_hex} THEN 1 ELSE -1 END)), 0) AS v{b}"
        for b in range(64)
    )

    def pack(lo_bit: int) -> str:
        return " + ".join(
            f"CASE WHEN v{lo_bit + i} > 0 THEN {1 << i} ELSE 0 END"
            for i in range(32)
        )

    return f"""
        WITH t AS (
          SELECT doc_id,
                 list_transform({_DWORDS}, x -> md5(x) || md5(x || '#')) AS th
          FROM documents
        ),
        v AS (SELECT doc_id, {votes} FROM t)
        SELECT doc_id,
               CAST({pack(32)} AS BIGINT) AS simhash_hi,
               CAST({pack(0)} AS BIGINT) AS simhash_lo
        FROM v
    """
