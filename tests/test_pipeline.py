"""Fused HTML+OCR pipeline: merge semantics, degradation, plan shape."""

from __future__ import annotations

import pyspark.sql.functions as F

from ocr_spark.kernels.charset import decode_html
from ocr_spark.operators.pipeline import _lines_of_doc, extract_full
from ocr_spark.plans.inspect import count_exchanges, explain_str
from ocr_spark.sources.pages import (
    pages_from_documents,
    pages_with_images_from_documents,
)

SF = "/root/testdata/sf0.001"


def _lines_per_url(pages):
    """url → number of embedded lines detected in its decoded html (the
    pipeline's detector, run in plain Python over the collected pages)."""
    return {
        r.url: len(list(_lines_of_doc(decode_html(bytes(r.html)))))
        for r in pages.select("url", "html").collect()
    }


def _plan_column_types(df):
    """Type of every column that any node of the optimized plan outputs
    (intermediate columns never show in an explain string's types)."""
    types, todo = set(), [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        types.update(f.dataType().simpleString() for f in node.schema().fields())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return types


def test_pages_without_images_degrade_to_html_only(spark):
    pages = pages_from_documents(spark, SF)  # no embedded images
    out = extract_full(pages)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = docs.count()
    assert out.count() == n
    assert set(_lines_per_url(pages).values()) == {0}
    # extracted text equals the pure-HTML branch result exactly
    joined = out.join(
        docs.selectExpr("text AS expected"), out.extracted_text == F.col("expected")
    )
    assert joined.count() == n


def test_line_detection_counts(spark):
    pages = pages_with_images_from_documents(spark, SF)
    per_url = _lines_per_url(pages)
    n = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(per_url) == n
    assert set(per_url.values()) == {2}


def test_pipeline_shuffle_budget(spark):
    """Design contract of the fused pipeline: assembly happens in the
    worker, so it adds NO exchange over the source, and strips never leave
    the worker — no array<float> column anywhere in the plan."""
    pages = pages_with_images_from_documents(spark, SF)
    source_exchanges = count_exchanges(pages)
    full = extract_full(pages)
    assert count_exchanges(full) == source_exchanges
    types = _plan_column_types(full)
    assert "array<float>" not in types, types


def test_pipeline_single_scan(spark):
    """The corpus is scanned and parsed exactly once, in ONE UDF stage
    over the source: extract, detect, recognize and assemble all run in
    the Python worker that decoded the page."""
    pages = pages_with_images_from_documents(spark, SF)
    base = explain_str(pages, "simple").count("MapInPandas")
    plan = explain_str(extract_full(pages), "simple")
    assert plan.count("MapInPandas") == base + 1, plan


def test_unknown_recognizer_is_rejected_before_any_job(spark):
    """A misspelled recognizer must fail when the query is built, not run
    the conv recognizer."""
    import pytest

    pages = pages_with_images_from_documents(spark, SF)
    with pytest.raises(ValueError, match="fnot"):
        extract_full(pages, recognizer="fnot")


def test_batch_boundaries_do_not_leak(spark):
    """Assembly is per Arrow batch in the worker, so the output must not
    depend on where batches split: 2-row batches give the same rows as the
    default conf. The corpus holds a 2-row batch whose images are all
    malformed (zero strips: no stack, no recognizer call), and two pages
    sharing a url straddling a batch boundary give two rows, like
    extract_pages."""
    import datetime

    from ocr_spark.kernels.synth import wrap_html_with_images
    from ocr_spark.operators import pipeline
    from ocr_spark.operators.extract_html import extract_pages
    from ocr_spark.sources.pages import PAGES_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    para = "<p>real content words here enough to score well over the threshold</p>"

    def page(url, text, lines):
        return (url, ts, bytearray(wrap_html_with_images(text, url, lines)), text, "en")

    def bad(url):
        html = (f'<body><img data-width="24" data-strip="!!!bad!!!">'
                f'<img data-width="24" data-strip="AAAAA">{para}</body>')
        return (url, ts, bytearray(html.encode()), "", "en")

    rows = [
        page("u:a", "first page of prose", ["abc1", "def2"]),
        page("u:dup", "duplicate url one", ["one1"]),
        bad("u:bad1"),
        bad("u:bad2"),
        page("u:dup", "duplicate url two", ["two2", "x"]),
        page("u:c", "last page of prose", ["ghi3"]),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1)

    def collect(df):
        return sorted(tuple(r) for r in df.collect())

    default = collect(extract_full(pages))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        small = collect(extract_full(pages))
    finally:
        spark.conf.set(key, old)
    assert small == default
    assert [u for u, _ in default] == sorted(
        r.url for r in extract_pages(pages).collect()
    )
    dup = [t for u, t in default if u == "u:dup"]
    assert sorted(dup) == sorted([
        "duplicate url one\n\none1", "duplicate url two\n\ntwo2\n\nx"
    ]), dup
    assert dict(default)["u:bad1"] == para[3:-4]

    # the same 2-row batches through the stage in-process: the all-
    # malformed batch must reach neither np.stack nor the recognizer
    calls = []
    conv = pipeline.recognizer_fn("conv")

    def recording(strips, widths):
        calls.append(len(strips))
        return conv(strips, widths)

    pdf = pages.select("url", "html").toPandas()
    batches = [pdf.iloc[i:i + 2].reset_index(drop=True) for i in range(0, 6, 2)]
    out = list(pipeline._fused_stage(recording)(iter(batches)))
    assert calls == [3, 3]
    assert sorted(
        (u, t) for o in out for u, t in zip(o["url"], o["extracted_text"])
    ) == default


def test_empty_recognized_line_keeps_its_slot(spark):
    """A document whose text has no alphanumeric chars embeds a
    zero-width line; it must decode to '' and KEEP its separator slot
    (the extract_full oracles concatenate text||sep||''||sep||lineN), in
    both the conv and font fixture/recognizer pairs."""
    import datetime

    from ocr_spark.kernels.synth import (
        wrap_html_with_font_images,
        wrap_html_with_images,
    )
    from ocr_spark.sources.pages import PAGES_SCHEMA

    text = "¡¡¡ ··· ??? !!!"  # no [0-9a-zA-Z] at all
    ts = datetime.datetime(2024, 1, 1)
    conv_html = wrap_html_with_images(text, "u:conv", ["", "line7"], scales=[1, 1])
    font_html = wrap_html_with_font_images(text, "u:font", ["", "line7"], seed_base=7)
    pages = spark.createDataFrame(
        [
            ("u:conv", ts, bytearray(conv_html), text, "en"),
            ("u:font", ts, bytearray(font_html), text, "en"),
        ],
        PAGES_SCHEMA,
    )
    expected = text + "\n\n" + "" + "\n\n" + "line7"
    conv_out = {
        r.url: r.extracted_text
        for r in extract_full(pages.filter(F.col("url") == "u:conv")).collect()
    }
    font_out = {
        r.url: r.extracted_text
        for r in extract_full(
            pages.filter(F.col("url") == "u:font"), recognizer="font"
        ).collect()
    }
    assert conv_out["u:conv"] == expected, repr(conv_out)
    assert font_out["u:font"] == expected, repr(font_out)


def test_empty_payload_rule_uniform_across_geometries():
    """Empty pixel data behaves identically whether or not data-height is
    declared and whichever container carries it: width 0 keeps a
    zero-width line slot; nonzero width with no data is malformed and
    skipped."""
    import base64

    from ocr_spark.kernels.png import encode_png
    import numpy as np

    from ocr_spark.operators.pipeline import _lines_of_doc

    empty_png_h8 = base64.b64encode(
        encode_png(np.zeros((8, 0), dtype=np.uint8))
    ).decode()
    empty_png_h16 = base64.b64encode(
        encode_png(np.zeros((16, 0), dtype=np.uint8))
    ).decode()
    html = (
        # zero-width, default height: slot kept
        '<img data-width="0" data-strip="">'
        # zero-width, scaled height: slot kept (was the asymmetric case)
        '<img data-width="0" data-height="16" data-strip="">'
        # nonzero width with empty payload: malformed, skipped, both ways
        '<img data-width="12" data-strip="">'
        '<img data-width="12" data-height="16" data-strip="">'
        # zero-width PNG containers, both heights: slot kept
        f'<img data-width="0" data-strip="{empty_png_h8}">'
        f'<img data-width="0" data-height="16" data-strip="{empty_png_h16}">'
    )
    lines = list(_lines_of_doc(html))
    assert [(i, w) for i, _s, w in lines] == [(0, 0), (1, 0), (4, 0), (5, 0)]


def test_eight_tall_narrow_png_strip_is_kept():
    """An 8-tall PNG line narrower than the 384 pad width is a valid
    strip (real decoded width wins) — it must not be dropped for not
    being exactly 8x384."""
    import base64

    import numpy as np

    from ocr_spark.kernels.font import render_line_font
    from ocr_spark.kernels.png import encode_png
    from ocr_spark.operators.pipeline import _lines_of_doc

    strip, width = render_line_font("Hi7")
    content = (strip[:, :width] * 255).astype(np.uint8)  # 8 x 18
    b64 = base64.b64encode(encode_png(content)).decode()
    html = f'<img data-width="{width}" data-strip="{b64}">'
    lines = list(_lines_of_doc(html))
    assert len(lines) == 1
    i, got_strip, got_w = lines[0]
    assert got_w == width
    # and it decodes back to the text
    from ocr_spark.kernels.font import recognize_lines_font

    assert recognize_lines_font(got_strip[None], [got_w]) == ["Hi7"]


def test_mixed_containers_both_decode(spark):
    """The noisy fixture ships PNG and JPEG strips on the same corpus
    (per-line (seed_base+idx)%2); both container branches must actually
    occur and decode exactly — a silent PNG-only fixture would void the
    container-agnostic claim."""
    import base64
    import datetime
    import re

    from ocr_spark.kernels.jpeg import JPEG_MAGIC
    from ocr_spark.kernels.png import PNG_MAGIC
    from ocr_spark.kernels.synth import wrap_html_with_font_images
    from ocr_spark.sources.pages import PAGES_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    rows = []
    magics = set()
    for seed in range(4):
        html = wrap_html_with_font_images(
            "mixed container page", f"u:{seed}", ["abc123", f"line{seed}"],
            seed_base=seed,
        )
        for m in re.finditer(r'data-strip="([A-Za-z0-9+/=]*)"', html.decode()):
            payload = base64.b64decode(m.group(1))
            if payload.startswith(PNG_MAGIC):
                magics.add("png")
            elif payload.startswith(JPEG_MAGIC):
                magics.add("jpeg")
        rows.append((f"u:{seed}", ts, bytearray(html), "t", "en"))
    assert magics == {"png", "jpeg"}

    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    out = {r.url: r.extracted_text for r in
           extract_full(pages, recognizer="font").collect()}
    for seed in range(4):
        assert out[f"u:{seed}"].endswith(f"abc123\n\nline{seed}")


def test_font_beam_lm_wired_end_to_end(spark):
    """recognizer='font_beam_lm' (beam + glyph-bigram context prior) runs
    through the fused pipeline and matches the greedy path at the
    contract distortion (shallow fusion: confident reads unchanged)."""
    import datetime

    from ocr_spark.kernels.synth import wrap_html_with_font_images
    from ocr_spark.sources.pages import PAGES_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    html = wrap_html_with_font_images(
        "context page", "u:lm", ["100110", "hello42"], seed_base=3
    )
    pages = spark.createDataFrame(
        [("u:lm", ts, bytearray(html), "t", "en")], PAGES_SCHEMA
    )
    out = {r.url: r.extracted_text for r in
           extract_full(pages, recognizer="font_beam_lm").collect()}
    assert out["u:lm"].endswith("100110\n\nhello42")
