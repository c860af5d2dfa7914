"""Deterministic synthetic page generation (fixture factory).

The reference trains/tests on externally-shipped golden arrays
(``/root/reference/testData/*.npy``); we have no external data, so fixtures
are *generated*: known main content is wrapped in deterministic boilerplate
chrome (nav/header/aside/footer/share, link-heavy) and the extraction
pipeline must recover the content byte-identically. All variation is keyed
on an md5-derived ``url_key`` — no RNG state, fully reproducible (unlike the
reference's RNG-in-geometry trap,
``/root/reference/DataPreprocess/DataGen.py:319-333``), and re-derivable in
ANSI SQL so chrome-structure queries can carry hard oracles.
"""

from __future__ import annotations

import hashlib
import html as _html

_NAV_WORDS = [
    "Home", "Products", "Pricing", "Blog", "Careers", "Support",
    "Documentation", "Community", "Partners", "Contact", "About", "Legal",
]
_SIDEBAR_TITLES = [
    "Most read this week", "Trending topics", "From our partners",
    "Editor picks", "Recommended for you",
]
_HOST_POOL = [
    "news.example.com", "blog.example.org", "shop.example.net",
    "docs.example.io", "forum.example.dev", "wiki.example.co",
    "media.example.tv", "press.example.info",
]
# Deliberately skewed: this fraction of pages land on the hot host — the
# skew case the write-side salting must absorb.
HOT_HOST = "hot.example.com"
HOT_HOST_PCT = 30  # percent


def url_key(url: str) -> int:
    """Stable non-salted hash of a url: the first 8 hex digits of md5 as an
    integer (NOT Python's salted ``hash``). md5 rather than crc32 so every
    chrome-variation quantity keyed on it is re-derivable in ANSI SQL —
    ``CAST('0x' || substr(md5(url), 1, 8) AS BIGINT)`` — which is what lets
    the node-table profile query carry a hard DuckDB oracle."""
    return int(hashlib.md5(url.encode("utf-8")).hexdigest()[:8], 16)


def host_for_doc(doc_id: int) -> str:
    if doc_id % 100 < HOT_HOST_PCT:
        return HOT_HOST
    return _HOST_POOL[doc_id % len(_HOST_POOL)]


def url_for_doc(doc_id: int, source: str = "src") -> str:
    return f"https://{host_for_doc(doc_id)}/{source}/{doc_id}"


def wrap_html(main_text: str, url: str, n_paragraphs: int = 1) -> bytes:
    """Wrap known main content in boilerplate chrome → UTF-8 HTML bytes.

    Invariant (the byte-identical contract): running
    ``kernels.html.extract_main_text`` on the result yields exactly
    ``main_text`` when ``n_paragraphs == 1``, or the paragraphs joined with
    ``BLOCK_SEPARATOR`` when the text is pre-split by the caller.

    Boilerplate blocks are constructed to score < SCORE_THRESH under the
    Arc90 scorer: nav/header/aside/footer ancestry (hard negatives),
    link-dense lists, and negative class patterns (share/cookie/related).
    """
    k = url_key(url)
    n_nav = 5 + k % 7
    nav_items = "".join(
        f'<li><a href="/{w.lower()}">{_NAV_WORDS[(k + i) % len(_NAV_WORDS)]}</a></li>'
        for i, w in enumerate(_NAV_WORDS[:n_nav])
    )
    side_title = _SIDEBAR_TITLES[k % len(_SIDEBAR_TITLES)]
    side_items = "".join(
        f'<li><a href="/rel/{i}">Related story number {k % 97} part {i}</a></li>'
        for i in range(4 + k % 4)
    )
    if n_paragraphs <= 1:
        paras = [main_text]
    else:
        words = main_text.split(" ")
        step = max(1, len(words) // n_paragraphs)
        paras = [
            " ".join(words[i : i + step]) for i in range(0, len(words), step)
        ]
    body = "".join(f"<p>{_html.escape(p)}</p>" for p in paras if p)
    doc = (
        "<!DOCTYPE html>\n"
        f"<html><head><title>Page {k}</title>"
        "<style>body{margin:0}.ad{display:none}</style>"
        f"<script>var trackingId={k};trk.init();</script></head>\n"
        "<body>\n"
        f'<header class="masthead"><h1><a href="/">Example Site {k % 13}</a></h1>'
        '<div class="cta"><a href="/subscribe">Subscribe now</a> for unlimited access</div></header>\n'
        f'<nav class="menu main-nav"><ul>{nav_items}</ul></nav>\n'
        '<div class="cookie-banner">We use cookies to improve your experience. '
        '<a href="/privacy">Learn more</a> <button>Accept</button></div>\n'
        '<div class="layout">\n'
        f'<aside class="sidebar"><h3>{side_title}</h3><ul>{side_items}</ul></aside>\n'
        f'<main class="content"><article>{body}</article></main>\n'
        "</div>\n"
        f'<div class="share social"><a href="/share/x">Share on X</a> '
        '<a href="/share/fb">Share on Facebook</a> <a href="/share/li">Post to LinkedIn</a></div>\n'
        f'<div class="related widget"><h4>You may also like</h4><ul>{side_items}</ul></div>\n'
        f'<footer><p>&copy; 2024 Example Corp {k % 11}. All rights reserved. '
        '<a href="/terms">Terms</a> <a href="/privacy">Privacy</a></p></footer>\n'
        "</body></html>\n"
    )
    return doc.encode("utf-8")


def wrap_html_with_images(
    main_text: str,
    url: str,
    line_texts: list[str],
    n_paragraphs: int = 1,
    scales: list[int] | None = None,
) -> bytes:
    """wrap_html + embedded text-line images (the OCR-branch fixture).

    Each line text renders to the 8-row glyph strip
    (``kernels.ocr.render_line``), keeps its content columns, is optionally
    integer-upscaled (scale s → an 8s-row image, announced via
    ``data-height``, which the detect stage must resample back through
    ``normalize_strip``), and ships as a lossless PNG base64-embedded as
    ``<img class="embedded-line" ...>`` inside the article — the web-page
    analog of the reference's image-embedded text regions that RoIRotate
    crops + resamples for recognition
    (``/root/reference/Module/RRotateLayer.py:67-116``).
    """
    import base64

    import numpy as np

    from ocr_spark.kernels.ocr import render_line
    from ocr_spark.kernels.png import encode_png

    doc = wrap_html(main_text, url, n_paragraphs=n_paragraphs).decode("utf-8")
    imgs = []
    scales = scales or [1] * len(line_texts)
    for t, s in zip(line_texts, scales):
        strip, width = render_line(t)
        content = strip[:, :width]
        h_attr = ""
        if s > 1:
            content = np.repeat(np.repeat(content, s, axis=0), s, axis=1)
            width = width * s
            h_attr = f'data-height="{8 * s}" '
        payload = base64.b64encode(
            encode_png((content * 255).astype(np.uint8))
        ).decode("ascii")
        imgs.append(
            f'<img class="embedded-line" data-width="{width}" '
            f'{h_attr}data-strip="{payload}" alt="">'
        )
    doc = doc.replace("</article>", "".join(imgs) + "</article>", 1)
    return doc.encode("utf-8")


def wrap_html_with_font_images(
    main_text: str,
    url: str,
    line_texts: list[str],
    seed_base: int,
    scale: int = 2,
    sigma: float = 0.1,
    container: str = "mixed",
) -> bytes:
    """wrap_html + embedded text-line images rendered in the 5×7 bitmap
    FONT atlas, bilinear-upscaled ``scale``× and perturbed with seeded
    Gaussian noise — the non-identity fixture: what the page carries is
    anti-aliased noisy glyph imagery, never a bit pattern the recognizer
    has seen. The detect stage resamples it back through
    ``normalize_strip`` (announced via ``data-height``) and recognition
    must go through normalized cross-correlation (``kernels.font``).

    ``container`` picks the image format: "png", "jpeg", "gif", or
    "mixed" (per-line (seed_base + idx) % 4 cycling PNG / baseline JPEG
    / GIF / progressive JPEG — web crawls carry all four, and a
    container-agnostic pipeline must prove it on lossy JPEG bytes where
    nothing round-trips bit-identically AND on palette-mapped LZW
    bytes)."""
    import base64

    import numpy as np

    from ocr_spark.kernels.font import GLYPH_H, distort_strip, render_line_font
    from ocr_spark.kernels.jpeg import encode_jpeg
    from ocr_spark.kernels.png import encode_png

    doc = wrap_html(main_text, url).decode("utf-8")
    imgs = []
    for idx, t in enumerate(line_texts):
        strip, width = render_line_font(t)
        noisy = distort_strip(
            strip[:, :width], float(scale), sigma, seed_base * 31 + idx
        )
        # REAL container bytes: the noisy strip ships as an actual PNG,
        # JPEG or GIF, so the extraction pipeline exercises a genuine
        # decode (signature sniff + full container parse), not a memcpy.
        # JPEG quality 95: lossy on top of the seeded noise — recognition
        # has to survive quantization artifacts, not just Gaussian noise.
        raster = (noisy * 255).astype(np.uint8)
        # mixed population cycles four wild container shapes per line:
        # PNG, baseline JPEG, GIF (lossless LZW through the gray
        # palette), progressive JPEG. Zero-dim rasters (empty line
        # slots) ship as PNG regardless: JPEG has no zero-width images
        # (SOF X=0 is the unsupported deferred-DNL case) and GIF frames
        # need w,h >= 1, while PNG legitimately encodes them.
        slot = (seed_base + idx) % 4 if container == "mixed" else None
        use_jpeg = raster.size > 0 and (
            container == "jpeg" or slot in (1, 3)
        )
        use_gif = raster.size > 0 and (container == "gif" or slot == 2)
        prog = use_jpeg and slot == 3
        if use_jpeg:
            blob = encode_jpeg(raster, quality=95, progressive=prog)
        elif use_gif:
            from ocr_spark.kernels.gif import encode_gif

            blob = encode_gif(raster)
        else:
            blob = encode_png(raster)
        payload = base64.b64encode(blob).decode("ascii")
        imgs.append(
            f'<img class="embedded-line" data-width="{width * scale}" '
            f'data-height="{GLYPH_H * scale}" data-strip="{payload}" alt="">'
        )
    doc = doc.replace("</article>", "".join(imgs) + "</article>", 1)
    return doc.encode("utf-8")


def warc_ts_for_doc(doc_id: int) -> int:
    """Deterministic epoch-seconds timestamp spread over ≥3 crawl days."""
    base = 1704067200  # 2024-01-01T00:00:00Z
    day = doc_id % 7
    sec = (doc_id * 40499) % 86400
    return base + day * 86400 + sec
