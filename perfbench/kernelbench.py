"""Single-core self-time of the engine's kernels, measured in the benchmark
process by timing calls into their public functions over a fixed sample
synthesized from the workload's own documents.

HTML kernels run over the workload's pages (plain pages, or the noisy image
pages on ``ocr_noisy``). Image kernels run over the strips of the noisy
image pages built from the same documents with the same fixture function
``ocr_noisy`` uses, so every workload reports them; only ``ocr_noisy``
executes them in its job.
"""

from __future__ import annotations

import base64
import re
import statistics
import time

import numpy as np

_STRIP_RE = re.compile(r'data-width="(\d+)" data-height="(\d+)" data-strip="([A-Za-z0-9+/=]*)"')
PASSES = 5


def sample_pages(docs, n: int, noisy: bool) -> list[bytes]:
    """Pages for the first ``n`` documents, built as the fixtures build them."""
    from ocr_spark.kernels.synth import url_for_doc, wrap_html, wrap_html_with_font_images

    out = []
    for row in docs.head(n).itertuples():
        url = url_for_doc(int(row.doc_id), str(row.source))
        if noisy:
            lines = [re.sub(r"[^0-9a-zA-Z]", "", row.text)[:20], f"line{int(row.doc_id)}"]
            out.append(wrap_html_with_font_images(row.text, url, lines, seed_base=int(row.doc_id)))
        else:
            out.append(wrap_html(row.text, url))
    return out


def _per_call_us(fn, items) -> float:
    """Median over PASSES of the mean per-item time of ``fn`` in µs."""
    runs = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        runs.append((time.perf_counter() - t0) / max(len(items), 1) * 1e6)
    return statistics.median(runs)


def _paired_us(fa, fb, items) -> tuple[float, float, float]:
    """Per-item µs of ``fa``, of ``fb`` and of ``fb`` minus ``fa``, timing
    both on each item in turn so that drift hits them alike; each is the
    median over PASSES."""
    a_runs, b_runs, d_runs = [], [], []
    for _ in range(PASSES):
        ta = tb = 0.0
        for it in items:
            t0 = time.perf_counter()
            fa(it)
            t1 = time.perf_counter()
            fb(it)
            tb += time.perf_counter() - t1
            ta += t1 - t0
        n = max(len(items), 1)
        a_runs.append(ta / n * 1e6)
        b_runs.append(tb / n * 1e6)
        d_runs.append((tb - ta) / n * 1e6)
    return statistics.median(a_runs), statistics.median(b_runs), statistics.median(d_runs)


def _gif_gray(payload: bytes) -> np.ndarray:
    from ocr_spark.kernels.gif import iter_gif_frames

    for _no, rgb in iter_gif_frames(payload, max_frames=1):
        return rgb.astype(np.float32).mean(axis=2) / 255.0
    raise ValueError("GIF without frames")


def kernel_costs(html_pages: list[bytes], image_pages: list[bytes]) -> dict[str, float]:
    from ocr_spark.kernels.charset import decode_html
    from ocr_spark.kernels.font import recognize_lines_font
    from ocr_spark.kernels.html import extract_main_text, tokenize_html
    from ocr_spark.kernels.jpeg import JPEG_MAGIC, jpeg_to_gray_float
    from ocr_spark.kernels.ocr import normalize_strip
    from ocr_spark.kernels.png import PNG_MAGIC, png_to_gray_float

    texts = [decode_html(p) for p in html_pages]
    tokenize_us, _, score_us = _paired_us(tokenize_html, extract_main_text, texts)
    out = {
        "kernels.charset.decode_html_us": _per_call_us(decode_html, html_pages),
        "kernels.html.tokenize_us": tokenize_us,
        "kernels.html.score_assemble_us": score_us,
    }

    by_fmt: dict[str, list[bytes]] = {"png": [], "jpeg": [], "gif": []}
    widths = []
    for page in image_pages:
        for m in _STRIP_RE.finditer(page.decode("utf-8")):
            payload = base64.b64decode(m.group(3))
            if payload.startswith(PNG_MAGIC):
                by_fmt["png"].append(payload)
            elif payload.startswith(JPEG_MAGIC):
                by_fmt["jpeg"].append(payload)
            else:
                by_fmt["gif"].append(payload)
            widths.append(int(m.group(1)))
    decoders = {"png": png_to_gray_float, "jpeg": jpeg_to_gray_float, "gif": _gif_gray}
    images = []
    for fmt, payloads in by_fmt.items():
        out[f"kernels.{fmt}.decode_us"] = _per_call_us(decoders[fmt], payloads)
        images.extend(decoders[fmt](p) for p in payloads)
    out["kernels.ocr.normalize_strip_us"] = _per_call_us(
        lambda img: normalize_strip(img, mode="bilinear"), images
    )
    strips = [normalize_strip(img, mode="bilinear") for img in images]
    batch = np.stack([s for s, _ in strips])
    batch_widths = np.array([w for _, w in strips], dtype=np.int64)
    runs = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        recognize_lines_font(batch, batch_widths)
        runs.append((time.perf_counter() - t0) / len(strips) * 1e6)
    out["kernels.font.recognize_us"] = statistics.median(runs)
    out["_strips_per_page"] = len(strips) / max(len(image_pages), 1)
    out["_image_decode_us_per_page"] = sum(
        out[f"kernels.{f}.decode_us"] * len(p) for f, p in by_fmt.items()
    ) / max(len(image_pages), 1)
    return out
