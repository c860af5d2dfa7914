"""Pure-stdlib PNG codec (zlib + struct): the REAL image codec behind the
multimodal seam.

The reference pipeline decodes real image files before detection
(``/root/reference/test_img.py:38-43``,
``DataPreprocess/DataGen.py:423-425`` via OpenCV); this container has no
image libraries, so the engine carries its own RFC-2083 implementation:

- ``encode_png``: 8-bit grayscale, RGB, or paletted (PLTE) images,
  non-interlaced, per-scanline filter 0, IDAT deflated at a caller-chosen
  zlib level (level 0 = stored blocks gives a closed-form byte size, which
  the media contract oracle exploits; level 6 for realistic fixtures).
- ``decode_png``: parses IHDR/PLTE/tRNS/IDAT/IEND, inflates, reverses ALL
  five scanline filters (None/Sub/Up/Average/Paeth), de-interlaces Adam7,
  and maps palettes — so it reads PNGs from any conforming encoder, not
  just its own. Supports color types 0 (gray, depths 1/2/4/8/16),
  2 (RGB, 8/16), 3 (palette, 1/2/4/8), 4 (gray+alpha, 8/16), 6 (RGBA,
  8/16); alpha (and tRNS transparency) is dropped — the analysis contract
  is an opaque raster — and 16-bit samples take their most significant
  byte. Palette and Adam7 support exist because a real crawl's image
  payloads are full of both (palette PNGs are among the most common
  image payloads on the web); the skip-never-crash caller discipline
  still turns any malformed container into a row skip.

Everything is vectorized NumPy except the inherently sequential
filter-reversal scan over scanlines (prior-row dependencies); within a
scanline the Sub/Paeth reversal walks pixels, so hot paths should prefer
filter-0 encodes (this module's own output) which decode at memcpy speed.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# decode-side resource cap: a crawl-scale corpus WILL contain hostile or
# corrupt headers (a 4-byte IHDR edit can declare a 2^31-wide image and
# OOM the executor before any payload-length check runs). Bound the
# declared raster, not the payload — 64 MP ≈ any real web image.
MAX_DECODE_PIXELS = 64_000_000

# Adam7 pass grid: (x_start, y_start, x_step, y_step), spec order.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(
    img: np.ndarray,
    level: int = 6,
    palette: np.ndarray | None = None,
    interlace: bool = False,
) -> bytes:
    """uint8 array (H, W) grayscale or (H, W, 3) RGB → PNG bytes; with
    ``palette`` (N≤256 × 3 uint8), ``img`` is an (H, W) index raster and
    the output is a color-type-3 paletted PNG. ``interlace=True`` emits
    an Adam7 stream (forward pass split, spec order; empty passes
    contribute no scanlines) — the twin of the decoder's de-interlacer
    and the fixture generator for the media contract's interlaced rows.

    Filter 0 on every scanline: the deflate stream is then a pure function
    of the pixel bytes, and at ``level=0`` the total file size is the
    closed form ``8 + 25 + 12 + zlib_stored_size(H*(W*C+1)) + 12``
    (plus ``12 + 3N`` for the PLTE chunk of a paletted image; for Adam7
    the raw size is the sum over non-empty passes of ``ph*(pw*C+1)``).
    """
    img = np.asarray(img)
    if img.dtype != np.uint8:
        raise ValueError(f"encode_png wants uint8, got {img.dtype}")
    plte = b""
    if palette is not None:
        palette = np.asarray(palette, dtype=np.uint8)
        if palette.ndim != 2 or palette.shape[1] != 3 or len(palette) > 256:
            raise ValueError(f"bad palette shape {palette.shape}")
        if img.ndim != 2:
            raise ValueError("paletted encode wants an (H, W) index raster")
        if img.size and int(img.max()) >= len(palette):
            raise ValueError("palette index out of range")
        color_type, channels = 3, 1
        plte = _chunk(b"PLTE", palette.tobytes())
    elif img.ndim == 2:
        color_type, channels = 0, 1
    elif img.ndim == 3 and img.shape[2] == 3:
        color_type, channels = 2, 3
    else:
        raise ValueError(f"encode_png wants (H,W) or (H,W,3), got {img.shape}")
    h, w = img.shape[0], img.shape[1]
    ihdr = struct.pack(
        ">IIBBBBB", w, h, 8, color_type, 0, 0, 1 if interlace else 0
    )
    if interlace:
        px = img.reshape(h, w, channels) if img.size else img.reshape(
            h, max(w, 0), channels
        )
        parts = []
        for x0, y0, xs, ys in _ADAM7:
            sub = px[y0::ys, x0::xs]
            ph, pw = sub.shape[0], sub.shape[1]
            if not ph or not pw:
                continue  # empty passes contribute no scanlines at all
            rows = np.empty((ph, pw * channels + 1), dtype=np.uint8)
            rows[:, 0] = 0
            rows[:, 1:] = sub.reshape(ph, pw * channels)
            parts.append(rows.tobytes())
        idat = zlib.compress(b"".join(parts), level)
    else:
        # prepend the filter-type byte (0) to each scanline
        raw = np.empty((h, w * channels + 1), dtype=np.uint8)
        raw[:, 0] = 0
        raw[:, 1:] = img.reshape(h, w * channels)
        idat = zlib.compress(raw.tobytes(), level)
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + plte
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def zlib_stored_size(n: int) -> int:
    """Byte size of ``zlib.compress(data, 0)`` for ``len(data) == n`` —
    fixed by the deflate stored-block framing: 2-byte zlib header, a
    5-byte block header per 65535-byte block, the raw bytes, 4-byte
    adler32. The closed form the media contract oracle mirrors in SQL."""
    blocks = max(1, -(-n // 65535))
    return 2 + 5 * blocks + n + 4


def png_size_level0(h: int, w: int, channels: int = 1) -> int:
    """Exact ``len(encode_png(img, level=0))`` for an h×w image."""
    return 8 + 25 + 12 + zlib_stored_size(h * (w * channels + 1)) + 12


def _unfilter(raw: np.ndarray, n_rows: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse per-scanline filtering: raw [n_rows, 1+stride] bytes →
    pixel bytes [n_rows, stride]. ``bpp`` is the filter delta in BYTES
    (max(1, bits_per_pixel // 8) per the spec — sub-byte depths filter
    on whole bytes).

    Fast path: a file whose every scanline uses filter 0 (this module's
    own encoder, and most screenshot-style tools at low effort) decodes
    as a single slice — no per-row scan. Only mixed/nonzero filters pay
    the sequential reversal."""
    if not raw[:, 0].any():
        return raw[:, 1:].copy()
    out = np.zeros((n_rows, stride), dtype=np.uint8)
    for y in range(n_rows):
        ftype = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int64)
        prior = (
            out[y - 1].astype(np.int64) if y > 0 else np.zeros(stride, np.int64)
        )
        if ftype == 0:  # None
            rec = line
        elif ftype == 1:  # Sub
            rec = line.copy()
            for x in range(bpp, stride):
                rec[x] = (rec[x] + rec[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            rec = (line + prior) & 0xFF
        elif ftype == 3:  # Average
            rec = line.copy()
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + ((left + prior[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            rec = line.copy()
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = prior[x]
                c = prior[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (rec[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = rec.astype(np.uint8)
    return out


def _rows_to_samples(
    rows: np.ndarray, pw: int, depth: int, channels: int
) -> np.ndarray:
    """Unfiltered scanline bytes [ph, stride] → per-pixel samples
    [ph, pw, channels] (uint8; 16-bit samples reduced to their MSB,
    sub-byte samples unpacked but NOT rescaled — gray rescale / palette
    mapping happens on the assembled raster)."""
    ph = rows.shape[0]
    if depth == 8:
        return rows.reshape(ph, pw, channels)
    if depth == 16:
        return rows.reshape(ph, pw, channels, 2)[:, :, :, 0]
    # depth 1/2/4: single-channel only (gray or palette indices)
    bits = np.unpackbits(rows, axis=1)[:, : pw * depth]
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    vals = (bits.reshape(ph, pw, depth) * weights).sum(axis=2)
    return vals.astype(np.uint8).reshape(ph, pw, 1)


_DEPTHS_OK = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
              4: (8, 16), 6: (8, 16)}


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → uint8 array (H, W) for grayscale, (H, W, 3) for color
    (including paletted images, which map through PLTE to RGB).

    Alpha channels and tRNS transparency are dropped; 16-bit samples keep
    their most significant byte; Adam7 interlacing is de-interlaced.
    Raises ``ValueError`` on anything malformed or outside the supported
    color-type/depth matrix."""
    if not data.startswith(PNG_MAGIC):
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    w = h = None
    depth = color_type = interlace = None
    plte: np.ndarray | None = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) < length:
            raise ValueError("truncated PNG chunk")
        pos += 12 + length
        if tag == b"IHDR":
            if len(body) != 13:
                # struct.unpack on a short body raises struct.error, which
                # is NOT in the callers' skip-never-crash catch set
                raise ValueError(f"bad IHDR length {len(body)}")
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            # zero-width/height rasters are legitimate degenerate images
            # (the engine's own zero-width line strips encode as w=0);
            # each DIMENSION is bounded too, not just the product — a
            # 0×2^31 header would otherwise still buy a giant scanline
            # allocation via the +1 filter byte per row
            if w > 1 << 20 or h > 1 << 20 or w * h > MAX_DECODE_PIXELS:
                raise ValueError(f"refusing {w}x{h} raster (hostile header?)")
            if color_type not in _DEPTHS_OK:
                raise ValueError(f"unsupported color type {color_type}")
            if depth not in _DEPTHS_OK[color_type]:
                raise ValueError(
                    f"unsupported bit depth {depth} for color type {color_type}"
                )
            if interlace not in (0, 1):
                raise ValueError(f"unknown interlace method {interlace}")
        elif tag == b"PLTE":
            if length % 3 or length > 768 or length == 0:
                raise ValueError(f"bad PLTE length {length}")
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        # tRNS and all ancillary chunks: skipped (transparency dropped)
    if w is None or not idat:
        raise ValueError("truncated PNG (no IHDR/IDAT)")
    if color_type == 3 and plte is None:
        raise ValueError("paletted PNG without PLTE")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    bits_pp = depth * channels
    fbpp = max(1, bits_pp // 8)

    def stride(pw: int) -> int:
        return (pw * bits_pp + 7) // 8

    if interlace == 0:
        passes = [(w, h, 0, 0, 1, 1)]
    else:
        passes = [
            (
                (w - x0 + xs - 1) // xs,
                (h - y0 + ys - 1) // ys,
                x0, y0, xs, ys,
            )
            for x0, y0, xs, ys in _ADAM7
        ]
    if interlace == 0:
        # non-interlaced zero-WIDTH rasters still carry one filter byte per
        # row (the engine's own zero-width line strips encode exactly that)
        expect = h * (1 + stride(w))
    else:
        # Adam7: empty passes (zero rows OR zero cols) contribute no
        # scanlines at all, per spec
        expect = sum(
            ph * (1 + stride(pw)) for pw, ph, *_ in passes if pw and ph
        )
    # bounded inflate: a decompression bomb (tiny deflate stream, huge
    # expansion) must not allocate past the declared raster size; a
    # corrupted deflate stream is a malformed container, not a crash
    decompressor = zlib.decompressobj()
    try:
        inflated = decompressor.decompress(bytes(idat), expect + 1)
    except zlib.error as exc:
        raise ValueError(f"bad IDAT deflate stream: {exc}") from exc
    raw = np.frombuffer(inflated, dtype=np.uint8)
    if raw.size != expect:
        raise ValueError(f"bad IDAT size {raw.size}, want {expect}")

    if interlace == 0 and depth == 8:
        # fast path for the dominant shape (non-interlaced 8-bit): no
        # pass assembly, no extra raster copy — the production strip
        # decode runs thousands of these per document
        rows = _unfilter(raw.reshape(h, 1 + w * channels), h, w * channels,
                         fbpp)
        full = rows.reshape(h, w, channels)
    else:
        full = np.zeros((h, w, channels), dtype=np.uint8)
        off = 0
        for pw, ph, x0, y0, xs, ys in passes:
            if not pw or not ph:
                continue
            st = stride(pw)
            chunk = raw[off : off + ph * (1 + st)].reshape(ph, 1 + st)
            off += ph * (1 + st)
            rows = _unfilter(chunk, ph, st, fbpp)
            samples = _rows_to_samples(rows, pw, depth, channels)
            full[y0 : y0 + (ph - 1) * ys + 1 : ys,
                 x0 : x0 + (pw - 1) * xs + 1 : xs] = samples

    if color_type == 3:
        idx = full[:, :, 0]
        if idx.size and int(idx.max()) >= len(plte):
            raise ValueError("palette index out of range")
        return plte[idx]  # (H, W, 3)
    if color_type == 0 and depth < 8:
        # rescale sub-byte gray levels to full 8-bit range
        return (full[:, :, 0].astype(np.uint16) * 255 // ((1 << depth) - 1)
                ).astype(np.uint8)
    if color_type == 0:
        return full[:, :, 0]
    if color_type == 4:
        return full[:, :, 0]  # gray + alpha → gray
    return full[:, :, :3]  # RGB / RGBA → RGB


def png_to_gray_float(payload: bytes) -> np.ndarray:
    """PNG bytes → float32 grayscale raster in [0, 1] (color reduced to
    luma by channel mean) — the PNG leg of ``kernels.image.decode_gray``,
    through which every image-bearing path decodes. Raises ``ValueError``
    on anything ``decode_png`` rejects."""
    img = decode_png(payload)
    if img.ndim == 3:
        img = img.mean(axis=2)
    return (img / 255.0).astype(np.float32)
