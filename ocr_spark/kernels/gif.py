"""Pure-stdlib GIF (87a/89a) codec: palette images and animations.

BEYOND the reference's envelope (its image scan is ``cv2.imread``,
``/root/reference/test_img.py:38-43``, which does not read GIF) but
squarely inside a real crawl's: GIF is among the most common image
payloads on the web, and ANIMATED GIF is the web's most common lightweight
video container — so this codec feeds BOTH the image feature path and the
frame-sampling/video-OCR path of ``operators.multimodal``.

- ``iter_gif_frames``: full LZW decode (variable code
  width to 12 bits, clear/EOI, the KwKwK case), global and local color
  tables, the 4-pass GIF interlace, frame composition on the logical
  screen with disposal methods 0/1 (leave), 2 (restore background) and
  3 (restore previous), transparency via the GCE transparent index.
  Frames yield as (H, W, 3) uint8 RGB composites, one at a time — peak
  memory is the canvas plus one frame regardless of animation length
  (frame N depends on the composite of N-1, so skipped frames still
  decode; they just don't yield).
- ``encode_gif``: GIF89a writer — global color table, optional per-frame
  delays, real LZW compression with dictionary reset at 4096 codes.
  The fixture generator for the decoder's tests and the media contract.

Bounds mirror ``kernels.png``: hostile headers (giant logical screens,
out-of-range frame rectangles), truncated sub-blocks, and corrupt LZW
streams all raise ``ValueError`` — the callers' skip-never-crash
discipline turns that into a row skip.
"""

from __future__ import annotations

import struct

import numpy as np

GIF_MAGICS = (b"GIF87a", b"GIF89a")
MAX_DECODE_PIXELS = 64_000_000
MAX_TOTAL_FRAME_PIXELS = 512_000_000  # across an animation


def _gray_palette() -> np.ndarray:
    return np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)


# --------------------------------------------------------------------------
# LZW
# --------------------------------------------------------------------------


def _lzw_encode(indices: np.ndarray, min_code: int) -> bytes:
    """Index stream → GIF LZW code bytes (LSB-first bit packing)."""
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    width = min_code + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    seq = b""
    for v in indices.tobytes():
        cand = seq + bytes([v])
        if cand in table:
            seq = cand
            continue
        emit(table[seq])
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code + 1
        seq = bytes([v])
    if seq:
        emit(table[seq])
        # the flush emit has no matching table add, so the DECODER's
        # table catches up to next_code here; if that crosses a power of
        # two the decoder reads the EOI at the wider code size
        if next_code == (1 << width) and width < 12:
            width += 1
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code: int, expected: int) -> np.ndarray:
    """GIF LZW code bytes → uint8 index array of ``expected`` pixels."""
    if not 2 <= min_code <= 8:
        raise ValueError(f"bad LZW min code size {min_code}")
    clear = 1 << min_code
    eoi = clear + 1
    width = min_code + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    prev: bytes | None = None
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        out.extend(entry)
        if len(out) > expected:
            raise ValueError("LZW output exceeds frame size")
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) != expected:
        raise ValueError(f"LZW yielded {len(out)} of {expected} pixels")
    return np.frombuffer(bytes(out), dtype=np.uint8)


# --------------------------------------------------------------------------
# Container
# --------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    out = np.empty_like(rows)
    src = 0
    for start, step in _INTERLACE_PASSES:
        n = len(range(start, h, step))
        out[start::step] = rows[src : src + n]
        src += n
    return out


def encode_gif(
    frames: np.ndarray,
    palette: np.ndarray | None = None,
    fps: int = 10,
    interlace: bool = False,
) -> bytes:
    """uint8 frames [N, H, W] of palette indices → GIF89a bytes.

    Default palette is the 256-entry identity gray (index i → (i,i,i)),
    so gray rasters encode directly and decode to pixel-identical RGB.
    """
    frames = np.asarray(frames)
    if frames.ndim == 2:
        frames = frames[None]
    if frames.dtype != np.uint8 or frames.ndim != 3:
        raise ValueError(
            f"encode_gif wants uint8 [N,H,W], got {frames.dtype} {frames.shape}"
        )
    palette = _gray_palette() if palette is None else np.asarray(
        palette, dtype=np.uint8
    )
    if palette.shape != (256, 3):
        raise ValueError("encode_gif wants a 256x3 palette")
    n, h, w = frames.shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 256 entries
    out += palette.tobytes()
    delay = max(1, round(100 / fps))
    for f in range(n):
        if n > 1:
            out += struct.pack("<BBBBHBB", 0x21, 0xF9, 4, 0, delay, 0, 0)
        flags = 0x40 if interlace else 0
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, flags)
        raster = frames[f]
        if interlace:
            order = np.concatenate(
                [np.arange(s, h, t) for s, t in _INTERLACE_PASSES]
            )
            raster = raster[order]
        out.append(8)  # LZW min code size
        lzw = _lzw_encode(raster.ravel(), 8)
        for at in range(0, len(lzw), 255):
            chunk = lzw[at : at + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def _read_subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    parts = []
    while True:
        if pos >= len(data):
            raise ValueError("truncated sub-blocks")
        size = data[pos]
        pos += 1
        if size == 0:
            return b"".join(parts), pos
        if pos + size > len(data):
            raise ValueError("truncated sub-block body")
        parts.append(data[pos : pos + size])
        pos += size


def iter_gif_frames(
    data: bytes, every_n: int = 1, max_frames: int | None = None
):
    """Lazy composite iterator: yields (frame_no, (H, W, 3) uint8 RGB).

    Every frame is DECODED (composition is sequential) but only every
    ``every_n``-th yields; peak memory is the canvas + one frame."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    if data[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF (bad signature)")
    if len(data) < 13:
        raise ValueError("truncated GIF header")
    w, h, flags, bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    if w * h > MAX_DECODE_PIXELS:
        raise ValueError(f"refusing {w}x{h} logical screen (hostile header?)")
    pos = 13
    gct = None
    if flags & 0x80:
        n_colors = 2 << (flags & 7)
        if pos + 3 * n_colors > len(data):
            raise ValueError("truncated global color table")
        gct = np.frombuffer(data, np.uint8, 3 * n_colors, pos).reshape(-1, 3)
        pos += 3 * n_colors
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    if gct is not None and bg < len(gct):
        canvas[:] = gct[bg]
    background = canvas.copy()
    transparent: int | None = None
    disposal = 0
    frame_no = 0
    kept = 0
    total_px = 0
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            return
        if block == 0x21:  # extension
            if pos >= len(data):
                raise ValueError("truncated extension")
            label = data[pos]
            pos += 1
            body, pos = _read_subblocks(data, pos)
            if label == 0xF9 and len(body) >= 4:
                disposal = (body[0] >> 2) & 7
                transparent = body[3] if body[0] & 1 else None
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        if pos + 9 > len(data):
            raise ValueError("truncated image descriptor")
        fx, fy, fw, fh, iflags = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        if fw == 0 or fh == 0 or fx + fw > w or fy + fh > h:
            raise ValueError("frame rectangle outside logical screen")
        total_px += fw * fh
        if total_px > MAX_TOTAL_FRAME_PIXELS:
            raise ValueError("refusing animation (hostile frame count?)")
        lct = gct
        if iflags & 0x80:
            n_colors = 2 << (iflags & 7)
            if pos + 3 * n_colors > len(data):
                raise ValueError("truncated local color table")
            lct = np.frombuffer(data, np.uint8, 3 * n_colors, pos).reshape(
                -1, 3
            )
            pos += 3 * n_colors
        if lct is None:
            raise ValueError("frame with no color table")
        if pos >= len(data):
            raise ValueError("truncated LZW header")
        min_code = data[pos]
        pos += 1
        lzw, pos = _read_subblocks(data, pos)
        idx = _lzw_decode(lzw, min_code, fw * fh).reshape(fh, fw)
        if iflags & 0x40:
            idx = _deinterlace(idx)
        if int(idx.max(initial=0)) >= len(lct):
            raise ValueError("palette index out of range")
        region = canvas[fy : fy + fh, fx : fx + fw]
        prev_region = region.copy() if disposal == 3 else None
        rgb = lct[idx]
        if transparent is not None:
            mask = idx != transparent
            region[mask] = rgb[mask]
        else:
            region[:] = rgb
        if frame_no % every_n == 0:
            if max_frames is not None and kept >= max_frames:
                return
            kept += 1
            yield frame_no, canvas.copy()
        # disposal AFTER the frame is shown
        if disposal == 2:
            canvas[fy : fy + fh, fx : fx + fw] = background[
                fy : fy + fh, fx : fx + fw
            ]
        elif disposal == 3 and prev_region is not None:
            canvas[fy : fy + fh, fx : fx + fw] = prev_region
        disposal = 0
        transparent = None
        frame_no += 1
