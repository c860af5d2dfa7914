"""Pure-stdlib AVI (RIFF / uncompressed DIB) codec: the REAL video codec
behind the multimodal seam, completing the PNG (image) / WAV (audio)
family.

Supports the canonical uncompressed AVI shape: RIFF 'AVI ' → LIST hdrl
(avih main header + strl stream headers) → LIST movi whose '..db'/'..dc'
chunks carry BI_RGB DIB frames (24-bit BGR or 8-bit + grayscale palette),
bottom-up rows padded to 4-byte boundaries — the format every classic
"write raw AVI" tool emits — plus Motion-JPEG ('MJPG' fourcc), the
dominant real-world AVI payload, where every frame chunk is a standalone
JPEG decoded by ``kernels.jpeg`` (tableless frames get the Annex-K
Huffman tables per the OpenDML convention). Other fourccs raise
``ValueError``; callers' malformed-payload discipline turns that into a
row skip.

The frame explosion consumer (``operators.multimodal.sample_frames``)
needs only "payload bytes → lazy stream of (H, W) uint8 rasters"
(``iter_avi_frames``), which is the exact seam a real ffmpeg-backed
deployment would fill.
"""

from __future__ import annotations

import struct

import numpy as np


def _pad4(n: int) -> int:
    return (n + 3) & ~3


def encode_avi(
    frames: np.ndarray, fps: int = 10, codec: str = "raw", quality: int = 90
) -> bytes:
    """uint8 frames [N, H, W] (grayscale) → AVI bytes.

    ``codec="raw"`` (default): uncompressed 24-bit DIB frames (each gray
    value replicated to BGR, bottom-up rows, 4-byte aligned).
    ``codec="mjpg"``: Motion-JPEG — each frame is a standalone baseline
    JPEG (``kernels.jpeg``) in a '00dc' chunk, biCompression 'MJPG'; the
    dominant real-world AVI payload (webcams, capture cards)."""
    frames = np.asarray(frames)
    if frames.dtype != np.uint8 or frames.ndim != 3:
        raise ValueError(f"encode_avi wants uint8 [N,H,W], got "
                         f"{frames.dtype} {frames.shape}")
    if codec not in ("raw", "mjpg"):
        raise ValueError(f"unknown AVI codec {codec!r}")
    mjpg = codec == "mjpg"
    n, h, w = frames.shape
    row_bytes = _pad4(w * 3)

    def chunk(tag: bytes, body: bytes) -> bytes:
        out = struct.pack("<4sI", tag, len(body)) + body
        return out + (b"\x00" if len(body) & 1 else b"")

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    if mjpg:
        from ocr_spark.kernels.jpeg import encode_jpeg

        payloads = [encode_jpeg(f, quality=quality) for f in frames]
        frame_bytes = max(len(p) for p in payloads)
        handler, comp, frame_tag = b"MJPG", b"MJPG", b"00dc"
    else:
        payloads = None
        frame_bytes = row_bytes * h
        handler, comp, frame_tag = b"DIB ", b"\x00\x00\x00\x00", b"00db"

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, frame_bytes * fps, 0, 0x10, n, 0, 1,
        frame_bytes, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", handler, 0, 0, 0, 0, 1, fps, 0, n, frame_bytes, 0, 0,
        0, 0, w, h,
    )
    strf = struct.pack("<Iii HH 4s Iii II", 40, w, h, 1, 24, comp,
                       frame_bytes, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b""
    if mjpg:
        for p in payloads:
            movi_body += chunk(frame_tag, p)
    else:
        for f in frames:
            dib = np.zeros((h, row_bytes), dtype=np.uint8)
            bgr = np.repeat(f[::-1, :, None], 3, axis=2)  # bottom-up, gray→BGR
            dib[:, : w * 3] = bgr.reshape(h, w * 3)
            movi_body += chunk(frame_tag, dib.tobytes())
    movi = lst(b"movi", movi_body)
    riff_body = b"AVI " + hdrl + movi
    return struct.pack("<4sI", b"RIFF", len(riff_body)) + riff_body


def _walk_chunks(data: bytes, pos: int, end: int):
    while pos + 8 <= end:
        tag, length = struct.unpack_from("<4sI", data, pos)
        body_start = pos + 8
        if body_start + length > end:
            raise ValueError("truncated AVI chunk")
        yield tag, body_start, length
        pos = body_start + length + (length & 1)


def iter_avi_frames(
    data: bytes, every_n: int = 1, max_frames: int | None = None
):
    """Lazy frame decode: yields (frame_no, (H, W) uint8 gray raster) for
    every ``every_n``-th frame of the first video stream, stopping after
    ``max_frames`` kept frames.

    The header scan is eager (it only records chunk offsets — cheap even
    for hour-long files); pixel decode happens per yielded frame, so peak
    memory is ONE raster regardless of video length, and skipped frames
    (sampling stride, max_frames cap) never pay entropy decode at all.
    Malformed frames raise ``ValueError`` at their yield point — callers
    wrap the ITERATION in their skip-never-crash discipline.

    Multi-stream files decode the FIRST 'vids' stream: the strf is latched
    only under a 'vids' strh and movi chunks are matched by that stream's
    two-digit index ('01db' when an audio strl is declared first)."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    w = h = bits = None
    topdown = False
    compression = None
    palette = None
    frames: list[tuple[bytes, int, int]] = []
    # stream bookkeeping: strh chunks appear in stream order (stream 0,
    # 1, ...); the movi frame tags are '<NN>db'/'<NN>dc' with NN = that
    # index, so a file declaring its audio strl first carries video on
    # stream 01 — latch the strf and collect frames for the FIRST 'vids'
    # stream, wherever it sits
    n_streams = 0
    video_stream = None
    last_strh_type = None

    def scan(pos: int, end: int, depth: int = 0):
        nonlocal w, h, bits, compression, palette, topdown
        nonlocal n_streams, video_stream, last_strh_type
        if depth > 16:
            # hostile nesting: real AVIs are 3 LIST levels deep; a crafted
            # chain of nested LIST headers must not hit the recursion limit
            raise ValueError("AVI LIST nesting too deep")
        for tag, body_start, length in _walk_chunks(data, pos, end):
            if tag == b"LIST":
                scan(body_start + 4, body_start + length, depth + 1)
            elif tag == b"strh":
                if length < 4:
                    raise ValueError("short stream header")
                last_strh_type = data[body_start : body_start + 4]
                if last_strh_type == b"vids" and video_stream is None:
                    video_stream = n_streams
                n_streams += 1
            elif tag == b"strf" and last_strh_type == b"vids" and w is None:
                if length < 40:
                    raise ValueError("short BITMAPINFOHEADER")
                (_sz, bw, bh, _planes, bbits, comp) = struct.unpack_from(
                    "<IiiHHI", data, body_start
                )
                # negative biHeight = top-down rows (the other standard
                # DIB orientation) — rows are already in display order
                if bw < 0 or bw > 1 << 20 or abs(bh) > 1 << 20 or (
                    bw * abs(bh) > 64_000_000
                ):
                    raise ValueError(
                        f"refusing {bw}x{bh} frames (hostile header?)"
                    )
                w, h, bits, compression = bw, abs(bh), bbits, comp
                topdown = bh < 0
                if bits == 8 and length >= 40 + 256 * 4:
                    pal = np.frombuffer(
                        data, np.uint8, 256 * 4, body_start + 40
                    ).reshape(256, 4)
                    palette = pal[:, :3].mean(axis=1).astype(np.uint8)
            elif (
                length
                and tag[:2].isdigit()
                and tag[2:] in (b"db", b"dc")
            ):
                frames.append((tag, body_start, length))

    scan(12, len(data))
    if w is None or video_stream is None:
        raise ValueError("missing video strh/strf header")
    want = b"%02d" % video_stream
    fourcc = struct.pack("<I", compression)
    mjpg = fourcc.upper() == b"MJPG"
    if mjpg:
        # Motion-JPEG: every frame chunk is a standalone JPEG. Frames may
        # omit Huffman tables (the OpenDML convention implies Annex K),
        # which decode_jpeg assumes itself; the per-frame SOF dims are
        # authoritative and must agree with the strf header
        # (container-consistency check).
        from ocr_spark.kernels.jpeg import decode_jpeg
    else:
        if compression != 0:
            raise ValueError(
                f"compressed AVI (fourcc {compression}) unsupported"
            )
        if bits not in (8, 24):
            raise ValueError(f"unsupported bit depth {bits}")
        ch = 3 if bits == 24 else 1
        row_bytes = _pad4(w * ch)

    stream_frames = [f for f in frames if f[0][:2] == want]
    kept = 0
    for frame_no, (_tag, body_start, length) in enumerate(stream_frames):
        if frame_no % every_n:
            continue  # sampling stride: skipped frames never decode
        if max_frames is not None and kept >= max_frames:
            return
        kept += 1
        if mjpg:
            img = decode_jpeg(data[body_start : body_start + length])
            if img.ndim == 3:
                img = (
                    img.astype(np.float32).mean(axis=2).round().astype(np.uint8)
                )
            if img.shape != (h, w):
                raise ValueError(
                    f"MJPG frame is {img.shape[1]}x{img.shape[0]}, "
                    f"strf says {w}x{h}"
                )
            yield frame_no, img
            continue
        if length < row_bytes * h:
            raise ValueError("short DIB frame")
        raw = np.frombuffer(data, np.uint8, row_bytes * h, body_start)
        rows = raw.reshape(h, row_bytes)[:, : w * ch]
        if bits == 24:
            img = rows.reshape(h, w, 3).astype(np.float32).mean(axis=2)
            img = img.round().astype(np.uint8)
        else:
            img = rows if palette is None else palette[rows]
        yield frame_no, (img.copy() if topdown else img[::-1].copy())
