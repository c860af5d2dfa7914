"""Pure-stdlib JPEG (JFIF) codec: a baseline encoder and a sequential +
progressive decoder, completing the PNG / WAV / AVI pure-stdlib codec
family.

The reference reads JPEGs as its primary input (``cv2.imread`` of
``img.jpg`` at ``/root/reference/test_img.py:38-43``; the TF ingest path
calls ``decode_jpeg`` variants at
``/root/reference/DataPreprocess/DataGenerator.py:599-602``); web crawls
are overwhelmingly JPEG. This container has no image libraries, so the
engine carries its own ITU T.81 implementation:

- ``encode_jpeg``: baseline sequential JFIF — 8-bit grayscale (one
  component) or RGB (YCbCr 4:4:4, no subsampling), Annex-K quantization
  tables scaled by the libjpeg quality formula, Annex-K Huffman tables,
  2-D DCT via the orthonormal matrix form (exactly the T.81 normalization:
  a uniform block's DC coefficient is ``8 * (v - 128)``).
- ``decode_jpeg``: baseline sequential (SOF0), extended sequential
  (SOF1) AND progressive (SOF2) streams from ANY conforming encoder —
  8/16-bit DQT, multiple DHT segments, restart intervals (DRI/RSTn),
  component sampling factors 1–2 with replication upsampling (so
  4:2:0 / 4:2:2 files from real encoders decode), progressive scan
  accumulation (DC/AC first + refinement scans, spectral bands,
  successive approximation, EOB runs, the T.81 G.1.2.3 correction-bit
  protocol), grayscale, YCbCr, Adobe APP14 direct-RGB (transform 0),
  and 4-component CMYK/YCCK (Adobe inverted convention; bare
  no-APP14 CMYK taken non-inverted). One function, ``_decode_scan``,
  decodes every scan: a sequential scan is the progressive walk over
  the single band 0..63 at Al=0. A stream with no DHT before its first
  scan decodes with the Annex-K tables (MJPEG-in-AVI frames omit them
  by convention). Arithmetic coding, 12-bit precision, lossless and
  hierarchical modes raise ``ValueError`` — the callers'
  malformed-payload discipline turns that into a row skip, never a task
  crash (same contract as ``kernels.png``).

Hostile-input discipline mirrors ``kernels.png``: the declared raster is
bounded BEFORE any allocation (``MAX_DECODE_PIXELS``), marker lengths are
validated against the buffer, Huffman tables are structurally checked
(≤256 symbols, no over-long code chains), and truncation anywhere raises
``ValueError``.

Everything batch-shaped is vectorized NumPy (DCT/IDCT/quantization run
over all blocks at once: einsum for the forward DCT, a batched matmul for
the IDCT); only the inherently sequential entropy coding runs in Python,
one Huffman-LUT probe per symbol.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

JPEG_MAGIC = b"\xff\xd8"

# shared with kernels.png: bound the DECLARED raster before allocating
MAX_DECODE_PIXELS = 64_000_000

# ---------------------------------------------------------------------------
# Constant tables (ITU T.81 Annex K — public spec values)
# ---------------------------------------------------------------------------

_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)

_QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# standard Huffman tables: (bits[1..16] counts, symbol values)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))

_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# (class, id) → (bits, vals): the tables a scan with no DHT before it uses
_ANNEX_K_HUFFMAN = {
    (0, 0): (_DC_LUMA_BITS, _DC_LUMA_VALS),
    (1, 0): (_AC_LUMA_BITS, _AC_LUMA_VALS),
    (0, 1): (_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    (1, 1): (_AC_CHROMA_BITS, _AC_CHROMA_VALS),
}


def _zigzag_order() -> np.ndarray:
    """The T.81 zigzag scan as natural flat indices (generated, not
    transcribed — the diagonal-walk definition is less typo-prone than a
    64-entry literal)."""
    out = []
    for s in range(15):
        rng = range(s + 1)
        for r in (rng if s % 2 else reversed(rng)):
            c = s - r
            if r < 8 and c < 8:
                out.append(r * 8 + c)
    return np.array(out, dtype=np.int64)


_ZZ = _zigzag_order()
_UNZZ = np.argsort(_ZZ)  # natural index → zigzag position

# orthonormal 8-point DCT-II matrix: C @ f @ C.T is exactly the T.81
# forward DCT normalization (uniform block v → DC = 8·(v-128))
_DCT = np.zeros((8, 8))
for _u in range(8):
    _s = np.sqrt(1.0 / 8.0) if _u == 0 else np.sqrt(2.0 / 8.0)
    _DCT[_u] = _s * np.cos((2 * np.arange(8) + 1) * _u * np.pi / 16.0)


def _scale_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 50 = Annex K verbatim, 100 = all-ones."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) canonical Huffman assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


@lru_cache(maxsize=8)
def _build_decode_lut(bits: tuple[int, ...], vals: tuple[int, ...]) -> list[int]:
    """16-bit-peek Huffman LUT: index = the next 16 bits of the stream,
    entry = ``(code_length << 8) | symbol`` (0 for bit patterns that are
    no valid code). Cached — the Annex-K tables shared by every standard
    JPEG build their 64Ki table once per process, not once per image.
    maxsize=8 keeps the four Annex-K tables (+ a working set) resident
    while bounding the per-executor footprint to ~16 MB: real corpora of
    optimizer-encoded JPEGs carry unique per-image tables, so a large
    cache would pin ~2 MB per slot at near-zero hit rate."""
    if sum(bits) != len(vals) or sum(bits) > 256:
        raise ValueError("malformed Huffman table")
    lut = np.zeros(65536, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            lut[lo : lo + (1 << (16 - length))] = (length << 8) | vals[k]
            code += 1
            k += 1
        if code > (1 << length):
            raise ValueError("over-subscribed Huffman table")
        code <<= 1
    return lut.tolist()


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


class _BitWriter:
    """MSB-first bit packer with 0xFF byte stuffing (T.81 §B.1.1.5)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


def _category(v: int) -> tuple[int, int]:
    """(size category, extra bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    extra = v if v > 0 else v + (1 << cat) - 1
    return cat, extra


def _encode_blocks(
    writer: _BitWriter,
    zz: np.ndarray,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    pred: int,
) -> int:
    """Entropy-encode quantized zigzag blocks [n, 64]; returns DC pred."""
    for blk in zz:
        diff = int(blk[0]) - pred
        pred = int(blk[0])
        cat, extra = _category(diff)
        code, ln = dc_codes[cat]
        writer.write(code, ln)
        if cat:
            writer.write(extra, cat)
        run = 0
        nz = np.nonzero(blk[1:])[0]
        last = int(nz[-1]) + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(blk[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                writer.write(code, ln)
                run -= 16
            cat, extra = _category(v)
            code, ln = ac_codes[(run << 4) | cat]
            writer.write(code, ln)
            writer.write(extra, cat)
            run = 0
        if last < 63:
            code, ln = ac_codes[0x00]  # EOB
            writer.write(code, ln)
    return pred


# Progressive scans need EOBn symbols (r<<4 with r>0) that the Annex-K
# sequential AC tables do not define; real encoders ship custom optimized
# tables. This one is deliberately simple: every (run, size) symbol with
# size ≤ 10 plus ZRL and all EOBn, each as a length-8 canonical code
# (176 codes ≤ 255 slots — valid, never the all-ones code).
_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0]
_PROG_AC_VALS = [(r << 4) | s for r in range(16) for s in range(11)]


def _enc_dc_first(writer, zzs_list, dc_codes_list, al):
    """Progressive DC first scan (Ah=0): interleaved MCU order, one block
    per component per MCU (gray or 4:4:4), diffs in the >>Al domain."""
    preds = [0] * len(zzs_list)
    for i in range(len(zzs_list[0])):
        for ci, zz in enumerate(zzs_list):
            v = int(zz[i][0]) >> al  # arithmetic shift, matches coef<<Al
            diff = v - preds[ci]
            preds[ci] = v
            cat, extra = _category(diff)
            code, ln = dc_codes_list[ci][cat]
            writer.write(code, ln)
            if cat:
                writer.write(extra, cat)


def _enc_dc_refine(writer, zzs_list, al):
    """Progressive DC refinement (Ah=Al+1 → Al): one raw bit per block."""
    for i in range(len(zzs_list[0])):
        for zz in zzs_list:
            writer.write((int(zz[i][0]) >> al) & 1, 1)


def _enc_ac_first(writer, zz, ss, se, al, ac_codes):
    """Progressive AC first scan over one component's blocks: run/size
    coding within the band with EOB-run accumulation (T.81 G.1.2.2)."""
    eobrun = 0

    def emit_eobrun():
        nonlocal eobrun
        while eobrun:
            r = min(eobrun.bit_length() - 1, 14)
            run = min(eobrun, (1 << (r + 1)) - 1)
            code, ln = ac_codes[r << 4]
            writer.write(code, ln)
            if r:
                writer.write(run - (1 << r), r)
            eobrun -= run

    for blk in zz:
        coded = {}
        for k in range(ss, se + 1):
            v = int(blk[k])
            t = abs(v) >> al  # magnitude shift (toward zero), not >>
            if t:
                coded[k] = t if v > 0 else -t
        if not coded:
            eobrun += 1
            if eobrun == 0x7FFF:
                emit_eobrun()
            continue
        emit_eobrun()
        run = 0
        last = max(coded)
        for k in range(ss, last + 1):
            if k not in coded:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]
                writer.write(code, ln)
                run -= 16
            cat, extra = _category(coded[k])
            code, ln = ac_codes[(run << 4) | cat]
            writer.write(code, ln)
            writer.write(extra, cat)
            run = 0
        if last < se:
            eobrun += 1
            if eobrun == 0x7FFF:
                emit_eobrun()
    emit_eobrun()


def _enc_ac_refine(writer, zz, ss, se, al, ac_codes):
    """Progressive AC refinement (Ah=Al+1 → Al) over one component's
    blocks — the correction-bit protocol of T.81 G.1.2.3 (the exact
    buffering discipline of libjpeg's encode_mcu_AC_refine). Correction
    bits for already-significant coefficients live in TWO buffers with
    different flush points: ``be`` (bits owed to blocks counted in the
    pending EOB run — flushed right after the EOBn symbol, read by the
    decoder's EOB-region sweep over those blocks) and ``br`` (bits for
    coefficients of the CURRENT block since its last symbol — flushed
    after the next ZRL/significant symbol, read by the decoder's run
    advance). Conflating them puts current-block bits before the symbol
    they must follow and desyncs the decoder."""
    eobrun = 0
    be: list[int] = []  # correction bits owed to the pending EOB run
    br: list[int] = []  # current block's bits since its last symbol

    def flush_br():
        nonlocal br
        for b in br:
            writer.write(b, 1)
        br = []

    def emit_eobrun():
        nonlocal eobrun, be
        while eobrun:
            r = min(eobrun.bit_length() - 1, 14)
            run = min(eobrun, (1 << (r + 1)) - 1)
            code, ln = ac_codes[r << 4]
            writer.write(code, ln)
            if r:
                writer.write(run - (1 << r), r)
            eobrun -= run
            for b in be:
                writer.write(b, 1)
            be = []

    for blk in zz:
        t = [abs(int(blk[k])) >> al for k in range(64)]
        eob_pos = 0  # last newly-significant position in the band
        for k in range(ss, se + 1):
            if t[k] == 1:
                eob_pos = k
        r = 0
        for k in range(ss, se + 1):
            tv = t[k]
            if tv == 0:
                r += 1
                continue
            while r > 15 and k <= eob_pos:
                emit_eobrun()
                code, ln = ac_codes[0xF0]
                writer.write(code, ln)
                r -= 16
                flush_br()
            if tv > 1:
                br.append(tv & 1)
                continue
            emit_eobrun()
            code, ln = ac_codes[(r << 4) | 1]
            writer.write(code, ln)
            writer.write(1 if int(blk[k]) > 0 else 0, 1)
            flush_br()
            r = 0
        if r > 0 or br:
            eobrun += 1
            be.extend(br)  # this block's tail bits ride with the EOB run
            br = []
            if eobrun == 0x7FFF:
                emit_eobrun()
    emit_eobrun()


def _plane_to_zz(plane: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """8-padded float plane → quantized zigzag blocks [n_blocks, 64] in
    row-major block order. Vectorized DCT + quantization."""
    h, w = plane.shape
    blocks = (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )
    coeffs = np.einsum("ux,nxy,vy->nuv", _DCT, blocks, _DCT)
    q = np.round(coeffs.reshape(-1, 64) / qtab).astype(np.int64)
    return q[:, _ZZ]


def _pad8(plane: np.ndarray) -> np.ndarray:
    h, w = plane.shape
    return np.pad(plane, ((0, (-h) % 8), (0, (-w) % 8)), mode="edge")


def encode_jpeg(
    img: np.ndarray, quality: int = 90, progressive: bool = False
) -> bytes:
    """uint8 (H, W) grayscale or (H, W, 3) RGB → baseline JFIF bytes
    (``progressive=True`` → SOF2 progressive JFIF).

    Grayscale emits one component; RGB converts to YCbCr and encodes
    4:4:4 (every component full resolution — no subsampling, maximum
    fidelity for the OCR-strip use where chroma edges carry glyphs).

    The progressive script exercises every scan kind a real web encoder
    emits: DC first at Al=1, AC first scans (spectrally split for the
    luma/gray component) at Al=1, then DC and AC refinement passes down
    to Al=0 — the quantized coefficients are identical to the baseline
    encoding at the same quality, so both containers decode to
    byte-identical pixels.
    """
    img = np.asarray(img)
    if img.dtype != np.uint8 or img.ndim not in (2, 3):
        raise ValueError(f"encode_jpeg wants uint8 (H,W)[,3], got "
                         f"{img.dtype} {img.shape}")
    if img.ndim == 3 and img.shape[2] != 3:
        raise ValueError(f"encode_jpeg wants 3 channels, got {img.shape[2]}")
    h, w = img.shape[:2]
    if h < 1 or w < 1:
        raise ValueError("encode_jpeg wants a non-empty image")
    if h > 65535 or w > 65535:
        raise ValueError("JPEG dimensions cap at 65535")

    gray = img.ndim == 2
    ql = _scale_quant(_QUANT_LUMA, quality)
    qc = _scale_quant(_QUANT_CHROMA, quality)
    if gray:
        planes = [img.astype(np.float64) - 128.0]
        qtabs = [ql]
        tab_ids = [0]
    else:
        r = img[:, :, 0].astype(np.float64)
        g = img[:, :, 1].astype(np.float64)
        b = img[:, :, 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y - 128.0, cb - 128.0, cr - 128.0]
        qtabs = [ql, qc, qc]
        tab_ids = [0, 1, 1]

    out = bytearray(JPEG_MAGIC)
    # APP0 / JFIF 1.01, no thumbnail
    out += b"\xff\xe0" + struct.pack(
        ">H5sBBBHHBB", 16, b"JFIF\x00", 1, 1, 0, 1, 1, 0, 0
    )
    # DQT segments (8-bit precision)
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0x00) + bytes(
        int(v) for v in ql[_ZZ]
    )
    if not gray:
        out += b"\xff\xdb" + struct.pack(">HB", 67, 0x01) + bytes(
            int(v) for v in qc[_ZZ]
        )
    # SOF0 (baseline) / SOF2 (progressive)
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += struct.pack("BBB", ci + 1, 0x11, tab_ids[ci])
    out += (b"\xff\xc2" if progressive else b"\xff\xc0")
    out += struct.pack(">H", 2 + len(sof)) + sof

    # DHT segments
    def dht(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
        body = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    def sos(comp_tabs: list[tuple[int, int, int]],
            ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_tabs)])
        for cid, td, ta in comp_tabs:
            body += bytes([cid, (td << 4) | ta])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body

    zzs = [_plane_to_zz(_pad8(p), q) for p, q in zip(planes, qtabs)]

    if progressive:
        out += dht(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
        out += dht(1, 0, _PROG_AC_BITS, _PROG_AC_VALS)
        if not gray:
            out += dht(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        dc_codes = [_build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)]
        if not gray:
            dc_c = _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
            dc_codes += [dc_c, dc_c]
        prog_ac = _build_codes(_PROG_AC_BITS, _PROG_AC_VALS)
        dc_comps = [(ci + 1, tab_ids[ci], 0) for ci in range(ncomp)]
        # spectral split for component 0; full band for chroma
        bands = [[(1, 5), (6, 63)]] + [[(1, 63)]] * (ncomp - 1)
        # DC first at Al=1, then the AC first scans at Al=1
        out += sos(dc_comps, 0, 0, 0, 1)
        writer = _BitWriter()
        _enc_dc_first(writer, zzs, dc_codes, 1)
        out += writer.flush()
        for ci in range(ncomp):
            for b0, b1 in bands[ci]:
                out += sos([(ci + 1, 0, 0)], b0, b1, 0, 1)
                writer = _BitWriter()
                _enc_ac_first(writer, zzs[ci], b0, b1, 1, prog_ac)
                out += writer.flush()
        # refinement passes down to Al=0
        out += sos(dc_comps, 0, 0, 1, 0)
        writer = _BitWriter()
        _enc_dc_refine(writer, zzs, 0)
        out += writer.flush()
        for ci in range(ncomp):
            for b0, b1 in bands[ci]:
                out += sos([(ci + 1, 0, 0)], b0, b1, 1, 0)
                writer = _BitWriter()
                _enc_ac_refine(writer, zzs[ci], b0, b1, 0, prog_ac)
                out += writer.flush()
        out += b"\xff\xd9"
        return bytes(out)

    out += dht(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += dht(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)
    if not gray:
        out += dht(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += dht(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)

    out += sos([(ci + 1, tab_ids[ci], tab_ids[ci]) for ci in range(ncomp)],
               0, 63, 0, 0)

    # entropy-coded data: 4:4:4 interleave = one block per component/MCU
    dc_l = _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_l = _build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)
    dc_c = _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_c = _build_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)
    writer = _BitWriter()
    if gray:
        _encode_blocks(writer, zzs[0], dc_l, ac_l, 0)
    else:
        preds = [0, 0, 0]
        tables = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
        for i in range(len(zzs[0])):
            for ci in range(3):
                dc_t, ac_t = tables[ci]
                preds[ci] = _encode_blocks(
                    writer, zzs[ci][i : i + 1], dc_t, ac_t, preds[ci]
                )
    out += writer.flush()
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _split_entropy(
    data: bytes, pos: int
) -> tuple[list[tuple[bytes, int | None]], int]:
    """Entropy-coded data starting at ``pos`` → ``(segments, end)``:
    ``(destuffed_bytes, rst_n)`` segments split at RSTn markers, plus the
    offset of the terminating real marker's 0xFF (``len(data)`` if the
    buffer ends first — progressive decode resumes marker parsing at
    ``end``). ``rst_n`` is the 0–7 sequence number of the marker that
    TERMINATED the segment (``None`` for the final segment). Byte
    stuffing (FF 00 → FF) is removed here ONCE, C-speed via
    ``bytes.find`` over the rare 0xFF positions, so the entropy decoders
    below never have to scan for markers."""
    segs: list[tuple[bytes, int | None]] = []
    parts: list[bytes] = []
    i = pos
    n = len(data)
    end = n
    while True:
        j = data.find(b"\xff", i)
        if j < 0:
            parts.append(data[i:])
            break
        if j + 1 >= n:
            raise ValueError("truncated after 0xFF")
        nxt = data[j + 1]
        if nxt == 0x00:
            parts.append(data[i : j + 1])  # keep the FF, drop the stuffed 00
            i = j + 2
        elif 0xD0 <= nxt <= 0xD7:
            parts.append(data[i:j])
            segs.append((b"".join(parts), nxt & 7))
            parts = []
            i = j + 2
        else:
            parts.append(data[i:j])  # real marker ends the entropy stream
            end = j
            break
    segs.append((b"".join(parts), None))
    return segs, end


def _windows(seg: bytes) -> tuple[list[int], int]:
    """40-bit read windows over ONE destuffed entropy segment, plus its
    length in bits.

    ``w[i]`` holds bytes ``i..i+4`` big-endian (a Python list of plain
    ints — list indexing beats NumPy scalar boxing in the per-symbol
    loop), so ONE index serves both a 16-bit Huffman-LUT probe and the
    coefficient's extra bits: the worst case (7-bit byte offset + 16-bit
    code + 15-bit magnitude = 38 bits) still fits the window. A Huffman
    decode is a single probe of a 64Ki lookup table (entries pack
    ``(code_length << 8) | symbol``, 0 = invalid code) instead of a
    bit-serial walk. Entropy decode is the only inherently sequential part
    of JPEG — everything downstream (dequant/IDCT/upsample) is vectorized
    NumPy — so every scan kind decodes straight from these windows with a
    local bit position ``p`` and bit count ``nb``: no per-symbol call."""
    b = np.frombuffer(seg + b"\x00" * 5, np.uint8).astype(np.uint64)
    w = (
        (b[:-4] << 32) | (b[1:-3] << 24) | (b[2:-2] << 16)
        | (b[3:-1] << 8) | b[4:]
    ).tolist()
    return w, 8 * len(seg)


def _next_segment(segs, seg_idx, p, nb):
    """Cross the RSTn marker that ends segment ``seg_idx``: check its
    sequence number (RST0..7 cycle with the segment index) and that the
    segment's data was not overrun, then return the next segment's
    ``_windows``."""
    rst_n = segs[seg_idx][1]
    if rst_n is None:
        raise ValueError("missing restart marker")
    if rst_n != (seg_idx & 7):
        raise ValueError("restart marker out of sequence")
    if p > nb:
        raise ValueError("truncated entropy-coded data")
    # _split_entropy guarantees a segment after every RSTn
    return _windows(segs[seg_idx + 1][0])


def _alloc_blocks(frame):
    """Per-component zigzag coefficient store on the MCU-padded grid: 64
    int64 slots per block in one flat ``np.zeros`` buffer (calloc'd, so
    pages stay uncommitted until a block is written — a tiny file that
    declares a huge raster and then fails entropy decode costs almost no
    memory). Entropy decode reads and writes plain ints through a
    ``memoryview`` of it; the finalizer views it as an ``[n_blocks, 64]``
    int64 array without a copy."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    comp_coefs: list[memoryview] = []
    comp_bw: list[int] = []
    for _cid, hs, vs, _tq in comps:
        bw, bh = mcus_x * hs, mcus_y * vs
        z = np.zeros(64 * bh * bw, dtype=np.int64)
        comp_coefs.append(memoryview(z).cast("B").cast("q"))
        comp_bw.append(bw)
    return comp_coefs, comp_bw, mcus_x, mcus_y


def _scan_units(frame, scan_comps, comp_bw, mcus_x, mcus_y):
    """Restart units of one scan, each a list of
    ``(scan index, component index, coefficient offset)``: one MCU
    (interleaved) or one block (non-interleaved, the component's own
    ceil(dim/8) grid — NOT the MCU-padded grid, T.81 A.2.2)."""
    h, w, comps = frame
    if len(scan_comps) > 1:
        for my in range(mcus_y):
            for mx in range(mcus_x):
                unit = []
                for si, (ci, _td, _ta) in enumerate(scan_comps):
                    _cid, hs, vs, _tq = comps[ci]
                    bw = comp_bw[ci]
                    for by in range(vs):
                        row = (my * vs + by) * bw + mx * hs
                        for bx in range(hs):
                            unit.append((si, ci, 64 * (row + bx)))
                yield unit
        return
    ci = scan_comps[0][0]
    _cid, hs, vs, _tq = comps[ci]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    cw = -(-(w * hs) // hmax)  # component px dims, T.81 A.1.1
    ch = -(-(h * vs) // vmax)
    bw = comp_bw[ci]
    for by in range(-(-ch // 8)):
        for bx in range(-(-cw // 8)):
            yield [(0, ci, 64 * (by * bw + bx))]


def _decode_scan(
    data, seg_end, body, frame, huff, restart_interval,
    comp_coefs, comp_bw, mcus_x, mcus_y, progressive,
):
    """ONE scan of any frame kind. A progressive (SOF2) scan is DC first /
    DC refinement (optionally interleaved) or AC first / AC refinement
    (single-component, spectral band Ss..Se, successive-approximation
    shift Al). A sequential (SOF0/SOF1) scan is the same walk over the one
    band 0..63 at Al=0: its Ss/Se/Ah/Al bytes are ignored, as libjpeg
    does, and each block decodes its DC term and then its AC band.
    Coefficients accumulate across scans into ``comp_coefs`` at FULL
    precision; the shared dequant/IDCT finalizer runs once after the last
    scan. EOB-run coding (T.81 G.1.2.2) and the correction-bit protocol
    (G.1.2.3) follow the spec exactly. Returns the buffer offset of the
    scan-terminating marker so the caller resumes marker parsing there."""
    comps = frame[2]
    ns = body[0]
    cid_to_ci = {c[0]: i for i, c in enumerate(comps)}
    scan_comps: list[tuple[int, int, int]] = []  # (ci, dc_tid, ac_tid)
    for si in range(ns):
        cid = body[1 + 2 * si]
        tt = body[2 + 2 * si]
        if cid not in cid_to_ci:
            raise ValueError("scan references unknown component")
        scan_comps.append((cid_to_ci[cid], tt >> 4, tt & 15))
    if progressive:
        ss = body[1 + 2 * ns]
        se = body[2 + 2 * ns]
        a = body[3 + 2 * ns]
        ah, al = a >> 4, a & 15
        if not 0 <= ss <= se <= 63 or al > 13 or ah > 13:
            raise ValueError("invalid progressive scan parameters")
        if ss == 0 and se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        if ss > 0 and ns != 1:
            raise ValueError("progressive AC scan must be non-interleaved")
        if ns not in (1, len(comps)):
            raise ValueError("unsupported progressive scan interleaving")
    else:
        if ns != len(comps):
            raise ValueError("non-interleaved multi-scan sequential JPEG "
                             "unsupported")
        ss, se, ah, al = 0, 63, 0, 0
    refine = ah != 0
    p1 = 1 << al
    k0 = max(ss, 1)  # first AC index of the band

    # resolve each scan component's Huffman LUTs once (they cannot change
    # mid-scan); undefined-table errors surface before any unit decodes.
    # DC refinement reads raw bits only.
    luts: list[tuple[list[int] | None, list[int] | None]] = []
    for _ci, td, ta in scan_comps:
        dc_lut, ac_lut = huff.get((0, td)), huff.get((1, ta))
        if (ss == 0 and not refine and dc_lut is None) or (
            se and ac_lut is None
        ):
            raise ValueError("scan references undefined DHT")
        luts.append((dc_lut, ac_lut))

    segs, end = _split_entropy(data, seg_end)
    seg_idx = 0
    w, nb = _windows(segs[0][0])
    p = 0
    preds = [0] * len(comps)
    eobrun = 0
    rst_count = 0
    for unit in _scan_units(frame, scan_comps, comp_bw, mcus_x, mcus_y):
        if restart_interval and rst_count == restart_interval:
            w, nb = _next_segment(segs, seg_idx, p, nb)
            seg_idx += 1
            p = 0
            preds = [0] * len(comps)
            eobrun = 0
            rst_count = 0
        rst_count += 1
        for si, ci, base in unit:
            coefs = comp_coefs[ci]
            dc_lut, ac_lut = luts[si]
            if ss == 0:
                if p >= nb:
                    raise ValueError("truncated entropy-coded data")
                win = w[p >> 3]
                o = p & 7
                if refine:
                    if (win >> (39 - o)) & 1:
                        coefs[base] |= p1
                    p += 1
                else:
                    v = dc_lut[(win >> (24 - o)) & 0xFFFF]
                    if v == 0:
                        raise ValueError("invalid Huffman code")
                    t = v & 0xFF
                    ln = v >> 8
                    p += ln
                    if t > 11:
                        raise ValueError("invalid DC category")
                    if t:
                        if p >= nb:
                            raise ValueError("truncated entropy-coded data")
                        extra = (win >> (40 - o - ln - t)) & ((1 << t) - 1)
                        p += t
                        preds[ci] += (
                            extra if extra >= (1 << (t - 1))
                            else extra - (1 << t) + 1
                        )
                    coefs[base] = preds[ci] << al
            if not se:
                continue
            if refine:
                p, eobrun = _ac_refine_block(
                    w, p, nb, coefs, base + k0, base + se, p1, ac_lut,
                    eobrun,
                )
            else:
                p, eobrun = _ac_first_block(
                    w, p, nb, coefs, base + k0, base + se, al, ac_lut,
                    eobrun,
                )
    if p > nb:
        raise ValueError("truncated entropy-coded data")
    return end


def _ac_first_block(w, p, nb, coefs, k, end, al, ac_lut, eobrun):
    """AC first scan (Ah=0) for one block: band ``coefs[k : end + 1]``,
    bit position ``p``. Returns ``(p, eobrun)``."""
    if eobrun:
        return p, eobrun - 1
    while k <= end:
        if p >= nb:
            raise ValueError("truncated entropy-coded data")
        win = w[p >> 3]
        o = p & 7
        v = ac_lut[(win >> (24 - o)) & 0xFFFF]
        if v == 0:
            raise ValueError("invalid Huffman code")
        r = (v >> 4) & 15
        ln = v >> 8
        s = v & 15
        p += ln
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            # EOBn: run of (1<<r)+receive(r) blocks ending here, this
            # block included
            if not r:
                return p, 0
            if p >= nb:
                raise ValueError("truncated entropy-coded data")
            return p + r, (1 << r) - 1 + (
                (win >> (40 - o - ln - r)) & ((1 << r) - 1)
            )
        k += r
        if k > end:
            raise ValueError("AC run past spectral band")
        if p >= nb:
            raise ValueError("truncated entropy-coded data")
        extra = (win >> (40 - o - ln - s)) & ((1 << s) - 1)
        p += s
        coefs[k] = (
            extra if extra >= (1 << (s - 1)) else extra - (1 << s) + 1
        ) << al
        k += 1
    return p, 0


def _ac_refine_block(w, p, nb, coefs, k, end, p1, ac_lut, eobrun):
    """AC refinement scan (Ah>0) for one block — T.81 G.1.2.3: newly
    significant coefficients arrive as run/1 symbols + sign; coefficients
    already nonzero receive one correction bit each as the run advances
    (and through the EOB region). Band ``coefs[k : end + 1]``, bit
    position ``p``. Returns ``(p, eobrun)``."""
    m1 = -p1
    if eobrun == 0:
        while k <= end:
            if p >= nb:
                raise ValueError("truncated entropy-coded data")
            win = w[p >> 3]
            o = p & 7
            v = ac_lut[(win >> (24 - o)) & 0xFFFF]
            if v == 0:
                raise ValueError("invalid Huffman code")
            p += v >> 8
            r = (v >> 4) & 15
            s = v & 15
            newval = 0
            if s:
                if s != 1:
                    raise ValueError("invalid AC refinement magnitude")
                if p >= nb:
                    raise ValueError("truncated entropy-coded data")
                newval = p1 if (w[p >> 3] >> (39 - (p & 7))) & 1 else m1
                p += 1
            elif r != 15:  # EOBn: this block and (1<<r)-1+receive(r) more
                eobrun = 1 << r
                if r:
                    if p >= nb:
                        raise ValueError("truncated entropy-coded data")
                    win = w[p >> 3]
                    eobrun += (win >> (40 - (p & 7) - r)) & ((1 << r) - 1)
                    p += r
                break
            # advance past r zero-history coefficients (16 for ZRL),
            # emitting a correction bit at every nonzero-history one
            while k <= end:
                c = coefs[k]
                if c:
                    if p >= nb:
                        raise ValueError("truncated entropy-coded data")
                    bit = (w[p >> 3] >> (39 - (p & 7))) & 1
                    p += 1
                    if bit and (c & p1) == 0:
                        coefs[k] = c + (p1 if c >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= end:
                coefs[k] = newval
            k += 1
    if eobrun:
        # EOB region covers the rest of this block: correction bits only
        while k <= end:
            c = coefs[k]
            if c:
                if p >= nb:
                    raise ValueError("truncated entropy-coded data")
                bit = (w[p >> 3] >> (39 - (p & 7))) & 1
                p += 1
                if bit and (c & p1) == 0:
                    coefs[k] = c + (p1 if c >= 0 else m1)
            k += 1
        eobrun -= 1
    return p, eobrun


def _idct_blocks(coeffs: np.ndarray) -> np.ndarray:
    """Dequantized natural-order blocks ``[n, 8, 8]`` → level-shifted
    uint8 samples ``[n, 8, 8]``: the 2-D IDCT ``C.T @ X @ C`` as one
    batched matmul (the inverse of the encoder's orthonormal DCT)."""
    pix = _DCT.T @ coeffs.astype(np.float64) @ _DCT
    return np.clip(np.round(pix + 128.0), 0, 255).astype(np.uint8)


# hostile-input bound: real progressive encoders emit ~10 scans; cap far
# above that so a crafted file cannot force O(scans × blocks) work
MAX_PROGRESSIVE_SCANS = 64


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline (SOF0), extended-sequential (SOF1), or progressive (SOF2)
    JFIF bytes → uint8 (H, W) grayscale or (H, W, 3) RGB array."""
    if len(data) < 4 or data[:2] != JPEG_MAGIC:
        raise ValueError("not a JPEG (missing SOI)")
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], list[int]] = {}
    restart_interval = 0
    frame = None  # (h, w, comps) with comps = [(id, hs, vs, tq)]
    progressive = False
    comp_coefs = None
    comp_bw: list[int] = []
    mcus_x = mcus_y = 0
    scans_done = 0
    adobe_transform = None  # APP14 color-transform byte (Adobe exports)
    pos = 2
    while True:
        if pos + 2 > len(data):
            raise ValueError("truncated before SOS")
        if data[pos] != 0xFF:
            raise ValueError("marker sync lost")
        # T.81 §B.1.1.2: a marker may be preceded by any number of 0xFF
        # fill bytes — skip them so FF FF D9 parses as EOI, not as a
        # bogus 0xFF "marker" with a garbage length field.
        while pos + 2 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            if progressive and scans_done:
                break  # EOI: all progressive scans accumulated
            raise ValueError("EOI before SOS (no image data)")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > len(data):
            raise ValueError("truncated marker length")
        (length,) = struct.unpack_from(">H", data, pos)
        if length < 2 or pos + length > len(data):
            raise ValueError("truncated marker segment")
        body = data[pos + 2 : pos + length]
        seg_end = pos + length
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 15
                p += 1
                n = 64 * (2 if pq else 1)
                if p + n > len(body):
                    raise ValueError("truncated DQT")
                raw = (
                    np.frombuffer(body, ">u2", 64, p)
                    if pq
                    else np.frombuffer(body, np.uint8, 64, p)
                ).astype(np.int64)
                tab = np.zeros(64, dtype=np.int64)
                tab[_ZZ] = raw  # stored in zigzag order
                if (tab <= 0).any():
                    raise ValueError("zero quantizer step")
                qtabs[tq] = tab
                p += n
        elif marker == 0xC4:  # DHT
            p = 0
            while p + 17 <= len(body):
                cls, tid = body[p] >> 4, body[p] & 15
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                if p + 17 + n > len(body):
                    raise ValueError("truncated DHT")
                vals = tuple(body[p + 17 : p + 17 + n])
                huff[(cls, tid)] = _build_decode_lut(tuple(bits), vals)
                p += 17 + n
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("short DRI")
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xEE:  # APP14: Adobe color-transform declaration
            if len(body) >= 12 and body[:5] == b"Adobe":
                adobe_transform = body[11]
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0 / SOF1 / SOF2
            if frame is not None:
                raise ValueError("multiple SOF markers")
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError(f"unsupported sample precision {prec}")
            if ncomp not in (1, 3, 4):
                raise ValueError(f"unsupported component count {ncomp}")
            if h < 1 or w < 1 or h * w > MAX_DECODE_PIXELS:
                raise ValueError(f"refusing {w}x{h} raster (hostile header?)")
            comps = []
            for ci in range(ncomp):
                cid = body[6 + 3 * ci]
                hv = body[7 + 3 * ci]
                tq = body[8 + 3 * ci]
                hs, vs = hv >> 4, hv & 15
                if hs not in (1, 2) or vs not in (1, 2):
                    raise ValueError(f"unsupported sampling {hs}x{vs}")
                comps.append((cid, hs, vs, tq))
            frame = (h, w, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG mode (SOF{marker - 0xC0}: lossless/"
                "arithmetic/hierarchical/JPG-extension)"
            )
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            if not body or len(body) < 1 + 2 * body[0] + 3:
                raise ValueError("truncated SOS header")
            if not huff:
                # no DHT before the first scan: MJPEG-in-AVI frames omit
                # their tables, and OpenDML says to assume Annex K
                huff = {
                    key: _build_decode_lut(tuple(bits), tuple(vals))
                    for key, (bits, vals) in _ANNEX_K_HUFFMAN.items()
                }
            if comp_coefs is None:
                comp_coefs, comp_bw, mcus_x, mcus_y = _alloc_blocks(frame)
            scans_done += 1
            if scans_done > MAX_PROGRESSIVE_SCANS:
                raise ValueError("too many progressive scans")
            pos = _decode_scan(
                data, seg_end, body, frame, huff, restart_interval,
                comp_coefs, comp_bw, mcus_x, mcus_y, progressive,
            )
            if not progressive:
                break  # sequential: one scan is the whole image
            continue
        # APPn / COM / anything else: skip
        pos = seg_end

    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)

    # vectorized dequantize + IDCT + plane assembly per component
    planes = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        if tq not in qtabs:
            raise ValueError("component references undefined DQT")
        zz = np.frombuffer(comp_coefs[ci], np.int64).reshape(-1, 64)
        pix = _idct_blocks((zz[:, _UNZZ] * qtabs[tq]).reshape(-1, 8, 8))
        bw = comp_bw[ci]
        bh = len(zz) // bw
        plane = (
            pix.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        # replication upsample to full MCU-grid resolution, then crop
        if hs < hmax:
            plane = np.repeat(plane, hmax // hs, axis=1)
        if vs < vmax:
            plane = np.repeat(plane, vmax // vs, axis=0)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        return planes[0]

    def ycc_to_rgb(p0, p1, p2):
        y = p0.astype(np.float64)
        cb = p1.astype(np.float64) - 128.0
        cr = p2.astype(np.float64) - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255)

    if len(planes) == 3:
        # APP14 transform 0 declares the samples are stored RGB directly
        # (Photoshop "save as JPEG" of RGB data); component IDs R/G/B are
        # the no-APP14 spelling of the same (libjpeg's heuristic). All
        # other 3-component streams are YCbCr.
        cids = [c[0] for c in comps]
        if adobe_transform == 0 or (
            adobe_transform is None and cids == [0x52, 0x47, 0x42]
        ):
            return np.stack(planes, axis=2)
        return ycc_to_rgb(*planes).astype(np.uint8)

    # 4 components: Adobe CMYK (transform 0/absent-with-APP14) or YCCK
    # (transform 2). Adobe stores CMYK INVERTED (the famous convention);
    # a bare 4-component stream with no APP14 is taken as plain CMYK.
    if adobe_transform == 2:
        cmy = ycc_to_rgb(planes[0], planes[1], planes[2])  # inverted CMY
        c, m, ye = cmy[:, :, 0], cmy[:, :, 1], cmy[:, :, 2]
        k = planes[3].astype(np.float64)
    else:
        c, m, ye, k = (p.astype(np.float64) for p in planes)
        if adobe_transform is None:
            c, m, ye, k = 255.0 - c, 255.0 - m, 255.0 - ye, 255.0 - k
    # inverted-domain multiply: R = (1-C)(1-K)·255 with c' = 255-C etc.
    rgb = np.stack([c * k, m * k, ye * k], axis=2) / 255.0
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def jpeg_to_gray_float(data: bytes) -> np.ndarray:
    """JPEG bytes → float32 (H, W) luma in [0, 1] — the JPEG leg of
    ``kernels.image.decode_gray`` (channel mean for RGB, same rule as PNG)."""
    img = decode_jpeg(data)
    if img.ndim == 3:
        img = img.astype(np.float32).mean(axis=2)
    return img.astype(np.float32) / 255.0
