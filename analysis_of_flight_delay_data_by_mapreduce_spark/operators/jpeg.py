"""Sequential and progressive JPEG (JFIF) codec on stdlib + numpy — no PIL.

The last image codec of the multimodal tier (VERDICT r9 item 4): the PNG
(RFC 2083) and GIF (87a/89a LZW) codecs in ``multimodal.py`` cover the
lossless formats; this module adds the lossy DCT family so JPEG payloads
take the REAL decode path in ``decode_images`` / ``resize_images``
instead of the deterministic stub.

Scope — the ITU-T T.81 subset that covers the overwhelming majority of
JPEGs in the wild:

- 8-bit precision, Huffman entropy coding: baseline/extended sequential
  (SOF0/SOF1) AND progressive (SOF2, r12 — Annex G spectral selection +
  successive approximation, EOB runs, per-scan table redefinition, the
  libjpeg interchange semantics real-world progressive files are written
  against); arithmetic/hierarchical/lossless raise ``ValueError``, so a
  JPEG-signed payload outside the subset fails ``decode_images`` loudly
  instead of getting a stub digest,
- grayscale and 3-component YCbCr frames,
- any sampling grid with factors in {1..4} where each component's factor
  divides the frame maximum — which includes 4:4:4, 4:2:2 and 4:2:0,
- restart intervals (DRI + RSTn, DC-predictor reset),
- multi-table DQT/DHT segments, 8- and 16-bit quantizer precision,
- byte stuffing (0xFF 0x00) per T.81 §B.1.1.5.

``decode_jpeg`` walks the markers once from SOI to EOI: the first SOS sets
up the MCU grid and a coefficient store per component id, each scan is
decoded where it appears, and ``_reconstruct`` runs once after EOI.

The encoder exists so fixtures can be generated deterministically inside
the Python workers (the synthetic-asset convention of ``attach_synthetic_*``):
it emits SOI / JFIF-APP0 / DQT / SOF0 or SOF2 / DHT / SOS with the Annex K
quantization and Huffman tables, 4:4:4, 4:2:2 or 4:2:0 chroma, and
optional restart markers. Decode is spec-driven off the embedded tables,
so the pair is a genuine codec round trip, not a shared-constant shortcut.

Determinism (the oracle faces digest decoded pixel CONTENT): the DCT /
IDCT run as fixed-shape float64 numpy matrix products and every rounding
step is ``np.rint`` — bit-stable across executors. Flat 8×8 tiles whose
level-shifted value is even round-trip EXACTLY under the Annex K luma DC
quantizer (step 16: round(8Δ/16) = Δ/2 exactly, dequant 16·Δ/2 = 8Δ, IDCT
flat Δ) — the property the synthetic fixture is built on.
"""

from __future__ import annotations

import struct
from functools import lru_cache

# ---------------------------------------------------------------------------
# Tables (ITU-T T.81 Annex K) — embedded in DQT/DHT on encode, and re-read
# from the stream on decode (the decoder never assumes them).
# ---------------------------------------------------------------------------

#: zigzag position -> natural (row-major) index
ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)

#: Annex K Table K.1 (luminance), natural order
QT_LUMA = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)

#: Annex K Table K.2 (chrominance), natural order
QT_CHROMA = (
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
)

# Huffman specs as (BITS[1..16], HUFFVAL) — Annex K §K.3.3
_DC_LUMA_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_DC_LUMA_VALS = tuple(range(12))
_DC_CHROMA_BITS = (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
_DC_CHROMA_VALS = tuple(range(12))

_AC_LUMA_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)


def _r(a: int, b: int) -> list[int]:
    return list(range(a, b + 1))


_AC_LUMA_VALS = tuple(
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A,
    ]
    + _r(0x25, 0x2A) + _r(0x34, 0x3A) + _r(0x43, 0x4A) + _r(0x53, 0x5A)
    + _r(0x63, 0x6A) + _r(0x73, 0x7A) + _r(0x83, 0x8A) + _r(0x92, 0x9A)
    + _r(0xA2, 0xAA) + _r(0xB2, 0xBA) + _r(0xC2, 0xCA) + _r(0xD2, 0xDA)
    + [0xE1] + _r(0xE2, 0xEA) + [0xF1] + _r(0xF2, 0xFA)
)

_AC_CHROMA_BITS = (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
_AC_CHROMA_VALS = tuple(
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A,
    ]
    + _r(0x26, 0x2A) + _r(0x35, 0x3A) + _r(0x43, 0x4A) + _r(0x53, 0x5A)
    + _r(0x63, 0x6A) + _r(0x73, 0x7A) + _r(0x82, 0x8A) + _r(0x92, 0x9A)
    + _r(0xA2, 0xAA) + _r(0xB2, 0xBA) + _r(0xC2, 0xCA) + _r(0xD2, 0xDA)
    + _r(0xE2, 0xEA) + _r(0xF2, 0xFA)
)

# Progressive AC scans need EOBn symbols (r<<4, s=0 for r<15) that the
# Annex K tables don't carry — and those tables are Kraft-FULL (65535 of
# 65536 16-bit units used), so nothing can be appended. The progressive
# encoder ships its own flat canonical table instead: every symbol the
# Annex G AC coder can emit — (r<<4)|s for r 0..15, s 0..10, where s=0
# is EOBn (r<=14) / ZRL (r=15) — at code length 8. 176 codes of 8 bits
# is a valid incomplete table (Kraft 45056/65536) whose largest code
# 0xAF is not the reserved all-ones pattern, and every decode hits the
# 8-bit LUT fast path. Emitted as DHT id 2, shared by both chroma and
# luma AC scans.
_AC_PROG_BITS = (0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0)
_AC_PROG_VALS = tuple((r << 4) | s for r in range(16) for s in range(11))

# a malformed spec here would corrupt every stream — fail at import
assert sum(_AC_PROG_BITS) == len(_AC_PROG_VALS) == 176
assert sum(_AC_LUMA_BITS) == len(_AC_LUMA_VALS) == 162
assert sum(_AC_CHROMA_BITS) == len(_AC_CHROMA_VALS) == 162
assert sum(_DC_LUMA_BITS) == len(_DC_LUMA_VALS) == 12
assert sum(_DC_CHROMA_BITS) == len(_DC_CHROMA_VALS) == 12
assert sorted(ZIGZAG) == list(range(64))


def _dct_matrix():
    """8×8 DCT-II basis M with M[k,n] = c(k)/2 · cos((2n+1)kπ/16), so the
    forward transform is M·s·Mᵀ and the inverse Mᵀ·S·M (T.81 §A.3.3)."""
    import numpy as np

    n = np.arange(8, dtype=np.float64)
    k = n.reshape(8, 1)
    m = 0.5 * np.cos((2.0 * n + 1.0) * k * np.pi / 16.0)
    m[0, :] *= 1.0 / np.sqrt(2.0)
    return m


_DCT_M = None


def _m():
    global _DCT_M
    if _DCT_M is None:
        _DCT_M = _dct_matrix()
    return _DCT_M


# ---------------------------------------------------------------------------
# Canonical Huffman code assignment (T.81 §C.2) — shared by both directions.
# ---------------------------------------------------------------------------


def _canonical_codes(bits, vals):
    """-> {symbol: (code, length)} in canonical order."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return out


@lru_cache(maxsize=16)
def _canonical_codes_cached(bits: tuple, vals: tuple):
    """Encoder-side memo (r11): the four Annex K tables were rebuilt on
    every encode_jpeg call — a measurable constant for fleet fixtures
    that encode thousands of small frames per sweep."""
    return _canonical_codes(bits, vals)


def _decode_table(bits, vals):
    """Two-level decode structure (r11 — replaces the bit-serial
    ``(length, code) -> symbol`` dict walk): an 8-bit-prefix lookup
    table resolving every code of length ≤ 8 in ONE indexed load
    (``lut[prefix] = (symbol, length)``), plus a ``(length, code)``
    dict for the rare 9-16-bit codes. The Annex K tables put all
    high-frequency symbols at ≤ 8 bits, so the fast path covers almost
    every symbol in a typical scan — measured 3-5× on the Huffman walk,
    which was the codec tier's dominant per-asset constant."""
    lut = [None] * 256
    long_codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= 1 << length:
                raise ValueError("jpeg: overfull huffman table")
            if length <= 8:
                base = code << (8 - length)
                entry = (vals[k], length)
                for s in range(1 << (8 - length)):
                    lut[base | s] = entry
            else:
                long_codes[(length, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return lut, long_codes


@lru_cache(maxsize=64)
def _decode_table_cached(bits: bytes, vals: bytes):
    """Per-process memo of built decode LUTs: a corpus sweep decodes
    thousands of assets sharing the same (typically Annex K) tables —
    the 256-entry LUT fill is ~0.2 ms/image otherwise. Keyed on the
    exact DHT payload, so a divergent table still builds its own."""
    return _decode_table(list(bits), list(vals))


# ---------------------------------------------------------------------------
# Entropy-coded segment I/O with byte stuffing.
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        # whole-code accumulate (r11 — the per-bit loop was the
        # encoder's second-largest constant), emitting stuffed bytes
        # as they complete
        acc = (self._acc << length) | (code & ((1 << length) - 1))
        n = self._n + length
        out = self.out
        while n >= 8:
            n -= 8
            b = (acc >> n) & 0xFF
            out.append(b)
            if b == 0xFF:  # §B.1.1.5 byte stuffing
                out.append(0x00)
        self._acc = acc & ((1 << n) - 1)
        self._n = n

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits, §F.1.2.3


def _unstuff_scan(d: bytes, pos: int):
    """One pass over the entropy-coded data from ``pos``: strip §B.1.1.5
    byte stuffing (FF 00 → FF) and split on RSTn markers →
    ``(segments, markers, last_stream_pos)`` where ``segments`` is one
    unstuffed ``bytes`` per restart interval, ``markers`` the RST index
    sequence between them, and ``last_stream_pos`` the stream offset
    where the first non-RST marker (or EOF) stopped the scan. Built
    with ``bytes.find`` jumps so the cost is per-0xFF, not per-byte."""
    segments, markers = [], []
    cur = bytearray()
    p = pos
    n = len(d)
    while True:
        f = d.find(b"\xff", p)
        if f < 0:
            cur += d[p:]
            p = n
            break
        cur += d[p:f]
        if f + 1 >= n:  # trailing lone 0xFF: keep, scan ends at EOF
            cur += b"\xff"
            p = n
            break
        m = d[f + 1]
        if m == 0x00:
            cur += b"\xff"
            p = f + 2
        elif 0xD0 <= m <= 0xD7:
            segments.append(bytes(cur))
            markers.append(m - 0xD0)
            cur = bytearray()
            p = f + 2
        else:
            p = f
            break
    segments.append(bytes(cur))
    return segments, markers, p


def _extend(v: int, t: int) -> int:
    """T.81 §F.2.2.1 EXTEND: map the t received magnitude bits to a
    signed coefficient value."""
    if t == 0:
        return 0
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


def _category(v: int) -> int:
    return abs(v).bit_length()


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _rgb_to_ycbcr(px, w: int, h: int):
    """Full-range JFIF color transform, float64 → rounded float planes."""
    import numpy as np

    a = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3).astype(np.float64)
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    clip = lambda p: np.clip(np.rint(p), 0, 255)  # noqa: E731
    return clip(y), clip(cb), clip(cr)


def _pad_edge(plane, bh: int, bw: int):
    import numpy as np

    h, w = plane.shape
    return np.pad(plane, ((0, bh - h), (0, bw - w)), mode="edge")


def _plane_blocks(plane):
    """(H, W) → (n, 8, 8) in MCU-free raster block order plus grid dims."""
    h, w = plane.shape
    by, bx = h // 8, w // 8
    return (
        plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8),
        by,
        bx,
    )


def _quantize_blocks(blocks, qt_nat):
    """Level-shift, forward DCT, quantize → (n, 64) int64 in zigzag
    order. Batched matmuls (m·B·mᵀ), same contraction the decoder's
    IDCT uses — einsum's non-BLAS kernel was the encoder's largest
    constant (r11)."""
    import numpy as np

    m = _m()
    coefs = m @ (blocks - 128.0) @ m.T
    q = np.rint(coefs / np.asarray(qt_nat, dtype=np.float64).reshape(8, 8))
    zz = np.asarray(ZIGZAG, dtype=np.int64)
    return q.reshape(-1, 64)[:, zz].astype(np.int64)


def _encode_block(bw: _BitWriter, zzc, pred: int, dc_codes, ac_codes) -> int:
    zzc = zzc.tolist()  # one bulk conversion beats 64 ndarray getitems
    dc = zzc[0]
    diff = dc - pred
    t = _category(diff)
    code, ln = dc_codes[t]
    bw.write(code, ln)
    if t:
        bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
    run = 0
    # find last nonzero AC so trailing zeros collapse into one EOB
    last = 0
    for k in range(63, 0, -1):
        if zzc[k]:
            last = k
            break
    for k in range(1, last + 1):
        v = zzc[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_codes[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, ln = ac_codes[0x00]  # EOB
        bw.write(code, ln)
    return dc


# ---------------------------------------------------------------------------
# Progressive encoder (T.81 Annex G, Huffman) — the scan-script emitters.
# EOB-run / correction-bit buffering follows the interchange behavior
# codified in libjpeg's jcphuff.c, which is what the decoder (and every
# real-world progressive file) expects.
# ---------------------------------------------------------------------------


def _rst_of(writer: _BitWriter, rst: int) -> None:
    writer.flush()
    writer.out += bytes([0xFF, 0xD0 + (rst & 7)])


def _emit_dc_scan(comp_blocks, samp, huff, mcx, mcy, al, ah, ri) -> bytes:
    """Interleaved DC scan over every component: first pass (Ah=0)
    Huffman-codes the Al-shifted DC diffs; a refinement pass (Ah=Al+1)
    is one raw bit per block — no Huffman tables at all."""
    writer = _BitWriter()
    preds = [0] * len(samp)
    rst = 0
    n_mcus = mcx * mcy
    for i in range(n_mcus):
        my, mx = divmod(i, mcx)
        for ci, (h_f, v_f) in enumerate(samp):
            blocks, _by, bx = comp_blocks[ci]
            dc_codes = huff[ci][0]
            for vy in range(v_f):
                for vx in range(h_f):
                    bi = (my * v_f + vy) * bx + (mx * h_f + vx)
                    dc = int(blocks[bi][0])
                    if ah == 0:
                        # arithmetic shift: the spec's DC point transform
                        sh = dc >> al
                        diff = sh - preds[ci]
                        preds[ci] = sh
                        t = _category(diff)
                        code, ln = dc_codes[t]
                        writer.write(code, ln)
                        if t:
                            writer.write(
                                diff if diff > 0 else diff + (1 << t) - 1, t
                            )
                    else:
                        writer.write((dc >> al) & 1, 1)
        if ri and (i + 1) % ri == 0 and i + 1 < n_mcus:
            _rst_of(writer, rst)
            rst += 1
            preds = [0] * len(samp)
    writer.flush()
    return bytes(writer.out)


def _comp_block_indices(ci, comp_blocks, samp, width, height, max_h, max_v):
    """Non-interleaved scan order: the component's OWN ceil-grid raster
    (§A.2.2), mapped into the MCU-padded block array."""
    h_f, v_f = samp[ci]
    _blocks, _by, bx = comp_blocks[ci]
    cw = -(-width * h_f // max_h)
    ch = -(-height * v_f // max_v)
    bw_n, bh_n = -(-cw // 8), -(-ch // 8)
    return [r * bx + c for r in range(bh_n) for c in range(bw_n)]


def _emit_ac_first_scan(blocks, indices, ac_codes, ss, se, al, ri) -> bytes:
    """AC first pass (§G.1.2.2): run/size over the Al-shifted band with
    EOB runs accumulated across blocks (symbol r<<4, r extension bits)."""
    writer = _BitWriter()
    eob_run = 0
    rst = 0

    def flush_eobrun():
        nonlocal eob_run
        if eob_run > 0:
            nbits = eob_run.bit_length() - 1
            code, ln = ac_codes[nbits << 4]
            writer.write(code, ln)
            if nbits:
                writer.write(eob_run & ((1 << nbits) - 1), nbits)
            eob_run = 0

    for n, bi in enumerate(indices):
        zz = blocks[bi].tolist()
        r = 0
        for k in range(ss, se + 1):
            v = int(zz[k])
            mag = (-v if v < 0 else v) >> al
            if mag == 0:
                r += 1
                continue
            flush_eobrun()
            while r > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                writer.write(code, ln)
                r -= 16
            s = mag.bit_length()
            code, ln = ac_codes[(r << 4) | s]
            writer.write(code, ln)
            writer.write(mag if v > 0 else (~mag) & ((1 << s) - 1), s)
            r = 0
        if r > 0:
            eob_run += 1
            if eob_run == 0x7FFF:
                flush_eobrun()
        if ri and (n + 1) % ri == 0 and n + 1 < len(indices):
            flush_eobrun()
            _rst_of(writer, rst)
            rst += 1
    flush_eobrun()
    writer.flush()
    return bytes(writer.out)


def _emit_ac_refine_scan(blocks, indices, ac_codes, ss, se, al, ri) -> bytes:
    """AC refinement pass (§G.1.2.3): newly-nonzero coefficients carry a
    run/1 symbol + sign bit; every previously-nonzero coefficient passed
    (including those inside EOB runs) appends one buffered correction
    bit, emitted after the symbol that closes its run."""
    writer = _BitWriter()
    eob_run = 0
    be_bits: list[int] = []  # correction bits pending behind the EOB run
    rst = 0

    def flush_eobrun():
        nonlocal eob_run, be_bits
        if eob_run > 0:
            nbits = eob_run.bit_length() - 1
            code, ln = ac_codes[nbits << 4]
            writer.write(code, ln)
            if nbits:
                writer.write(eob_run & ((1 << nbits) - 1), nbits)
            eob_run = 0
        for b in be_bits:
            writer.write(b, 1)
        be_bits = []

    for n, bi in enumerate(indices):
        zz = blocks[bi].tolist()
        absvals = [0] * (se + 1)
        eob_k = ss - 1  # last NEWLY-nonzero position in this pass
        for k in range(ss, se + 1):
            v = int(zz[k])
            a = (-v if v < 0 else v) >> al
            absvals[k] = a
            if a == 1:
                eob_k = k
        r = 0
        br: list[int] = []  # correction bits for the current run
        for k in range(ss, se + 1):
            a = absvals[k]
            if a == 0:
                r += 1
                continue
            while r > 15 and k <= eob_k:
                flush_eobrun()
                code, ln = ac_codes[0xF0]  # ZRL
                writer.write(code, ln)
                r -= 16
                for b in br:
                    writer.write(b, 1)
                br = []
            if a > 1:
                br.append(a & 1)  # history-nonzero: one correction bit
                continue
            flush_eobrun()
            code, ln = ac_codes[(r << 4) | 1]
            writer.write(code, ln)
            writer.write(1 if int(zz[k]) > 0 else 0, 1)  # sign of new coef
            for b in br:
                writer.write(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            eob_run += 1
            be_bits.extend(br)
            if eob_run == 0x7FFF:
                flush_eobrun()
        if ri and (n + 1) % ri == 0 and n + 1 < len(indices):
            flush_eobrun()
            _rst_of(writer, rst)
            rst += 1
    flush_eobrun()
    writer.flush()
    return bytes(writer.out)


def _encode_progressive_scans(
    out: bytearray, comp_blocks, samp, huff, width, height,
    max_h, max_v, ri,
) -> None:
    """Emit the scan script: interleaved DC first (Al=1), per-component
    AC first passes at Al=1 (luma band split 1-5/6-63), DC refinement,
    per-component AC refinements to Al=0."""
    mcx = -(-width // (8 * max_h))
    mcy = -(-height // (8 * max_v))
    nc = len(samp)
    # the progressive AC table (id 2) — Annex K carries no EOBn symbols
    out += _seg(
        0xC4,
        bytes([0x12]) + bytes(_AC_PROG_BITS) + bytes(_AC_PROG_VALS),
    )
    ac_prog = _canonical_codes_cached(_AC_PROG_BITS, _AC_PROG_VALS)

    def sos(sel, ss, se, ah, al):
        body = bytes([len(sel)])
        for ci, tid in sel:
            body += struct.pack(">BB", ci + 1, tid)
        body += bytes([ss, se, (ah << 4) | al])
        return _seg(0xDA, body)

    dc_sel = [(ci, (0 if ci == 0 else 1) << 4) for ci in range(nc)]
    # 1. DC first, all components interleaved, Al=1
    out += sos(dc_sel, 0, 0, 0, 1)
    out += _emit_dc_scan(comp_blocks, samp, huff, mcx, mcy, 1, 0, ri)
    # 2. AC first passes at Al=1 (luma spectrally split)
    bands = [(0, 1, 5), (0, 6, 63)] + [(ci, 1, 63) for ci in range(1, nc)]
    for ci, ss, se in bands:
        idx = _comp_block_indices(
            ci, comp_blocks, samp, width, height, max_h, max_v
        )
        out += sos([(ci, 2)], ss, se, 0, 1)
        out += _emit_ac_first_scan(
            comp_blocks[ci][0], idx, ac_prog, ss, se, 1, ri
        )
    # 3. DC refinement (no Huffman tables; table id bits ignored)
    out += sos([(ci, 0) for ci in range(nc)], 0, 0, 1, 0)
    out += _emit_dc_scan(comp_blocks, samp, huff, mcx, mcy, 0, 1, ri)
    # 4. AC refinements to Al=0
    for ci in range(nc):
        idx = _comp_block_indices(
            ci, comp_blocks, samp, width, height, max_h, max_v
        )
        out += sos([(ci, 2)], 1, 63, 1, 0)
        out += _emit_ac_refine_scan(
            comp_blocks[ci][0], idx, ac_prog, 1, 63, 0, ri
        )


def encode_jpeg(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """Encode row-major RGB (``channels=3``) or grayscale (``channels=1``)
    pixels as a baseline sequential JFIF JPEG with the Annex K tables.

    ``subsampling``: ``"4:4:4"`` (every component full resolution),
    ``"4:2:2"`` (chroma box-averaged horizontally; MCU 16×8) or
    ``"4:2:0"`` (chroma box-averaged 2×2; MCU 16×16). Grayscale ignores
    it. ``restart_interval`` > 0 emits DRI and an RSTn every that many
    scan units (MCUs, or blocks in non-interleaved progressive scans).

    ``progressive=True`` emits a SOF2 frame with a scan script that
    exercises both Annex G dimensions — an interleaved DC first scan at
    Al=1 + DC refinement, per-component AC first scans at Al=1 with the
    luma band split 1-5 / 6-63 (spectral selection), and per-component
    AC refinement scans to Al=0 — so the decoded coefficients equal the
    baseline encoding's exactly (the round-trip property the tests pin).
    """
    import numpy as np

    if width <= 0 or height <= 0:
        raise ValueError("jpeg: bad dimensions")
    if channels not in (1, 3):
        raise ValueError("jpeg: channels must be 1 or 3")
    if len(pixels) != width * height * channels:
        raise ValueError("jpeg: pixel buffer does not match geometry")
    if subsampling not in ("4:4:4", "4:2:2", "4:2:0"):
        raise ValueError("jpeg: unsupported subsampling request")

    gray = channels == 1
    y_samp = (1, 1) if (gray or subsampling == "4:4:4") else (
        (2, 1) if subsampling == "4:2:2" else (2, 2)
    )
    max_h, max_v = y_samp
    bw_pad = -(-width // (8 * max_h)) * (8 * max_h)
    bh_pad = -(-height // (8 * max_v)) * (8 * max_v)

    if gray:
        y = (
            np.frombuffer(pixels, dtype=np.uint8)
            .reshape(height, width)
            .astype(np.float64)
        )
        planes = [(_pad_edge(y, bh_pad, bw_pad), 0)]  # (plane, qt id)
        samp = [(1, 1)]
    else:
        y, cb, cr = _rgb_to_ycbcr(pixels, width, height)
        y = _pad_edge(y, bh_pad, bw_pad)
        cb = _pad_edge(cb, bh_pad, bw_pad)
        cr = _pad_edge(cr, bh_pad, bw_pad)
        if subsampling == "4:2:0":
            # box average 2×2 (planes are already rounded floats; rint
            # keeps the flat-tile exactness property)
            ds = lambda p: np.rint(  # noqa: E731
                (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2])
                / 4.0
            )
            cb, cr = ds(cb), ds(cr)
        elif subsampling == "4:2:2":
            # box average horizontally only
            ds = lambda p: np.rint((p[:, 0::2] + p[:, 1::2]) / 2.0)  # noqa: E731
            cb, cr = ds(cb), ds(cr)
        samp = [y_samp, (1, 1), (1, 1)]
        planes = [(y, 0), (cb, 1), (cr, 1)]

    # per component: quantized zigzag blocks + block grid dims
    comp_blocks = []
    for (plane, qid), _ in zip(planes, samp):
        blocks, by, bx = _plane_blocks(plane)
        qt = QT_LUMA if qid == 0 else QT_CHROMA
        comp_blocks.append((_quantize_blocks(blocks, qt), by, bx))

    dc_l = _canonical_codes_cached(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_l = _canonical_codes_cached(_AC_LUMA_BITS, _AC_LUMA_VALS)
    dc_c = _canonical_codes_cached(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_c = _canonical_codes_cached(_AC_CHROMA_BITS, _AC_CHROMA_VALS)
    huff = [(dc_l, ac_l)] + [(dc_c, ac_c)] * (len(planes) - 1)

    # headers
    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(
        0xE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)
    )
    zz_l = bytes(QT_LUMA[ZIGZAG[i]] for i in range(64))
    out += _seg(0xDB, b"\x00" + zz_l)
    if not gray:
        zz_c = bytes(QT_CHROMA[ZIGZAG[i]] for i in range(64))
        out += _seg(0xDB, b"\x01" + zz_c)
    sof = struct.pack(">BHHB", 8, height, width, len(planes))
    for ci, (h_f, v_f) in enumerate(samp):
        qid = 0 if ci == 0 else 1
        sof += struct.pack(">BBB", ci + 1, (h_f << 4) | v_f, qid)
    out += _seg(0xC2 if progressive else 0xC0, sof)
    dht = bytes([0x00]) + bytes(_DC_LUMA_BITS) + bytes(_DC_LUMA_VALS)
    dht += bytes([0x10]) + bytes(_AC_LUMA_BITS) + bytes(_AC_LUMA_VALS)
    if not gray:
        dht += bytes([0x01]) + bytes(_DC_CHROMA_BITS) + bytes(_DC_CHROMA_VALS)
        dht += bytes([0x11]) + bytes(_AC_CHROMA_BITS) + bytes(_AC_CHROMA_VALS)
    out += _seg(0xC4, dht)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))

    if progressive:
        _encode_progressive_scans(
            out, comp_blocks, samp, huff, width, height,
            max_h, max_v, restart_interval,
        )
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    sos = bytes([len(planes)])
    for ci in range(len(planes)):
        tid = 0 if ci == 0 else 0x11
        sos += struct.pack(">BB", ci + 1, tid)
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    # interleaved MCU scan
    mcx = bw_pad // (8 * max_h)
    mcy = bh_pad // (8 * max_v)
    writer = _BitWriter()
    preds = [0] * len(planes)
    rst = 0
    n_mcus = mcx * mcy
    for i in range(n_mcus):
        my, mx = divmod(i, mcx)
        for ci, (h_f, v_f) in enumerate(samp):
            blocks, _by, bx = comp_blocks[ci]
            for vy in range(v_f):
                for vx in range(h_f):
                    bi = (my * v_f + vy) * bx + (mx * h_f + vx)
                    preds[ci] = _encode_block(
                        writer, blocks[bi], preds[ci], *huff[ci]
                    )
        if restart_interval and (i + 1) % restart_interval == 0 and i + 1 < n_mcus:
            writer.flush()
            writer.out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            preds = [0] * len(planes)
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _read_u16(d: bytes, p: int) -> int:
    if p + 2 > len(d):
        raise ValueError("jpeg: truncated segment")
    return (d[p] << 8) | d[p + 1]


def decode_jpeg(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a JFIF payload → ``(width, height, channels, pixels)``
    where pixels are row-major RGB (3-component frames) or grayscale
    (1-component), in one marker walk: the one scan of a sequential
    (SOF0/SOF1) frame and each scan of a progressive (SOF2) one are
    decoded where they appear. Raises ``ValueError`` on anything outside
    the subset — truncation, arithmetic frames, 12-bit precision, bad
    table ids, scan overruns, malformed scan scripts, unknown markers —
    and never another exception type, so callers can catch it narrowly."""
    d = payload
    if len(d) < 4 or d[0] != 0xFF or d[1] != 0xD8:
        raise ValueError("jpeg: missing SOI")
    p = 2
    qts: dict[int, list[int]] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None  # (h, w, [(cid, h_f, v_f, qid)])
    ri = 0
    progressive = False
    coef_store: dict = {}  # cid -> one 64-coefficient row per block
    grids: dict = {}  # cid -> (by, bx) on the MCU grid
    dims = None  # (h, w, max_h, max_v, mcx, mcy), set at the first SOS
    n_scans = 0
    saw_eoi = False

    while p + 1 < len(d):
        if d[p] != 0xFF:
            raise ValueError("jpeg: expected marker")
        marker = d[p + 1]
        p += 2
        if marker == 0xD9:  # EOI
            saw_eoi = True
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        seg_len = _read_u16(d, p)
        if seg_len < 2 or p + seg_len > len(d):
            raise ValueError("jpeg: truncated segment body")
        body = d[p + 2 : p + seg_len]
        p += seg_len

        if 0xE0 <= marker <= 0xEF or marker == 0xFE:
            continue  # APPn / COM
        if marker == 0xDB and n_scans and not progressive:
            continue  # a sequential frame dequantizes with its scan's tables
        if marker == 0xDB:  # DQT — possibly several tables
            q = 0
            while q < len(body):
                pq, tq = body[q] >> 4, body[q] & 15
                q += 1
                n = 64 * (2 if pq else 1)
                if pq > 1 or tq > 3 or q + n > len(body):
                    raise ValueError("jpeg: bad DQT")
                raw = (
                    list(struct.unpack(f">{64}H", body[q : q + n]))
                    if pq
                    else list(body[q : q + 64])
                )
                nat = [0] * 64
                for i in range(64):
                    nat[ZIGZAG[i]] = raw[i]
                qts[tq] = nat
                q += n
        elif marker == 0xC4:  # DHT — possibly several tables
            q = 0
            while q < len(body):
                if q + 17 > len(body):
                    raise ValueError("jpeg: bad DHT")
                tc, th = body[q] >> 4, body[q] & 15
                bits = list(body[q + 1 : q + 17])
                n = sum(bits)
                q += 17
                if tc > 1 or th > 3 or q + n > len(body):
                    raise ValueError("jpeg: bad DHT")
                vals = list(body[q : q + n])
                q += n
                (dc_tabs if tc == 0 else ac_tabs)[th] = _decode_table_cached(
                    bytes(bits), bytes(vals)
                )
        elif marker in (0xC0, 0xC1, 0xC2):
            # baseline / extended-sequential / progressive Huffman
            # (identical SOF layout; 0xC2 switches the scan machinery)
            if frame is not None:
                raise ValueError("jpeg: multiple SOF markers")
            if len(body) < 6:
                raise ValueError("jpeg: bad SOF")
            prec, h, w, nc = body[0], (body[1] << 8) | body[2], (
                body[3] << 8
            ) | body[4], body[5]
            if prec != 8:
                raise ValueError("jpeg: only 8-bit precision supported")
            if nc not in (1, 3):
                raise ValueError("jpeg: only 1- or 3-component frames")
            if w == 0 or h == 0:
                raise ValueError("jpeg: bad frame dimensions")
            if len(body) != 6 + 3 * nc:
                raise ValueError("jpeg: bad SOF length")
            comps = []
            for ci in range(nc):
                cid, sf, qid = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append((cid, sf >> 4, sf & 15, qid))
            frame = (h, w, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "jpeg: only sequential/progressive Huffman "
                "(SOF0/SOF1/SOF2) supported"
            )
        elif marker == 0xDD:
            if len(body) != 2:
                raise ValueError("jpeg: bad DRI")
            ri = (body[0] << 8) | body[1]
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("jpeg: SOS before SOF")
            if not body:
                raise ValueError("jpeg: bad SOS length")
            ns = body[0]
            if len(body) != 1 + 2 * ns + 3:
                raise ValueError("jpeg: bad SOS length")
            h, w, comps = frame
            sel = []
            seen_cids = set()
            for si in range(ns):
                cid, tid = body[1 + 2 * si], body[2 + 2 * si]
                match = [c for c in comps if c[0] == cid]
                if not match:
                    raise ValueError("jpeg: scan references unknown component")
                if cid in seen_cids:
                    raise ValueError("jpeg: duplicate component in scan")
                seen_cids.add(cid)
                sel.append((match[0], tid >> 4, tid & 15))
            ss, se, a = body[-3], body[-2], body[-1]
            if not progressive:
                if n_scans:
                    raise ValueError("jpeg: second scan in a sequential frame")
                if ns != len(comps):
                    raise ValueError(
                        "jpeg: non-interleaved scans not supported"
                    )
                if ss != 0 or se != 63:
                    raise ValueError("jpeg: spectral selection not supported")
            else:
                # progressive scan (§G.1.1.1.1): DC scans have Ss=Se=0 and
                # may interleave; AC scans cover one component and a band
                # 1..63; each refinement halves the point transform
                ah, al = a >> 4, a & 15
                if ss > se or se > 63 or (ss == 0) != (se == 0):
                    raise ValueError("jpeg: bad spectral selection bounds")
                if ss > 0 and ns != 1:
                    raise ValueError("jpeg: AC scans must be single-component")
                if al > 13 or (ah != 0 and ah != al + 1):
                    raise ValueError("jpeg: bad successive approximation")
            if dims is None:
                max_h = max(c[1] for c in comps)
                max_v = max(c[2] for c in comps)
                if not (1 <= max_h <= 4 and 1 <= max_v <= 4):
                    raise ValueError("jpeg: bad sampling factors")
                for _, h_f, v_f, _ in comps:
                    if h_f < 1 or v_f < 1 or max_h % h_f or max_v % v_f:
                        raise ValueError("jpeg: unsupported sampling grid")
                mcx = -(-w // (8 * max_h))
                mcy = -(-h // (8 * max_v))
                dims = (h, w, max_h, max_v, mcx, mcy)
                # Plain Python lists, not numpy: the scan loops write one
                # scalar per nonzero coefficient, ~3× cheaper than ndarray
                # __setitem__; _reconstruct converts in one C pass. The
                # progressive refinement needs int bit operations.
                zero = 0 if progressive else 0.0
                for cid_, h_f, v_f, _qid in comps:
                    by, bx = mcy * v_f, mcx * h_f
                    grids[cid_] = (by, bx)
                    coef_store[cid_] = [[zero] * 64 for _ in range(by * bx)]
            if progressive:
                p = _decode_scan_progressive(
                    d, p, sel, ss, se, ah, al, coef_store, grids,
                    dc_tabs, ac_tabs, ri, dims,
                )
            else:
                p = _decode_scan_sequential(
                    d, p, sel, coef_store, grids, dc_tabs, ac_tabs, ri, dims
                )
            n_scans += 1
        else:
            raise ValueError(f"jpeg: unsupported marker 0x{marker:02x}")

    if n_scans == 0:
        raise ValueError("jpeg: no frame/scan found")
    if not saw_eoi:
        raise ValueError("jpeg: missing EOI after scan")
    h, w, comps = frame
    _h, _w, max_h, max_v, _mcx, _mcy = dims
    # A conformant scan may list components in any order; the stores are
    # keyed by component id and handed over in SOF order, the YCbCr
    # convention (JFIF: comps[0]=Y, [1]=Cb, [2]=Cr).
    by_comp = [(coef_store[cid], *grids[cid]) for cid, _hf, _vf, _q in comps]
    return _reconstruct(h, w, comps, by_comp, qts, max_h, max_v)


def _decode_scan_sequential(
    d: bytes, scan_pos: int, sel: list, coef_store: dict, grids: dict,
    dc_tabs: dict, ac_tabs: dict, ri: int, dims: tuple,
) -> int:
    """Decode the one interleaved scan of a sequential frame into the
    per-component coefficient stores (T.81 §F.2.2). Returns the stream
    position where the scan's entropy data ended."""
    _h, _w, _max_h, _max_v, mcx, mcy = dims
    n_mcus = mcx * mcy
    for (_c, dc_id, ac_id) in sel:
        if dc_id not in dc_tabs or ac_id not in ac_tabs:
            raise ValueError("jpeg: scan references undefined huffman table")
    scan_grids = [grids[comp[0]] for comp, _dc, _ac in sel]  # scan order
    scan_stores = [coef_store[comp[0]] for comp, _dc, _ac in sel]

    segments, rst_markers, scan_end = _unstuff_scan(d, scan_pos)
    seg_idx = 0
    preds = [0] * len(sel)
    rst = 0
    # hot-loop state, kept in locals (the _BitReader method-call version
    # of this loop measured ~1.6× slower; same semantics — peek16 with
    # zero padding, consume validates against real bits, refill 7 bytes)
    tables = [(dc_tabs[dc_id], ac_tabs[ac_id]) for (_c, dc_id, ac_id) in sel]
    zig = ZIGZAG
    buf = segments[0]
    blen = len(buf)
    pos = 0
    acc = 0
    nb = 0  # real (unconsumed) bits in acc
    for i in range(n_mcus):
        my, mx = divmod(i, mcx)
        for ci, ((_cid, h_f, v_f, _qid), _dc, _ac) in enumerate(sel):
            (dc_lut, dc_long), (ac_lut, ac_long) = tables[ci]
            _by, bx = scan_grids[ci]
            pred = preds[ci]
            store = scan_stores[ci]
            for vy in range(v_f):
                base = (my * v_f + vy) * bx + mx * h_f
                for vx in range(h_f):
                    row = store[base + vx]
                    # DC symbol (8-bit LUT, long-code fallback)
                    if nb < 16 and pos < blen:
                        chunk = buf[pos : pos + 7]
                        acc = ((acc & ((1 << nb) - 1)) << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                        nb += 8 * len(chunk)
                        pos += len(chunk)
                    v16 = (
                        (acc >> (nb - 16)) & 0xFFFF
                        if nb >= 16
                        else (acc << (16 - nb)) & 0xFFFF
                    )
                    e = dc_lut[v16 >> 8]
                    if e is None:
                        t, ln = _huff_slow(dc_long, v16)
                    else:
                        t, ln = e
                    if ln > nb:
                        raise ValueError("jpeg: truncated entropy-coded segment")
                    nb -= ln
                    if t > 11:
                        raise ValueError("jpeg: bad DC category")
                    if t:
                        if nb < t:
                            if pos < blen:
                                chunk = buf[pos : pos + 7]
                                acc = ((acc & ((1 << nb) - 1)) << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                                nb += 8 * len(chunk)
                                pos += len(chunk)
                            if nb < t:
                                raise ValueError(
                                    "jpeg: truncated entropy-coded segment"
                                )
                        nb -= t
                        mv = (acc >> nb) & ((1 << t) - 1)
                        pred += mv - (1 << t) + 1 if mv < (1 << (t - 1)) else mv
                    row[0] = pred
                    # AC symbols
                    k = 1
                    while k < 64:
                        if nb < 16 and pos < blen:
                            chunk = buf[pos : pos + 7]
                            acc = ((acc & ((1 << nb) - 1)) << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                            nb += 8 * len(chunk)
                            pos += len(chunk)
                        v16 = (
                            (acc >> (nb - 16)) & 0xFFFF
                            if nb >= 16
                            else (acc << (16 - nb)) & 0xFFFF
                        )
                        e = ac_lut[v16 >> 8]
                        if e is None:
                            rs, ln = _huff_slow(ac_long, v16)
                        else:
                            rs, ln = e
                        if ln > nb:
                            raise ValueError(
                                "jpeg: truncated entropy-coded segment"
                            )
                        nb -= ln
                        s = rs & 15
                        if s == 0:
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += rs >> 4
                        if k > 63:
                            raise ValueError("jpeg: AC coefficient overrun")
                        if nb < s:
                            if pos < blen:
                                chunk = buf[pos : pos + 7]
                                acc = ((acc & ((1 << nb) - 1)) << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                                nb += 8 * len(chunk)
                                pos += len(chunk)
                            if nb < s:
                                raise ValueError(
                                    "jpeg: truncated entropy-coded segment"
                                )
                        nb -= s
                        mv = (acc >> nb) & ((1 << s) - 1)
                        row[zig[k]] = (
                            mv - (1 << s) + 1 if mv < (1 << (s - 1)) else mv
                        )
                        k += 1
            preds[ci] = pred
        if ri and (i + 1) % ri == 0 and i + 1 < n_mcus:
            # §F.2.1.3.1: byte-align (≤ 7 padding bits) and cross into
            # the next restart segment, verifying RSTn order
            if (blen - pos) * 8 + nb >= 8:
                raise ValueError("jpeg: data before restart marker")
            if seg_idx >= len(rst_markers):
                raise ValueError("jpeg: missing restart marker")
            if rst_markers[seg_idx] != (rst & 7):
                raise ValueError("jpeg: out-of-order restart marker")
            seg_idx += 1
            buf = segments[seg_idx]
            blen = len(buf)
            pos = 0
            acc = 0
            nb = 0
            rst += 1
            preds = [0] * len(sel)

    return scan_end


def _reconstruct(h, w, comps, by_comp, qts, max_h, max_v):
    """Shared decode tail (baseline + progressive): dequantize + IDCT
    per component, upsample to the frame grid, crop, color-convert.

    Batched matmuls (m.T @ C @ m over the block axis) instead of
    einsum: same contraction, BLAS-backed — einsum's C kernel was ~40%
    of decode wall time on real-AC images."""
    import numpy as np

    m = _m()
    planes = []
    for (_cid, h_f, v_f, qid), (rows, by, bx) in zip(comps, by_comp):
        if qid not in qts:
            raise ValueError("jpeg: scan references undefined quant table")
        qt = np.asarray(qts[qid], dtype=np.float64).reshape(8, 8)
        coefs = np.asarray(rows, dtype=np.float64).reshape(-1, 8, 8) * qt
        spatial = m.T @ coefs @ m + 128.0
        plane = (
            spatial.reshape(by, bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )
        # upsample to full MCU-padded geometry, then crop
        if h_f != max_h or v_f != max_v:
            plane = np.repeat(
                np.repeat(plane, max_v // v_f, axis=0), max_h // h_f, axis=1
            )
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        gray = np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
        return w, h, 1, gray.tobytes()

    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack(
        [np.clip(np.rint(c), 0, 255) for c in (r, g, b)], axis=-1
    ).astype(np.uint8)
    return w, h, 3, rgb.tobytes()


def _huff_slow(long_codes: dict, v16: int) -> tuple[int, int]:
    """9-16-bit code probe on a 16-bit (zero-padded) peek →
    ``(symbol, length)``; no matching prefix is a corrupt stream."""
    for length in range(9, 17):
        sym = long_codes.get((length, v16 >> (16 - length)))
        if sym is not None:
            return sym, length
    raise ValueError("jpeg: invalid huffman code in scan")


# ---------------------------------------------------------------------------
# Progressive decoding (T.81 Annex G, Huffman) — spectral selection +
# successive approximation, matching the libjpeg interchange behavior
# (jdphuff.c) that real-world progressive files are written against.
# ---------------------------------------------------------------------------


class _Bits:
    """Bit reader over one restart segment of unstuffed entropy data.

    Progressive scans interleave Huffman decodes, raw ``receive`` bits
    and single correction bits at block granularity — a small stateful
    reader is the readable shape here; the baseline decoder keeps its
    measured locals-inlined loop (this path decodes each coefficient
    once per REFINEMENT, not per scan, so the constant is bounded by
    the number of scans, not multiplied into the hot MJPEG faces)."""

    __slots__ = ("buf", "blen", "pos", "acc", "nb")

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.blen = len(buf)
        self.pos = 0
        self.acc = 0
        self.nb = 0

    def _fill(self) -> None:
        chunk = self.buf[self.pos : self.pos + 7]
        if chunk:
            self.acc = (
                (self.acc & ((1 << self.nb) - 1)) << (8 * len(chunk))
            ) | int.from_bytes(chunk, "big")
            self.nb += 8 * len(chunk)
            self.pos += len(chunk)

    def decode(self, lut, long_codes) -> int:
        if self.nb < 16 and self.pos < self.blen:
            self._fill()
        nb = self.nb
        v16 = (
            (self.acc >> (nb - 16)) & 0xFFFF
            if nb >= 16
            else (self.acc << (16 - nb)) & 0xFFFF
        )
        e = lut[v16 >> 8]
        if e is None:
            sym, ln = _huff_slow(long_codes, v16)
        else:
            sym, ln = e
        if ln > nb:
            raise ValueError("jpeg: truncated entropy-coded segment")
        self.nb = nb - ln
        return sym

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nb < n:
            self._fill()
            if self.nb < n:
                raise ValueError("jpeg: truncated entropy-coded segment")
        self.nb -= n
        return (self.acc >> self.nb) & ((1 << n) - 1)

    def bit(self) -> int:
        return self.receive(1)

    def assert_aligned_end(self) -> None:
        # §F.2.1.3.1: at a restart boundary at most 7 padding bits may
        # remain unconsumed before the marker
        if (self.blen - self.pos) * 8 + self.nb >= 8:
            raise ValueError("jpeg: data before restart marker")


def _decode_scan_progressive(
    d: bytes,
    scan_pos: int,
    sel: list,
    ss: int,
    se: int,
    ah: int,
    al: int,
    coef_store: dict,
    grids: dict,
    dc_tabs: dict,
    ac_tabs: dict,
    ri: int,
    dims: tuple,
) -> int:
    """Decode ONE progressive scan into the per-component coefficient
    stores (T.81 §G.2; EOB-run / correction-bit semantics per the
    interchange behavior codified in libjpeg's jdphuff.c). Returns the
    stream position where the scan's entropy data ended."""
    h, w, max_h, max_v, mcx, mcy = dims
    segments, rst_markers, scan_end = _unstuff_scan(d, scan_pos)

    interleaved = len(sel) > 1
    if interleaved:
        n_units = mcx * mcy
    else:
        # non-interleaved scans cover the component's OWN ceil-grid —
        # NOT the MCU-padded grid (§A.2.2); right/bottom MCU padding
        # blocks simply never receive AC data
        _cid, h_f, v_f, _qid = sel[0][0]
        cw = -(-w * h_f // max_h)
        ch = -(-h * v_f // max_v)
        bw_n = -(-cw // 8)
        bh_n = -(-ch // 8)
        n_units = bw_n * bh_n

    dc_scan = ss == 0
    tabs = []
    for comp, dc_id, ac_id in sel:
        if dc_scan and ah == 0:
            if dc_id not in dc_tabs:
                raise ValueError("jpeg: scan references undefined huffman table")
            tabs.append(dc_tabs[dc_id])
        elif not dc_scan:
            if ac_id not in ac_tabs:
                raise ValueError("jpeg: scan references undefined huffman table")
            tabs.append(ac_tabs[ac_id])
        else:
            tabs.append(None)  # DC refinement needs no table

    bits = _Bits(segments[0])
    seg_idx = 0
    rst = 0
    preds = [0] * len(sel)
    eobrun = 0
    p1 = 1 << al
    m1 = -p1
    zig = ZIGZAG

    for unit in range(n_units):
        if interleaved:
            my, mx = divmod(unit, mcx)
            targets = []
            for si, (comp, _dc, _ac) in enumerate(sel):
                cid, h_f, v_f, _qid = comp
                _by, bx = grids[cid]
                store = coef_store[cid]
                for vy in range(v_f):
                    base = (my * v_f + vy) * bx + mx * h_f
                    for vx in range(h_f):
                        targets.append((si, store[base + vx]))
        else:
            cid = sel[0][0][0]
            _by, bx = grids[cid]
            r_, c_ = divmod(unit, bw_n)
            targets = [(0, coef_store[cid][r_ * bx + c_])]

        for si, row in targets:
            if dc_scan:
                if ah == 0:
                    dc_lut, dc_long = tabs[si]
                    t = bits.decode(dc_lut, dc_long)
                    if t > 11:
                        raise ValueError("jpeg: bad DC category")
                    preds[si] += _extend(bits.receive(t), t)
                    row[0] = preds[si] << al
                else:
                    if bits.bit():
                        row[0] |= p1
            elif ah == 0:
                # AC initial pass (§G.1.2.2 decode side)
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                ac_lut, ac_long = tabs[si]
                while k <= se:
                    sym = bits.decode(ac_lut, ac_long)
                    s = sym & 15
                    r = sym >> 4
                    if s:
                        k += r
                        if k > se:
                            raise ValueError("jpeg: AC coefficient overrun")
                        row[zig[k]] = _extend(bits.receive(s), s) << al
                        k += 1
                    else:
                        if r != 15:
                            eobrun = (1 << r) + bits.receive(r) - 1
                            break
                        k += 16  # ZRL
            else:
                # AC refinement pass (§G.1.2.3 decode side / jdphuff.c):
                # each symbol carries a newly-nonzero coefficient (s=1),
                # a ZRL, or an EOB run; history-nonzero coefficients
                # consume one correction bit each as the band advances
                k = ss
                ac_lut, ac_long = tabs[si]
                if eobrun == 0:
                    while k <= se:
                        sym = bits.decode(ac_lut, ac_long)
                        s = sym & 15
                        r = sym >> 4
                        newly = 0
                        if s:
                            if s != 1:
                                raise ValueError(
                                    "jpeg: bad code in AC refinement scan"
                                )
                            newly = p1 if bits.bit() else m1
                        elif r != 15:
                            eobrun = (1 << r) + bits.receive(r)
                            break
                        # advance over r zero-history positions,
                        # refining every nonzero-history one passed
                        while k <= se:
                            cv = row[zig[k]]
                            if cv:
                                if bits.bit() and not (int(cv) & p1):
                                    row[zig[k]] = cv + (p1 if cv > 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if newly:
                            if k > se:
                                raise ValueError(
                                    "jpeg: AC coefficient overrun"
                                )
                            row[zig[k]] = newly
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        cv = row[zig[k]]
                        if cv and bits.bit() and not (int(cv) & p1):
                            row[zig[k]] = cv + (p1 if cv > 0 else m1)
                        k += 1
                    eobrun -= 1

        if ri and (unit + 1) % ri == 0 and unit + 1 < n_units:
            bits.assert_aligned_end()
            if seg_idx >= len(rst_markers):
                raise ValueError("jpeg: missing restart marker")
            if rst_markers[seg_idx] != (rst & 7):
                raise ValueError("jpeg: out-of-order restart marker")
            seg_idx += 1
            bits = _Bits(segments[seg_idx])
            rst += 1
            preds = [0] * len(sel)
            eobrun = 0

    return scan_end
