"""Multimodal plumbing: schema, Arrow batch shape, decode/feature/frame
stubs (the codec itself is a deterministic fake — see operators.multimodal)."""

from __future__ import annotations

import pytest

from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
    FEATURE_DIM,
    attach_payload,
    decode_images,
    extract_features,
    sample_video_frames,
)


def _assets(spark):
    rows = [(1, "a" * 10), (2, "b" * 5000), (3, "c" * 10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return attach_payload(df, text_col="text", id_col="doc_id")


def test_asset_schema(spark):
    assets = _assets(spark)
    assert [f.name for f in assets.schema.fields] == [
        "asset_id",
        "modality",
        "payload",
        "meta",
    ]
    assert assets.schema["payload"].dataType.simpleString() == "binary"
    meta = assets.schema["meta"].dataType.simpleString()
    assert "mime" in meta and "width" in meta


def test_decode_deterministic_and_pruned(spark):
    decoded = decode_images(_assets(spark))
    rows = {r.asset_id: r for r in decoded.collect()}
    rows2 = {r.asset_id: r for r in decode_images(_assets(spark)).collect()}
    assert {r.content_sha256 for r in rows.values()} == {
        r.content_sha256 for r in rows2.values()
    }
    assert rows[2].n_bytes == 5000
    assert "payload" not in decoded.columns  # heavy bytes projected away
    assert 1 <= rows[1].width <= 4096 and 1 <= rows[1].height <= 4096


def test_decode_images_carries_meta_unchanged(spark):
    """decode_images passes each asset's meta struct through untouched
    (a NULL meta stays NULL), for text and real-codec payloads alike."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_png,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.schema import (
        MULTIMODAL_ASSET,
    )

    ids = spark.range(0, 12).withColumnRenamed("id", "asset_id")
    bare = spark.createDataFrame([(99, "image", b"opaque", None)], MULTIMODAL_ASSET)
    for assets in (_assets(spark), attach_synthetic_png(ids, "asset_id"), bare):
        want = {r.asset_id: r.meta for r in assets.collect()}
        decoded = decode_images(assets)
        assert decoded.schema["meta"] == MULTIMODAL_ASSET["meta"]
        assert {r.asset_id: r.meta for r in decoded.collect()} == want


def test_extract_features_shape(spark):
    feats = {r.asset_id: r.features for r in extract_features(_assets(spark)).collect()}
    assert all(len(v) == FEATURE_DIM for v in feats.values())
    assert all(-1.0 <= x <= 1.0 for v in feats.values() for x in v)
    assert feats[1] != feats[2]


def test_sample_video_frames_counts(spark):
    frames = sample_video_frames(_assets(spark), every_n_bytes=1024).collect()
    per_asset = {}
    for r in frames:
        per_asset.setdefault(r.asset_id, []).append(r.frame_idx)
    assert len(per_asset[1]) == 1  # 10 bytes → 1 chunk
    assert len(per_asset[2]) == 5  # 5000 bytes / 1024 → 5 chunks
    assert sorted(per_asset[2]) == list(range(5))


def test_bmp_roundtrip_all_paddings():
    """REAL stdlib BMP codec (VERDICT r7 item 5): encode→decode returns
    the exact dimensions AND pixel bytes for every width % 4 padding
    case, and the encoded file carries spec-correct headers."""
    import struct

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    for w in (4, 5, 6, 7, 1):  # row padding 0..3 bytes + degenerate 1px
        for h in (1, 3):
            px = bytes((i * 7 + 13) % 256 for i in range(w * h * 3))
            payload = encode_bmp(w, h, px)
            assert payload[:2] == b"BM"
            assert struct.unpack_from("<I", payload, 2)[0] == len(payload)
            gw, gh, gpx = decode_bmp(payload)
            assert (gw, gh) == (w, h)
            assert gpx == px


def test_decode_images_real_bmp_dimensions(spark):
    """The decode face reads TRUE dimensions from the BMP header bytes —
    equal to the attach step's metadata, and NOT equal to what the
    hash-derived fake would have produced for the same payload."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        _fake_decode_image,
        attach_synthetic_bmp,
        decode_images,
    )

    ids = spark.range(0, 40).withColumnRenamed("id", "asset_id")
    assets = attach_synthetic_bmp(ids, "asset_id")
    meta = {r.asset_id: (r.meta.width, r.meta.height) for r in assets.collect()}
    payloads = {r.asset_id: bytes(r.payload) for r in assets.collect()}
    got = {
        r.asset_id: (r.width, r.height)
        for r in decode_images(assets).collect()
    }
    assert got == meta  # true header dims, all 40 assets
    # at least one asset's fake pseudo-dims would have differed — the
    # real path is demonstrably live, not coincidentally equal
    fakes = {a: _fake_decode_image(p)[:2] for a, p in payloads.items()}
    assert any(fakes[a] != got[a] for a in got)


def test_decode_images_text_payloads_keep_stub_path(spark):
    """Non-BMP payloads (the registered oracle faces attach text bytes)
    still take the deterministic fake — its sha256 arithmetic is what
    the SQL oracle replicates, so this pins the face unchanged. Also
    plants a payload that STARTS with 'BM' but fails the consistency
    check: it must stay on the stub path too."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        _fake_decode_image,
        attach_payload,
        decode_images,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "BM i merely start with the magic bytes")],
        "id long, text string",
    )
    rows = {
        r.asset_id: r
        for r in decode_images(attach_payload(df, "text", "id")).collect()
    }
    for rid, text in ((1, "hello world"), (2, "BM i merely start with the magic bytes")):
        w, h, digest = _fake_decode_image(text.encode())
        assert (rows[rid].width, rows[rid].height) == (w, h)
        assert rows[rid].content_sha256 == digest


def test_wav_roundtrip_and_decode_audio(spark):
    """REAL stdlib WAV codec: true sample counts / rates / durations
    come back from the RIFF headers, both in pure python and through the
    Spark decode_audio face; durations match the attach metadata."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_wav,
        decode_audio,
        decode_wav,
        encode_wav,
    )

    payload = encode_wav([0, 1000, -1000, 500] * 2000, rate=16000)
    ch, rate, n, dur = decode_wav(payload)
    assert (ch, rate, n) == (1, 16000, 8000)
    assert dur == 500  # 8000 samples at 16 kHz = 0.5 s

    ids = spark.range(0, 25).withColumnRenamed("id", "asset_id")
    assets = attach_synthetic_wav(ids, "asset_id", rate=8000)
    meta_dur = {r.asset_id: r.meta.duration_ms for r in assets.collect()}
    got = {r.asset_id: r for r in decode_audio(assets).collect()}
    assert {a: r.duration_ms for a, r in got.items()} == meta_dur
    assert all(r.sample_rate == 8000 and r.n_channels == 1 for r in got.values())
    assert len({r.duration_ms for r in got.values()}) > 1  # truly varying


def test_png_roundtrip_all_filters_and_channels():
    """REAL stdlib PNG codec (VERDICT r8 item 2): encode→decode returns
    the exact dimensions, channel count AND pixel bytes for RGB and
    RGBA across every PNG filter type (pinned and cycling) and for
    degenerate 1px geometries."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    for ch in (3, 4):
        for mode in ("cycle", 0, 1, 2, 3, 4):
            for w, h in ((1, 1), (4, 3), (13, 9)):
                px = bytes(
                    (i * 29 + c * 97 + 5) % 256
                    for i in range(w * h)
                    for c in range(ch)
                )
                payload = encode_png(w, h, px, channels=ch, filter_mode=mode)
                assert payload[:8] == b"\x89PNG\r\n\x1a\n"
                assert decode_png(payload) == (w, h, ch, px)


def test_png_known_vector_and_content_digest_invariance():
    """Decode matches a hand-assembled spec PNG (1x1 red, filter 0 —
    independent of our encoder), and the decode face's content digest
    is invariant to the encoder's filter/compression choices because it
    hashes decoded PIXELS, not file bytes."""
    import struct
    import zlib

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        _decode_image,
        decode_png,
        encode_png,
    )

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes([0, 255, 0, 0])))
        + chunk(b"IEND", b"")
    )
    assert decode_png(png) == (1, 1, 3, bytes([255, 0, 0]))

    px = bytes((i * 7 + 3) % 256 for i in range(12 * 5 * 3))
    digests = {
        _decode_image(encode_png(12, 5, px, 3, mode))
        for mode in ("cycle", 0, 4)
    }
    assert len(digests) == 1
    assert next(iter(digests))[:2] == (12, 5)


def test_png_rejections_fall_back_to_stub():
    """A corrupted CRC, a truncated file, an IDAT that disagrees with
    the declared geometry, and an unsupported subclass (interlaced) all
    raise in decode_png — and _decode_image propagates the ValueError
    instead of digesting them with the stub (they carry the PNG
    signature, so a stub digest would look like a real decode)."""
    import struct
    import zlib

    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        _decode_image,
        decode_png,
        encode_png,
    )

    good = encode_png(4, 4, bytes(48), 3)

    corrupt = bytearray(good)
    corrupt[-5] ^= 0xFF  # IEND CRC
    with pytest.raises(ValueError):
        decode_png(bytes(corrupt))
    truncated = good[:20]
    with pytest.raises(ValueError):
        decode_png(truncated)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    # declares 2x2 but carries a 1x1 stream
    lying = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes([0, 255, 0, 0])))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png(lying)
    interlaced = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(bytes([0, 255, 0, 0])))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png(interlaced)

    for bad in (bytes(corrupt), truncated, lying, interlaced):
        with pytest.raises(ValueError):
            _decode_image(bad)


def test_decode_images_real_png_dimensions(spark):
    """The distributed decode face reads TRUE dimensions by actually
    inflating and unfiltering the PNG payloads — equal to the attach
    step's metadata, distinct content digests per asset, and NOT what
    the hash-derived fake would produce."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        _fake_decode_image,
        attach_synthetic_png,
        decode_images,
    )

    ids = spark.range(0, 40).withColumnRenamed("id", "asset_id")
    assets = attach_synthetic_png(ids, "asset_id")
    meta = {r.asset_id: (r.meta.width, r.meta.height) for r in assets.collect()}
    payloads = {r.asset_id: bytes(r.payload) for r in assets.collect()}
    decoded = decode_images(assets).collect()
    got = {r.asset_id: (r.width, r.height) for r in decoded}
    assert got == meta
    assert len({r.content_sha256 for r in decoded}) == 40
    fakes = {a: _fake_decode_image(p)[:2] for a, p in payloads.items()}
    assert any(fakes[a] != got[a] for a in got)


def test_decode_wav_pcm_known_vector_and_rejections():
    """decode_wav_pcm returns the EXACT int16 samples that were encoded
    (byte-level round trip through the RIFF container) and refuses
    stereo / non-16-bit payloads instead of misreading them as mono."""
    import io
    import struct
    import wave

    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        decode_wav_pcm,
        encode_wav,
    )

    samples = [0, 5, -5, 1023, -1024, 37, -1, 0]
    rate, got = decode_wav_pcm(encode_wav(samples, rate=8000))
    assert rate == 8000
    assert list(got) == samples

    def _wav(channels, width):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(width)
            w.setframerate(8000)
            w.writeframes(b"\x00" * (channels * width * 4))
        return buf.getvalue()

    with pytest.raises(ValueError):
        decode_wav_pcm(_wav(2, 2))  # stereo
    with pytest.raises(ValueError):
        decode_wav_pcm(_wav(1, 1))  # 8-bit


def test_audio_features_match_python_replica(spark):
    """The distributed feature extraction (real PCM decode + vectorized
    numpy) equals a per-sample pure-python replica of the fixture's
    synthesis formula — energy, zero crossings, peak, count all exact."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_wav,
        audio_features,
    )

    ids = spark.range(0, 25).withColumnRenamed("id", "asset_id")
    got = {
        r.asset_id: (r.n_samples, r.sum_sq, r.n_zero_cross, r.peak_abs)
        for r in audio_features(attach_synthetic_wav(ids, "asset_id")).collect()
    }
    assert len(got) == 25
    for aid in range(25):
        n = 8000 // 4 + (aid % 10) * 8000 // 10
        s = [((i * 37 + aid * 13) % 2048) - 1024 for i in range(n)]
        zc = sum(1 for i in range(1, n) if (s[i - 1] < 0) != (s[i] < 0))
        assert got[aid] == (n, sum(x * x for x in s), zc, max(abs(x) for x in s))


def test_gif_roundtrip_all_code_width_regimes():
    """encode_gif → decode_gif is lossless across palette sizes and
    image sizes that exercise every LZW code-width regime: the initial
    width, each growth step, and the full-table (4096-code) deferred
    clear where both coder sides must stop adding entries and coast."""
    import random

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        GIF_FIXTURE_PALETTE,
        decode_gif,
        encode_gif,
    )

    cases = [
        (GIF_FIXTURE_PALETTE, (1, 1)),
        (GIF_FIXTURE_PALETTE, (4, 3)),
        (GIF_FIXTURE_PALETTE, (21, 13)),
        (GIF_FIXTURE_PALETTE, (300, 200)),  # forces 12-bit codes + full table
        (b"\x00\x00\x00\xff\xff\xff", (8, 8)),  # 2-color: mcs clamps to 2
        (
            bytes(b for i in range(256) for b in (i, 255 - i, (i * 7) % 256)),
            (100, 50),
        ),  # 256-color: mcs=8
    ]
    for trial, (pal, (w, h)) in enumerate(cases):
        n_colors = len(pal) // 3
        rng = random.Random(trial)
        idx = bytes(rng.randrange(n_colors) for _ in range(w * h))
        got_w, got_h, px = decode_gif(encode_gif(w, h, pal, idx))
        assert (got_w, got_h) == (w, h)
        assert px == b"".join(pal[3 * c : 3 * c + 3] for c in idx)


def test_gif_roundtrip_property_random_palettes_and_sides():
    """encode_gif → decode_gif is lossless for random palettes of 1..8
    and 9..256 colors and sides of 1..20 px. When the last code's table
    insert fills the current code width, the decoder reads EOI one bit
    wider (GIF89a Appendix F), so the encoder must widen before it writes
    EOI; an EOI written one bit narrow raised in 11 of these 2,000."""
    import random

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    rng = random.Random(20)
    for _ in range(2000):
        n = rng.choice((rng.randint(1, 8), rng.randint(9, 256)))
        pal = bytes(rng.randrange(256) for _ in range(3 * n))
        w, h = rng.randint(1, 20), rng.randint(1, 20)
        idx = bytes(rng.randrange(n) for _ in range(w * h))
        rgb = b"".join(pal[3 * c : 3 * c + 3] for c in idx)
        assert decode_gif(encode_gif(w, h, pal, idx)) == (w, h, rgb)


#: sha256 over (asset_id, sha256(payload)) of ids 0..63, sorted by id, per
#: fixture. The decode faces digest decoded content only, so these pin the
#: encoders' bytes themselves.
_FIXTURE_PAYLOAD_DIGESTS = {
    "attach_synthetic_bmp": "b0459e72274c7396",
    "attach_synthetic_gif": "3b4bfb23d6597c5a",
    "attach_synthetic_gif_video": "5723c44fa2d827a7",
    "attach_synthetic_gif_video_repeats": "51f7355f1ad1f8c3",
    "attach_synthetic_h264_annexb": "c33575c3b77a4ee5",
    "attach_synthetic_h264_mp4": "8639ba45de67278a",
    "attach_synthetic_jpeg": "01d1e8153d1cee57",
    "attach_synthetic_mjpeg_mp4": "e2ce8861261d65e4",
    "attach_synthetic_mp4": "bc2d8e688bb56a02",
    "attach_synthetic_png": "6d160bd204de1ed1",
    "attach_synthetic_progressive_jpeg": "8a4c404f8fc8aaf5",
    "attach_synthetic_wav": "ef697b5038095439",
    "attach_synthetic_wav_bursts": "330c6dbc37478b91",
}


def test_fixture_payload_bytes_are_pinned(spark):
    """Every ``attach_synthetic_*`` fixture emits the same payload bytes
    for ids 0..63, so an encoder refactor that changes a byte (and with
    it every digest downstream) fails here, not in a decode face."""
    import hashlib

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators import (
        multimodal as mm,
    )

    names = sorted(n for n in dir(mm) if n.startswith("attach_synthetic_"))
    assert names == sorted(_FIXTURE_PAYLOAD_DIGESTS)
    ids = spark.range(64).withColumnRenamed("id", "doc_id")
    got = {}
    for name in names:
        rows = getattr(mm, name)(ids, "doc_id").select("asset_id", "payload")
        h = hashlib.sha256()
        for r in sorted(rows.collect()):
            h.update(r.asset_id.to_bytes(8, "little"))
            h.update(hashlib.sha256(r.payload).digest())
        got[name] = h.hexdigest()[:16]
    assert got == _FIXTURE_PAYLOAD_DIGESTS


def test_gif_known_vector_regression():
    """Pin the exact encoded bytes of a tiny fixed image (header layout,
    LSB-first bit packing, code-width bump) so any codec change that
    silently alters the wire format fails here first."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    pal = b"\x01\x02\x03\x11\x12\x13\x21\x22\x23\x31\x32\x33"  # 4 colors
    gif = encode_gif(2, 2, pal, bytes([0, 1, 2, 3]))
    assert gif[:6] == b"GIF89a"
    assert gif[6:8] == b"\x02\x00" and gif[8:10] == b"\x02\x00"  # 2x2 LSD
    w, h, px = decode_gif(gif)
    assert (w, h) == (2, 2)
    assert px == pal
    # full-payload regression pin (any byte change is a format change).
    # The LZW block decodes by hand: clear(100) 0(000) 1(001) at 3 bits
    # fill byte0=0x44; 2(010) then — the encoder's table is one entry
    # ahead, so symbol 3 and EOI go at 4 bits — 3(0011) fills
    # byte1=0x34; eoi(0101) is byte2=0x05.
    assert gif.hex() == (
        "474946383961"              # GIF89a
        "0200020091"                # LSD: 2x2, GCT flag + 2-bit depth
        "0000"                      # bg color, aspect
        "010203111213212223313233"  # global color table
        "2c000000000200020000"      # image descriptor, no LCT
        "02"                        # LZW min code size
        "03443405"                  # one 3-byte LZW sub-block
        "003b"                      # terminator + trailer
    )


def test_gif_rejections():
    """Corrupt GIF payloads raise instead of decoding garbage: bad
    signature, truncation, interlace flag, LZW/geometry mismatch, bombs.
    _decode_image propagates the raise for every payload that carries a
    GIF signature; the bad-signature one is opaque bytes and takes the
    stub."""
    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        GIF_FIXTURE_PALETTE,
        _decode_image,
        _fake_decode_image,
        decode_gif,
        encode_gif,
    )

    good = encode_gif(4, 3, GIF_FIXTURE_PALETTE, bytes(range(12)))

    bad_sig = b"GIF90a" + good[6:]
    truncated = good[: len(good) // 2]
    interlaced = bytearray(good)
    # image descriptor starts right after 13-byte header + 48-byte GCT
    interlaced[13 + 48 + 9 - 1] |= 0x40  # set the interlace bit
    oversized = encode_gif(8, 8, GIF_FIXTURE_PALETTE, bytes(64))
    lying = bytearray(oversized)
    lying[13 + 48 + 5] = 2  # claim 2x... geometry smaller than the stream
    lying[13 + 48 + 7] = 2

    for bad in (bad_sig, truncated, bytes(interlaced), bytes(lying)):
        with pytest.raises(ValueError):
            decode_gif(bad)
    for bad in (truncated, bytes(interlaced), bytes(lying)):
        with pytest.raises(ValueError):
            _decode_image(bad)
    assert _decode_image(bad_sig) == _fake_decode_image(bad_sig)

    garbage_lzw = bytearray(good)
    garbage_lzw[-4] ^= 0xFF  # flip bits inside the LZW sub-block
    try:
        w, h, px = decode_gif(bytes(garbage_lzw))
        # if it still parses, it must at least keep the declared geometry
        assert (w, h) == (4, 3) and len(px) == 36
    except ValueError:
        pass


def test_decode_images_real_gif_dimensions(spark):
    """The distributed decode face reads TRUE dimensions by actually
    LZW-decoding the GIF payloads — equal to the attach step's metadata,
    distinct content digests per asset, and NOT what the hash-derived
    fake would produce."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        _fake_decode_image,
        attach_synthetic_gif,
        decode_images,
    )

    ids = spark.range(0, 40).withColumnRenamed("id", "asset_id")
    assets = attach_synthetic_gif(ids, "asset_id")
    meta = {r.asset_id: (r.meta.width, r.meta.height) for r in assets.collect()}
    payloads = {r.asset_id: bytes(r.payload) for r in assets.collect()}
    decoded = decode_images(assets).collect()
    got = {r.asset_id: (r.width, r.height) for r in decoded}
    assert got == meta
    assert len({r.content_sha256 for r in decoded}) == 40
    fakes = {a: _fake_decode_image(p)[:2] for a, p in payloads.items()}
    assert any(fakes[a] != got[a] for a in got)


def test_gif_animated_roundtrip_and_first_frame():
    """encode_gif_animated → decode_gif_frames is lossless per frame;
    decode_gif on the same payload returns exactly frame 0 (a
    single-frame consumer can read an animation's poster frame)."""
    import random

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        GIF_FIXTURE_PALETTE,
        decode_gif,
        decode_gif_frames,
        encode_gif_animated,
    )

    pal = GIF_FIXTURE_PALETTE
    rng = random.Random(7)
    w, h, n = 9, 5, 6
    frames = [bytes(rng.randrange(16) for _ in range(w * h)) for _ in range(n)]
    gif = encode_gif_animated(w, h, pal, frames, delay_cs=4)
    dw, dh, got = decode_gif_frames(gif)
    want = [b"".join(pal[3 * c : 3 * c + 3] for c in fr) for fr in frames]
    assert (dw, dh) == (w, h)
    assert got == want
    assert decode_gif(gif) == (w, h, want[0])
    # single-frame GIFs also decode through the frames face
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        encode_gif,
    )

    single = encode_gif(4, 3, pal, bytes(range(12)))
    sw, sh, sframes = decode_gif_frames(single)
    assert (sw, sh, len(sframes)) == (4, 3, 1)


def test_sample_video_frames_real_frames_and_stub_fallback(spark):
    """sample_video_frames decodes TRUE frames from animated GIFs —
    every 2nd frame index, one distinct pixel digest per (asset, frame)
    — and keeps the byte-chunk stub for non-GIF payloads (registered
    stub faces stay bit-stable)."""
    import hashlib

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_payload,
        attach_synthetic_gif_video,
        decode_gif_frames,
        sample_video_frames,
    )

    ids = spark.range(0, 20).withColumnRenamed("id", "asset_id")
    assets = attach_synthetic_gif_video(ids, "asset_id")
    sampled = sample_video_frames(assets).collect()
    by_asset: dict[int, list] = {}
    for r in sampled:
        by_asset.setdefault(r.asset_id, []).append((r.frame_idx, r.frame_sha256))
    payloads = {r.asset_id: bytes(r.payload) for r in assets.collect()}
    for aid, rows in by_asset.items():
        n_frames = 3 + aid % 4
        assert sorted(i for i, _ in rows) == list(range(0, n_frames, 2))
        # digests are over the decoded frame pixels, frame-exact
        _w, _h, frames = decode_gif_frames(payloads[aid])
        for idx, sha in rows:
            assert sha == hashlib.sha256(frames[idx]).hexdigest()
    all_digests = [sha for rows in by_asset.values() for _, sha in rows]
    assert len(set(all_digests)) == len(all_digests)

    # non-GIF payloads keep the byte-chunk stub semantics
    text_assets = attach_payload(
        spark.createDataFrame([(1, "plain text payload")], "id long, t string"),
        "t", "id", modality="video",
    )
    stub = sample_video_frames(text_assets).collect()
    assert len(stub) == 1 and stub[0].frame_idx == 0
    assert stub[0].frame_sha256 == hashlib.sha256(b"plain text payload").hexdigest()


def test_resize_nearest_known_vectors_identity_and_roundtrip():
    """Exact NN resample semantics: 2x2→4x4 expands each pixel into a
    2x2 block, identity resize is byte-identical, and a clean 2x
    up-down round trip returns the original."""
    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        resize_nearest,
    )

    px = bytes([1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4, 4])  # 2x2 RGB rows [1,2],[3,4]
    big = resize_nearest(2, 2, px, 4, 4)
    rows = [big[i * 12 : (i + 1) * 12] for i in range(4)]
    assert rows[0] == rows[1] == bytes([1, 1, 1, 1, 1, 1, 2, 2, 2, 2, 2, 2])
    assert rows[2] == rows[3] == bytes([3, 3, 3, 3, 3, 3, 4, 4, 4, 4, 4, 4])
    assert resize_nearest(2, 2, px, 2, 2) == px
    assert resize_nearest(4, 4, big, 2, 2) == px
    # RGBA channel stride honored
    pxa = bytes(range(16))  # 2x2 RGBA
    assert resize_nearest(2, 2, pxa, 1, 1, channels=4) == pxa[:4]
    with pytest.raises(ValueError):
        resize_nearest(2, 2, px, 0, 4)
    with pytest.raises(ValueError):
        resize_nearest(2, 2, px[:-1], 4, 4)


def test_resize_images_decodes_and_upscale_preserves_ids(spark):
    """resize_images really decodes each payload (PNG inflate+unfilter,
    GIF LZW, BMP) before resampling: resized digests are distinct per
    asset (upscale NN is onto, so the embedded id bytes survive), and
    resizing a payload to its OWN geometry digests identically to the
    decode face (identity pin through the whole decode path)."""
    import hashlib

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        _decode_pixels,
        attach_synthetic_bmp,
        attach_synthetic_gif,
        attach_synthetic_png,
        resize_images,
    )

    ids = spark.range(0, 30).withColumnRenamed("id", "asset_id")
    for attach in (attach_synthetic_png, attach_synthetic_gif, attach_synthetic_bmp):
        assets = attach(ids, "asset_id")
        out = resize_images(assets, 32, 16).collect()
        assert len(out) == 30
        assert all((r.width, r.height) == (32, 16) for r in out)
        assert len({r.content_sha256 for r in out}) == 30

    # identity: resize to own geometry == digest of the decoded pixels
    assets = attach_synthetic_png(ids, "asset_id").collect()
    a0 = assets[0]
    w, h = a0.meta.width, a0.meta.height
    one = spark.createDataFrame(
        [(a0.asset_id, bytes(a0.payload))], "asset_id long, payload binary"
    )
    got = resize_images(one, w, h).collect()[0]
    _w, _h, _ch, px = _decode_pixels(bytes(a0.payload))
    assert got.content_sha256 == hashlib.sha256(px).hexdigest()


def test_gif_sub_block_per_block_truncation_guard():
    """ADVICE r9: the per-block truncation check in _gif_sub_blocks must
    fire on EVERY block, not just the first — a later block declaring
    more bytes than remain in the payload raises immediately (previously
    the cumulative-length comparison made the guard dead after block 1,
    and truncation was only caught one iteration later by the position
    bound)."""
    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        _gif_sub_blocks,
    )

    # well-formed: two blocks (3 + 2 bytes) then terminator
    payload = bytes([3, 1, 2, 3, 2, 9, 9, 0])
    data, pos = _gif_sub_blocks(payload, 0)
    assert data == bytes([1, 2, 3, 9, 9]) and pos == len(payload)

    # second block declares 100 bytes with only 2 remaining → ValueError
    bad = bytes([3, 1, 2, 3, 100, 9, 9])
    with pytest.raises(ValueError, match="truncated sub-block"):
        _gif_sub_blocks(bad, 0)


def test_encode_wav_numpy_range_validation_matches_list_path():
    """ADVICE r9: the numpy fast path must reject out-of-int16-range
    samples like the struct.pack list path does, instead of silently
    wrapping on astype."""
    import numpy as np
    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        encode_wav,
    )

    # in-range: both paths produce identical bytes
    vals = [0, 1000, -32768, 32767]
    assert encode_wav(vals) == encode_wav(np.array(vals, dtype=np.int64))

    # out-of-range: list path raises (struct.error subclasses vary), and
    # the array path must raise too rather than wrap
    with pytest.raises(Exception):
        encode_wav([40000])
    with pytest.raises(ValueError, match="int16 range"):
        encode_wav(np.array([40000]))
    with pytest.raises(ValueError, match="int16 range"):
        encode_wav(np.array([-40000]))
    # empty array is fine (no min/max to take)
    assert isinstance(encode_wav(np.array([], dtype=np.int64)), bytes)


def test_jpeg_flat_tile_roundtrip_bit_exact_all_regimes():
    """The fixture's exactness property, pinned directly: flat 8×8 gray
    tiles at even offsets from 128 survive the lossy round trip
    BIT-EXACTLY (DC-only blocks under the Annex K step-16 luma
    quantizer) — for 4:4:4, 4:2:2, 4:2:0, grayscale, non-multiple-of-8
    edges, and restart intervals."""
    import numpy as np

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    def tiled(w, h, levels):
        tx = -(-w // 8)
        a = np.zeros((-(-h // 8) * 8, tx * 8), dtype=np.uint8)
        for t in range(tx * -(-h // 8)):
            r, c = divmod(t, tx)
            a[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] = levels[t % len(levels)]
        return a[:h, :w]

    levels = [64, 96, 128, 160, 184, 72]  # all even offsets from 128
    for (w, h) in [(24, 16), (21, 13), (40, 22)]:
        g = tiled(w, h, levels)
        rgb = np.repeat(g[:, :, None], 3, axis=2)
        for sub in ("4:4:4", "4:2:2", "4:2:0"):
            for ri in (0, 2):
                p = encode_jpeg(w, h, rgb.tobytes(), 3, subsampling=sub,
                                restart_interval=ri)
                dw, dh, ch, px = decode_jpeg(p)
                assert (dw, dh, ch) == (w, h, 3)
                got = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)
                assert (got == rgb).all(), (w, h, sub, ri)
        # grayscale single-component frame
        pg = encode_jpeg(w, h, g.tobytes(), 1)
        dw, dh, ch, px = decode_jpeg(pg)
        assert (dw, dh, ch) == (w, h, 1) and px == g.tobytes()


def test_jpeg_smooth_gradient_error_bound():
    """Real AC path sanity: a smooth 2-D gradient (nonzero AC
    coefficients in every block) reconstructs within the small error a
    correct Q50 baseline codec produces — a broken zigzag, dequant, or
    IDCT normalization blows this bound by an order of magnitude."""
    import numpy as np

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    y, x = np.mgrid[0:24, 0:32]
    g = (x * 4 + y * 3).clip(0, 255).astype(np.uint8)
    rgb = np.repeat(g[:, :, None], 3, axis=2)
    p = encode_jpeg(32, 24, rgb.tobytes(), 3)
    _w, _h, _ch, px = decode_jpeg(p)
    got = np.frombuffer(px, dtype=np.uint8).reshape(24, 32, 3).astype(int)
    err = np.abs(got - rgb.astype(int))
    assert err.max() <= 6 and err.mean() <= 2.0


def test_jpeg_rejections_fall_back_to_stub():
    """Out-of-subset payloads raise ValueError: truncation, a baseline
    scan script inside a SOF2 frame (Ss=0/Se=63 is not a valid
    progressive scan — SOF2 itself decodes for real since r12), bad
    Huffman stream, missing EOI, non-JPEG bytes. _decode_image
    propagates the raise for the JPEG-signed ones; non-JPEG bytes take
    the deterministic stub."""
    import numpy as np
    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        _decode_image,
        _fake_decode_image,
    )

    rgb = np.full((16, 16, 3), 130, dtype=np.uint8)
    good = encode_jpeg(16, 16, rgb.tobytes(), 3)

    truncated = good[: len(good) // 2]
    progressive = bytearray(good)
    sof = good.find(b"\xff\xc0")
    assert sof > 0
    progressive[sof + 1] = 0xC2  # flip SOF0 -> SOF2 (progressive)
    no_eoi = good[:-2]
    not_jpeg = b"plain text payload"

    for bad in (truncated, bytes(progressive), no_eoi):
        with pytest.raises(ValueError):
            decode_jpeg(bad)
        with pytest.raises(ValueError):
            _decode_image(bad)
    with pytest.raises(ValueError):
        decode_jpeg(not_jpeg)
    assert _decode_image(not_jpeg) == _fake_decode_image(not_jpeg)

    # corrupt entropy data must never decode silently to wrong geometry
    garbage = bytearray(good)
    scan = good.find(b"\xff\xda")
    garbage[scan + 20] ^= 0xFF
    try:
        w, h, _ch, px = decode_jpeg(bytes(garbage))
        assert (w, h) == (16, 16) and len(px) == 16 * 16 * 3
    except ValueError:
        pass


def test_jpeg_empty_sos_body_raises_valueerror_not_indexerror():
    """ADVICE r10 (medium): an SOS segment with declared length 2 (empty
    body) must raise ValueError — the codec stub fallback catches
    ONLY ValueError, so an IndexError here would kill the executor task
    on a corrupt corpus payload instead of falling back."""
    import numpy as np
    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rgb = np.full((8, 8, 3), 130, dtype=np.uint8)
    good = encode_jpeg(8, 8, rgb.tobytes(), 3)
    scan = good.find(b"\xff\xda")
    assert scan > 0
    empty_sos = good[:scan] + b"\xff\xda\x00\x02" + b"\xff\xd9"
    with pytest.raises(ValueError):
        decode_jpeg(empty_sos)


def test_jpeg_duplicate_scan_component_raises():
    """A scan listing the same component id twice is malformed; the
    decoder must reject it (the SOF-order plane reassembly would
    otherwise leave a hole)."""
    import numpy as np
    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rgb = np.full((8, 8, 3), 130, dtype=np.uint8)
    good = bytearray(encode_jpeg(8, 8, rgb.tobytes(), 3))
    scan = good.find(b"\xff\xda")
    # SOS body: [ns, cid1, tid1, cid2, tid2, cid3, tid3, ss, se, a];
    # body starts at scan+4, so the SECOND cid sits at scan+7
    assert good[scan + 7] == 2
    good[scan + 7] = 1
    with pytest.raises(ValueError):
        decode_jpeg(bytes(good))


def test_jpeg_sequential_walk_reaches_eoi():
    """The one marker walk parses what follows a sequential frame's scan
    as it parses what precedes it: a COM segment before EOI is skipped, a
    DQT there does not change the tables the scan was coded with, and a
    second scan or an unknown marker there raises."""
    import numpy as np
    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rgb = np.full((8, 8, 3), 130, dtype=np.uint8)
    good = encode_jpeg(8, 8, rgb.tobytes(), 3)
    assert good.endswith(b"\xff\xd9")
    head, scan = good[:-2], good[good.find(b"\xff\xda") : -2]
    assert decode_jpeg(head + b"\xff\xfe\x00\x04hi\xff\xd9") == decode_jpeg(good)
    dqt = b"\xff\xdb\x00\x43\x00" + bytes([1] * 64)
    assert decode_jpeg(head + dqt + b"\xff\xd9") == decode_jpeg(good)
    for tail in (scan, b"\xff\xc8\x00\x02"):
        with pytest.raises(ValueError):
            decode_jpeg(head + tail + b"\xff\xd9")


def test_jpeg_scan_component_order_differs_from_sof():
    """ADVICE r10: a conformant baseline JPEG may list scan components
    in any order; channels must be assigned by SOF position, not scan
    position — otherwise Cb/Cr swap silently and the content digest is
    wrong instead of a stub fallback. Build a 4:4:4 stream whose scan
    order is (Cr, Cb, Y) with the module's own primitives and require
    pixel-identical output to the normal-order encoding."""
    import numpy as np

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators import jpeg as J

    w = h = 16
    rng = np.random.default_rng(7)
    rgb = (rng.integers(0, 256, (h, w, 3))).astype(np.uint8)
    normal = J.decode_jpeg(J.encode_jpeg(w, h, rgb.tobytes(), 3))

    # -- re-encode with a permuted scan (SOF stays Y,Cb,Cr = cids 1,2,3)
    import struct

    y, cb, cr = J._rgb_to_ycbcr(rgb.tobytes(), w, h)
    planes = [J._pad_edge(p, h, w) for p in (y, cb, cr)]
    comp_blocks = []
    for ci, p in enumerate(planes):
        blocks, _by, bx = J._plane_blocks(p)
        qt = J.QT_LUMA if ci == 0 else J.QT_CHROMA
        comp_blocks.append(J._quantize_blocks(blocks, qt))
    dc_l = J._canonical_codes(J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    ac_l = J._canonical_codes(J._AC_LUMA_BITS, J._AC_LUMA_VALS)
    dc_c = J._canonical_codes(J._DC_CHROMA_BITS, J._DC_CHROMA_VALS)
    ac_c = J._canonical_codes(J._AC_CHROMA_BITS, J._AC_CHROMA_VALS)
    huff = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]

    out = bytearray(b"\xff\xd8")
    out += J._seg(0xE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0))
    out += J._seg(0xDB, b"\x00" + bytes(J.QT_LUMA[J.ZIGZAG[i]] for i in range(64)))
    out += J._seg(0xDB, b"\x01" + bytes(J.QT_CHROMA[J.ZIGZAG[i]] for i in range(64)))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid in (1, 2, 3):
        sof += struct.pack(">BBB", cid, 0x11, 0 if cid == 1 else 1)
    out += J._seg(0xC0, sof)
    dht = bytes([0x00]) + bytes(J._DC_LUMA_BITS) + bytes(J._DC_LUMA_VALS)
    dht += bytes([0x10]) + bytes(J._AC_LUMA_BITS) + bytes(J._AC_LUMA_VALS)
    dht += bytes([0x01]) + bytes(J._DC_CHROMA_BITS) + bytes(J._DC_CHROMA_VALS)
    dht += bytes([0x11]) + bytes(J._AC_CHROMA_BITS) + bytes(J._AC_CHROMA_VALS)
    out += J._seg(0xC4, dht)
    order = (2, 1, 0)  # scan order Cr, Cb, Y (SOF positions)
    sos = bytes([3])
    for ci in order:
        sos += struct.pack(">BB", ci + 1, 0x00 if ci == 0 else 0x11)
    sos += bytes([0, 63, 0])
    out += J._seg(0xDA, sos)
    writer = J._BitWriter()
    preds = {0: 0, 1: 0, 2: 0}
    mcx, mcy = w // 8, h // 8
    for i in range(mcx * mcy):
        for ci in order:
            preds[ci] = J._encode_block(
                writer, comp_blocks[ci][i], preds[ci], *huff[ci]
            )
    writer.flush()
    out += writer.out + b"\xff\xd9"

    assert J.decode_jpeg(bytes(out)) == normal


def test_jpeg_decode_images_real_dimensions_and_distinct(spark):
    """Through the Spark surface: JPEG payloads take the REAL decode path
    (dims == metadata at non-trivial geometry keyed off the id) and the
    content digests are distinct per asset."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_jpeg,
        decode_images,
    )

    ids = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    assets = attach_synthetic_jpeg(ids, "doc_id")
    rows = decode_images(assets).collect()
    metas = {r.asset_id: r for r in assets.select("asset_id", "meta").collect()}
    assert len(rows) == 40
    assert len({r.content_sha256 for r in rows}) == 40
    for r in rows:
        m = metas[r.asset_id].meta
        assert (r.width, r.height) == (m.width, m.height)
        assert 20 <= r.width <= 40 and 14 <= r.height <= 24


def test_jpeg_resize_over_decoded_pixels(spark):
    """resize_images accepts JPEG payloads via _decode_pixels — identity
    resize digests the decoded RGB exactly."""
    import hashlib

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.jpeg import (
        decode_jpeg,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_jpeg,
        resize_images,
    )

    ids = spark.range(0, 4).withColumnRenamed("id", "doc_id")
    assets = attach_synthetic_jpeg(ids, "doc_id")
    a0 = assets.filter("asset_id = 0").collect()[0]
    w, h = a0.meta.width, a0.meta.height
    one = spark.createDataFrame(
        [(0, bytes(a0.payload))], "asset_id long, payload binary"
    )
    got = resize_images(one, w, h).collect()[0]
    _w, _h, _ch, px = decode_jpeg(bytes(a0.payload))
    assert got.content_sha256 == hashlib.sha256(px).hexdigest()
    assert got.channels == 3


def test_mp4_writer_walker_roundtrip_all_variants():
    """The atom walker recovers every metadata field from spec-shaped
    containers across the variant grid: mvhd/mdhd v0 and v1, 600/1000
    timescales, audio-track presence, 64-bit largesize mdat."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.mp4 import (
        encode_mp4,
        parse_mp4_meta,
    )

    for ver in (0, 1):
        for ts in (600, 1000):
            for audio in (False, True):
                for large in (False, True):
                    p = encode_mp4(
                        480,
                        movie_timescale=ts,
                        video_size=(320, 240),
                        with_audio=audio,
                        mdat=b"\x01\x02" * 8,
                        version=ver,
                        largesize_mdat=large,
                    )
                    m = parse_mp4_meta(p)
                    assert m["duration_ms"] == 480
                    assert m["timescale"] == ts
                    assert m["n_tracks"] == (2 if audio else 1)
                    assert (m["video_w"], m["video_h"]) == (320, 240)
                    assert m["has_audio"] is audio
                    assert m["brand"] == "isom"
    # audio-only container: no video size
    m = parse_mp4_meta(encode_mp4(1000, video_size=None, with_audio=True))
    assert m["n_tracks"] == 1 and m["video_w"] == 0 and m["has_audio"]


def test_mp4_rejects_malformed_atoms():
    """Truncation and structural lies raise ValueError instead of
    decoding garbage: short payloads, non-ftyp leaders, missing moov,
    atom sizes overflowing the enclosing scope, sizes below the header
    size, zero timescales."""
    import struct

    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.mp4 import (
        encode_mp4,
        parse_mp4_meta,
    )

    good = encode_mp4(480, video_size=(64, 32), mdat=b"x" * 32)

    cases = {
        "truncated": good[:30],
        "not bmff": b"RIFF" + good[4:],
        "no moov": good.replace(b"moov", b"m00v"),
        "mvhd gone": good.replace(b"mvhd", b"mvhX"),
    }
    for name, bad in cases.items():
        with pytest.raises(ValueError):
            parse_mp4_meta(bad)

    # moov claims a size past EOF
    overflow = bytearray(good)
    struct.pack_into(">I", overflow, good.find(b"moov") - 4, 2**31)
    with pytest.raises(ValueError, match="overflows"):
        parse_mp4_meta(bytes(overflow))

    # an atom size below the 8-byte header
    tiny = bytearray(good)
    struct.pack_into(">I", tiny, good.find(b"moov") - 4, 4)
    with pytest.raises(ValueError, match="below header"):
        parse_mp4_meta(bytes(tiny))

    # zero movie timescale
    zt = bytearray(good)
    mvhd_body = good.find(b"mvhd") + 4 + 4 + 8  # fullbox + creation/modification
    struct.pack_into(">I", zt, mvhd_body, 0)
    with pytest.raises(ValueError, match="zero timescale"):
        parse_mp4_meta(bytes(zt))


def test_video_metadata_spark_surface(spark):
    """Through the Spark op: per-asset container metadata matches the
    fixture's closed-form keying, including the v1 and largesize
    residue classes."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_mp4,
        video_metadata,
    )

    ids = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    rows = video_metadata(attach_synthetic_mp4(ids, "doc_id")).collect()
    assert len(rows) == 30
    for r in rows:
        aid = r.asset_id
        assert r.duration_ms == 400 + 40 * (aid % 10)
        assert r.timescale == 600 + 400 * (aid % 2)
        assert r.n_tracks == (2 if aid % 3 == 0 else 1)
        assert r.video_w == 16 * (2 + aid % 5)
        assert r.video_h == 16 * (1 + aid % 3)
        assert r.has_audio is (aid % 3 == 0)
        assert r.brand == "isom"


def test_jpeg_property_flat_tiles_roundtrip(capsys):
    """Property fuzz (hypothesis): ANY flat-tile image with even
    level-shifts round-trips bit-exactly through any subsampling regime
    — geometry, tile levels, and regime all randomized."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(9, 48),
        h=st.integers(9, 32),
        seed=st.integers(0, 2**31),
        sub=st.sampled_from(["4:4:4", "4:2:2", "4:2:0"]),
        gray_frame=st.booleans(),
    )
    def check(w, h, seed, sub, gray_frame):
        rng = np.random.RandomState(seed)
        tx, ty = -(-w // 8), -(-h // 8)
        levels = 128 + 2 * rng.randint(-32, 32, size=(ty, tx))  # even shifts
        g = np.repeat(np.repeat(levels, 8, axis=0), 8, axis=1)[:h, :w]
        g = g.astype(np.uint8)
        if gray_frame:
            dw, dh, ch, px = decode_jpeg(encode_jpeg(w, h, g.tobytes(), 1))
            assert (dw, dh, ch) == (w, h, 1) and px == g.tobytes()
        else:
            rgb = np.repeat(g[:, :, None], 3, axis=2)
            dw, dh, ch, px = decode_jpeg(
                encode_jpeg(w, h, rgb.tobytes(), 3, subsampling=sub)
            )
            got = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)
            assert (dw, dh, ch) == (w, h, 3) and (got == rgb).all()

    check()


def test_jpeg_and_mp4_truncation_fuzz_never_wrong_only_raise():
    """Fuzz the rejection contract: EVERY strict prefix of a valid
    payload either raises ValueError or (for JPEG prefixes that still
    contain a full scan — impossible for strict prefixes here) never
    returns wrong geometry. No other exception type may escape: the
    codec dispatchers catch ValueError for the stub fallback, so
    an IndexError/struct.error would kill the executor task instead."""
    import numpy as np
    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.mp4 import (
        encode_mp4,
        parse_mp4_meta,
    )

    g = np.full((16, 24, 3), 130, dtype=np.uint8)
    jp = encode_jpeg(24, 16, g.tobytes(), 3, subsampling="4:2:0")
    for cut in range(0, len(jp), 7):
        with pytest.raises(ValueError):
            decode_jpeg(jp[:cut])

    mp = encode_mp4(480, video_size=(64, 32), with_audio=True, mdat=b"x" * 16)
    for cut in range(0, len(mp), 5):
        with pytest.raises(ValueError):
            parse_mp4_meta(mp[:cut])

    # byte-flip fuzz: any single corrupted byte must either still parse
    # to SOMETHING or raise ValueError — never a non-ValueError crash
    rng = np.random.RandomState(7)
    for _ in range(200):
        pos = int(rng.randint(0, len(jp)))
        bad = bytearray(jp)
        bad[pos] ^= int(rng.randint(1, 256))
        try:
            decode_jpeg(bytes(bad))
        except ValueError:
            pass
    for _ in range(200):
        pos = int(rng.randint(0, len(mp)))
        bad = bytearray(mp)
        bad[pos] ^= int(rng.randint(1, 256))
        try:
            parse_mp4_meta(bytes(bad))
        except ValueError:
            pass


def test_jpeg_progressive_equals_baseline_decode():
    """r12 progressive (SOF2): the scan script reconstructs EXACTLY the
    quantized coefficients the baseline encoding carries, so decode of
    the progressive stream must be BYTE-IDENTICAL to decode of the
    baseline stream — across content regimes (noise exercises dense
    run/size coding; flat exercises multi-block EOBn runs; gradients
    exercise refinement correction bits inside EOB runs), geometries
    that make the non-interleaved ceil-grid differ from the MCU grid,
    all subsamplings, restart intervals, and grayscale."""
    import numpy as np

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(42)

    def imgs(w, h):
        yield rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)  # noise
        yield np.full((h, w, 3), 130, dtype=np.uint8)  # flat -> EOB runs
        gx = np.linspace(0, 255, w)[None, :, None]
        gy = np.linspace(0, 255, h)[:, None, None]
        yield np.clip(np.rint(gx * 0.6 + gy * 0.4), 0, 255).astype(
            np.uint8
        ) * np.ones((1, 1, 3), dtype=np.uint8)  # smooth gradient

    # (17, 9) at 4:2:2/4:2:0: luma ceil-grid (3 blocks/row) < MCU grid
    # (4 blocks/row) — the §A.2.2 distinction progressive AC scans hit
    for (w, h) in [(16, 16), (17, 9), (40, 24)]:
        for sub in ("4:4:4", "4:2:2", "4:2:0"):
            for ri in (0, 3):
                for img in imgs(w, h):
                    px = img.tobytes()
                    base = decode_jpeg(
                        encode_jpeg(w, h, px, 3, sub, restart_interval=ri)
                    )
                    prog = decode_jpeg(
                        encode_jpeg(
                            w, h, px, 3, sub,
                            restart_interval=ri, progressive=True,
                        )
                    )
                    assert base == prog, (w, h, sub, ri)

    g = rng.randint(0, 256, size=(32, 24), dtype=np.uint8).tobytes()
    assert decode_jpeg(encode_jpeg(24, 32, g, 1)) == decode_jpeg(
        encode_jpeg(24, 32, g, 1, progressive=True)
    )


def test_jpeg_progressive_fuzz_never_wrong_only_raise():
    """The rejection contract extends to progressive streams: every
    strict prefix raises ValueError, and any single byte flip either
    still decodes or raises ValueError — never another exception type
    (the codec stub fallback catches ValueError only)."""
    import numpy as np
    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(16, 24, 3), dtype=np.uint8)
    jp = encode_jpeg(
        24, 16, img.tobytes(), 3, subsampling="4:2:0", progressive=True
    )
    assert decode_jpeg(jp)  # the fixture itself is valid
    for cut in range(0, len(jp), 7):
        with pytest.raises(ValueError):
            decode_jpeg(jp[:cut])
    for _ in range(200):
        pos = int(rng.randint(0, len(jp)))
        bad = bytearray(jp)
        bad[pos] ^= int(rng.randint(1, 256))
        try:
            decode_jpeg(bytes(bad))
        except ValueError:
            pass


def test_mp4_sample_table_roundtrip_and_validation():
    """r11 stbl: encode_mp4(video_samples=...) populates stts/stsz/stsc/
    stco and parse_mp4_samples recovers every sample's TRUE byte range
    and decode time; inconsistent tables raise ValueError (the walker
    must never hand a wrong range to the frame sampler)."""
    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.mp4 import (
        encode_mp4,
        parse_mp4_samples,
    )

    samples = [b"one", b"two-two", b"three#3", b"4", b"five55555", b"s6"]
    p = encode_mp4(240, video_size=(32, 16), video_samples=samples,
                   samples_per_chunk=4, with_audio=True)
    st = parse_mp4_samples(p)
    assert st["timescale"] == 90000 and st["n_chunks"] == 2
    # 240ms * 90 = 21600 units / 6 samples = 3600 per sample
    assert [dt for _o, _s, dt in st["samples"]] == [3600 * i for i in range(6)]
    for (off, size, _dt), s in zip(st["samples"], samples):
        assert p[off : off + size] == s

    # skeleton stbl (no video_samples) parses as empty -> callers fall
    # back to the nominal grid
    assert parse_mp4_samples(encode_mp4(400, video_size=(8, 8)))["samples"] == []

    # audio-only container: no video track to sample
    with pytest.raises(ValueError):
        parse_mp4_samples(encode_mp4(400, video_size=None, with_audio=True))

    def mutated(tag, rel_off, new_u32):
        import struct as _s

        bad = bytearray(p)
        i = bad.index(tag)
        bad[i + rel_off : i + rel_off + 4] = _s.pack(">I", new_u32)
        return bytes(bad)

    # stts total count != stsz sample count
    with pytest.raises(ValueError):
        parse_mp4_samples(mutated(b"stts", 12, 7))
    # stsc first_chunk sequence must start at 1
    with pytest.raises(ValueError):
        parse_mp4_samples(mutated(b"stsc", 12, 2))
    # chunk offset pointing past EOF -> sample range outside file
    with pytest.raises(ValueError):
        parse_mp4_samples(mutated(b"stco", 12, len(p)))

    # r12: a final stsc run whose first_chunk exceeds the stco chunk
    # count must raise EVEN when the earlier runs alone cover n samples
    # (run1 spc 4->3 covers chunks 1-2 = 6 = n; run2 first 2->3 > 2
    # chunks used to contribute zero chunks silently via the last-run
    # clamp). Layout from the stsc tag: entry_count +8, run1 (first,
    # spc, desc) at +12/+16/+20, run2 at +24/+28/+32.
    import struct as _s2

    bad = bytearray(p)
    i = bad.index(b"stsc")
    bad[i + 16 : i + 20] = _s2.pack(">I", 3)  # run1 samples_per_chunk
    bad[i + 24 : i + 28] = _s2.pack(">I", 3)  # run2 first_chunk (> stco)
    with pytest.raises(ValueError):
        parse_mp4_samples(bytes(bad))

    # r12: span = exact sum of stts deltas (6 samples x 3600)
    assert st["span"] == 240 * 90


def test_mp4_sample_table_roundtrip_property():
    """Property fuzz (hypothesis): ANY sample layout — 1..24 samples of
    1..64 bytes, any samples_per_chunk, any representable duration —
    round-trips through encode_mp4/parse_mp4_samples with exact byte
    ranges, chunk counts, and a decode-time ramp that ends at the media
    duration (stts deltas sum exactly; the remainder-spread rule)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.mp4 import (
        encode_mp4,
        parse_mp4_samples,
    )

    @given(
        sizes=st.lists(st.integers(1, 64), min_size=1, max_size=24),
        spc=st.integers(0, 7),
        dur_ms=st.integers(1, 2000),
        audio=st.booleans(),
        large=st.booleans(),
    )
    @settings(max_examples=60, deadline=None)
    def check(sizes, spc, dur_ms, audio, large):
        if dur_ms * 90 < len(sizes):  # writer rejects sub-unit deltas
            return
        samples = [bytes([65 + (i % 26)]) * s for i, s in enumerate(sizes)]
        p = encode_mp4(
            dur_ms,
            video_size=(16, 16),
            video_samples=samples,
            samples_per_chunk=spc,
            with_audio=audio,
            largesize_mdat=large,
        )
        st_ = parse_mp4_samples(p)
        assert len(st_["samples"]) == len(samples)
        eff = spc if spc > 0 else len(samples)
        assert st_["n_chunks"] == -(-len(samples) // eff)
        for (off, size, _dt), s in zip(st_["samples"], samples):
            assert p[off : off + size] == s
        times = [dt for _o, _s, dt in st_["samples"]]
        assert times[0] == 0 and times == sorted(times)
        # stts deltas must tile the media duration exactly
        total = dur_ms * 90
        base = total // len(samples)
        assert all(
            (times[i + 1] - times[i]) in (base, base + 1)
            for i in range(len(times) - 1)
        )

    check()


def test_mp4_variable_sample_deltas_roundtrip_and_validation():
    """Explicit per-sample decode deltas (variable fps) produce genuine
    multi-entry stts runs and round-trip exactly; deltas that don't
    tile the media duration, or non-positive deltas, raise."""
    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.mp4 import (
        encode_mp4,
        parse_mp4_samples,
    )

    samples = [b"a", b"bb", b"ccc", b"dddd", b"e"]
    deltas = [4200, 3000, 4200, 3000, 3600]  # sums to 5 * 3600 = 200ms*90
    p = encode_mp4(200, video_size=(16, 16), video_samples=samples,
                   samples_per_chunk=2, video_sample_deltas=deltas)
    st = parse_mp4_samples(p)
    times = [dt for _o, _s, dt in st["samples"]]
    assert times == [0, 4200, 7200, 11400, 14400]
    for (off, size, _dt), s in zip(st["samples"], samples):
        assert p[off : off + size] == s

    with pytest.raises(ValueError):  # does not tile 200ms * 90 = 18000
        encode_mp4(200, video_size=(16, 16), video_samples=samples,
                   video_sample_deltas=[4000] * 5)
    with pytest.raises(ValueError):
        encode_mp4(200, video_size=(16, 16), video_samples=samples,
                   video_sample_deltas=[9000, 9000, 0, 0, 0])
    with pytest.raises(ValueError):
        encode_mp4(200, video_size=(16, 16), video_samples=samples,
                   video_sample_deltas=[1000] * 4)


def test_mp4_co64_chunk_offsets_parse():
    """The 64-bit chunk-offset box (co64) takes the same expansion path
    as stco — exercised by rewriting a written stco into co64 by hand
    (the writer itself never emits co64, so this pins the parser's
    only untraveled branch)."""
    import struct

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.mp4 import (
        encode_mp4,
        parse_mp4_samples,
    )

    samples = [b"aa", b"bbb", b"c", b"dddd"]
    p = encode_mp4(160, video_size=(16, 16), video_samples=samples,
                   samples_per_chunk=2)
    st = parse_mp4_samples(p)

    i = p.index(b"stco") - 4
    size = struct.unpack_from(">I", p, i)[0]
    body = p[i + 8 : i + size]
    n = struct.unpack_from(">I", body, 4)[0]
    offs = struct.unpack_from(">" + "I" * n, body, 8)
    co64_body = body[:4] + struct.pack(">I", n) + b"".join(
        struct.pack(">Q", o) for o in offs
    )
    co64 = struct.pack(">I", 8 + len(co64_body)) + b"co64" + co64_body
    delta = len(co64) - size
    q = bytearray(p[:i] + co64 + p[i + size :])
    for tag in (b"stbl", b"minf", b"mdia", b"trak", b"moov"):
        j = q.index(tag) - 4
        struct.pack_into(">I", q, j, struct.unpack_from(">I", q, j)[0] + delta)
    k = q.index(b"co64") + 4
    for m in range(n):
        o = struct.unpack_from(">Q", q, k + 8 + 8 * m)[0]
        struct.pack_into(">Q", q, k + 8 + 8 * m, o + delta)

    st2 = parse_mp4_samples(bytes(q))
    assert len(st2["samples"]) == len(samples)
    for (off, sz, _dt), s in zip(st2["samples"], samples):
        assert bytes(q)[off : off + sz] == s
    assert [x[2] for x in st2["samples"]] == [x[2] for x in st["samples"]]


def test_mp4_sample_table_fuzz_never_wrong_only_raise():
    """The r10 fuzz contract extended to the new atoms: every strict
    prefix and 200 random byte flips of a stbl-POPULATED container must
    either parse or raise ValueError — never IndexError/struct.error
    (the codec fallback catches only ValueError)."""
    import numpy as np
    import pytest

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.mp4 import (
        encode_mp4,
        parse_mp4_samples,
    )

    mp = encode_mp4(
        280,
        video_size=(48, 32),
        video_samples=[b"abc", b"defgh", b"i", b"jklm", b"nopqrs", b"t", b"uv"],
        samples_per_chunk=3,
        with_audio=True,
    )
    for cut in range(0, len(mp), 5):
        with pytest.raises(ValueError):
            parse_mp4_samples(mp[:cut])
    rng = np.random.RandomState(11)
    for _ in range(200):
        pos = int(rng.randint(0, len(mp)))
        bad = bytearray(mp)
        bad[pos] ^= int(rng.randint(1, 256))
        try:
            parse_mp4_samples(bytes(bad))
        except ValueError:
            pass


def test_sample_video_frames_uses_true_sample_ranges(spark):
    """The frame sampler digests each sampled frame's stbl byte range —
    sha256(sample bytes) for the closed-form ASCII fixture samples, NOT
    an even mdat split (sizes vary 1-3x so the two disagree)."""
    import hashlib

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_mp4,
        mp4_fixture_samples,
        sample_video_frames,
    )

    ids = spark.range(0, 25).withColumnRenamed("id", "doc_id")
    frames = sample_video_frames(
        attach_synthetic_mp4(ids, "doc_id"), every_n_frames=2
    ).collect()
    got = {(r.asset_id, r.frame_idx): r.frame_sha256 for r in frames}
    want = {}
    for aid in range(25):
        samples = mp4_fixture_samples(aid)
        for f in range(0, len(samples), 2):
            want[(aid, f)] = hashlib.sha256(samples[f]).hexdigest()
    assert got == want


def test_mjpeg_in_mp4_decodes_real_pixels(spark):
    """MJPEG-in-MP4 (r11): sampled frame digests cover the DECODED RGB
    pixels of each JPEG sample — the flat fixture tiles round-trip
    bit-exactly, so the expected digest is sha256 of the closed-form
    level byte repeated w*h*3 times."""
    import hashlib

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        MJPEG_H,
        MJPEG_W,
        attach_synthetic_mjpeg_mp4,
        mjpeg_frame_level,
        sample_video_frames,
    )

    ids = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    frames = sample_video_frames(
        attach_synthetic_mjpeg_mp4(ids, "doc_id"), every_n_frames=2
    ).collect()
    got = {(r.asset_id, r.frame_idx): r.frame_sha256 for r in frames}
    want = {}
    for aid in range(20):
        for f in range(0, 3 + aid % 4, 2):
            px = bytes([mjpeg_frame_level(aid, f)]) * (MJPEG_W * MJPEG_H * 3)
            want[(aid, f)] = hashlib.sha256(px).hexdigest()
    assert got == want


def test_video_sample_stats_spark_surface(spark):
    """video_sample_stats recovers the fixture's closed-form sample
    counts, chunking and byte totals for every id."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_mp4,
        mp4_fixture_samples,
        video_sample_stats,
    )

    ids = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    rows = video_sample_stats(attach_synthetic_mp4(ids, "doc_id")).collect()
    assert len(rows) == 30
    for r in rows:
        aid = r.asset_id
        sizes = [len(s) for s in mp4_fixture_samples(aid)]
        spc = 1 + aid % 4
        assert r.n_samples == len(sizes)
        assert r.n_chunks == -(-len(sizes) // spc)
        assert r.sum_sample_bytes == sum(sizes)
        assert r.max_sample_bytes == max(sizes)
        assert r.duration_consistent


def test_video_sample_stats_flags_underspanning_stts(spark):
    """r12 hardening: duration_consistent must go FALSE when the stts
    deltas UNDER-span the mdhd duration (all deltas still positive) —
    the exact drift the old last-delta>0 check let through."""
    import struct

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.mp4 import (
        encode_mp4,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        video_sample_stats,
    )

    samples = [b"a" * 8] * 6  # 240ms * 90 = 21600 units -> delta 3600
    p = bytearray(encode_mp4(240, video_size=(16, 16), video_samples=samples))
    i = p.index(b"stts")
    # single run (count=6, delta=3600) at tag+12/+16; shrink the delta
    assert struct.unpack_from(">II", p, i + 12) == (6, 3600)
    p[i + 16 : i + 20] = struct.pack(">I", 3599)

    df = spark.createDataFrame(
        [(0, bytes(encode_mp4(240, video_size=(16, 16), video_samples=samples))),
         (1, bytes(p))],
        "asset_id long, payload binary",
    )
    got = {r.asset_id: r.duration_consistent
           for r in video_sample_stats(df).collect()}
    assert got == {0: True, 1: False}


def test_segment_audio_by_energy_boundaries(spark):
    """Run-length and threshold edge cases, plus the Spark surface: the
    segmenter's active test is the exact integer sum(|x|) >= thr*frame
    (== at the boundary is ACTIVE), leading/trailing runs close
    correctly, an all-silent payload yields zero rows, and a trailing
    partial frame is ignored."""
    import numpy as np

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        encode_wav,
        segment_audio_by_energy,
    )

    F = 10  # frame_samples for the test
    rows = []
    # asset 1: silence(2f) tone(3f) silence(1f) tone(2f) -> two segments
    s1 = [0] * (2 * F) + [500] * (3 * F) + [0] * F + [500] * (2 * F)
    rows.append((1, encode_wav(s1, rate=1000)))
    # asset 2: ACTIVE from frame 0 and active at the exact threshold
    # (mean |x| == 100), plus a trailing partial frame that must be
    # ignored even though it is loud
    s2 = [100] * (2 * F) + [0] * F + [30000] * (F // 2)
    rows.append((2, encode_wav(s2, rate=1000)))
    # asset 3: all silent -> no rows
    rows.append((3, encode_wav([0] * (3 * F), rate=1000)))
    # asset 4: just below threshold everywhere -> no rows
    rows.append((4, encode_wav([99] * (3 * F), rate=1000)))

    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    got = {}
    for r in segment_audio_by_energy(
        df, frame_samples=F, min_frame_abs_mean=100
    ).collect():
        got.setdefault(r.asset_id, []).append(
            (r.seg_idx, r.start_ms, r.end_ms, r.n_frames)
        )
    # rate 1000 Hz, 10-sample frames -> 10 ms per frame
    assert sorted(got[1]) == [(0, 20, 50, 3), (1, 60, 80, 2)]
    assert sorted(got[2]) == [(0, 0, 20, 2)]
    assert 3 not in got and 4 not in got


def test_segment_audio_fixture_matches_closed_form(spark):
    """attach_synthetic_wav_bursts + segment_audio_by_energy recover the
    fixture's closed-form burst structure for every id."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_wav_bursts,
        segment_audio_by_energy,
    )

    ids = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    segs = segment_audio_by_energy(
        attach_synthetic_wav_bursts(ids, "doc_id")
    ).collect()
    per = {}
    for r in segs:
        per.setdefault(r.asset_id, []).append(r)
    for aid in range(30):
        n, L = 2 + aid % 3, 1 + aid % 4
        mine = sorted(per[aid], key=lambda r: r.seg_idx)
        assert len(mine) == n
        for i, r in enumerate(mine):
            assert r.start_ms == (2 + i * (L + 2)) * 25
            assert r.end_ms == r.start_ms + L * 25
            assert r.n_frames == L


def test_select_keyframes_structure_and_digests(spark):
    """Keyframe selection: consecutive-duplicate frames collapse, the
    survivors sit at multiples of the fixture's repeat factor, the
    per-asset keyframe digests are pairwise DISTINCT (content really
    changed), and an all-identical-frame video keeps exactly frame 0."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        GIF_FIXTURE_PALETTE,
        attach_synthetic_gif_video_repeats,
        encode_gif_animated,
        select_keyframes,
    )

    ids = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    rows = select_keyframes(
        attach_synthetic_gif_video_repeats(ids, "doc_id")
    ).collect()
    per = {}
    for r in rows:
        per.setdefault(r.asset_id, []).append(r)
    for aid in range(24):
        F, r_ = 4 + aid % 5, 1 + aid % 3
        mine = sorted(per[aid], key=lambda x: x.keyframe_idx)
        assert [x.frame_idx for x in mine] == [
            k * r_ for k in range((F + r_ - 1) // r_)
        ]
        shas = [x.frame_sha256 for x in mine]
        assert len(set(shas)) == len(shas)

    # static video: 5 identical frames -> exactly one keyframe
    frame = bytes([1] * 12)
    payload = encode_gif_animated(4, 3, GIF_FIXTURE_PALETTE, [frame] * 5)
    one = spark.createDataFrame(
        [(99, payload)], "asset_id long, payload binary"
    )
    got = select_keyframes(one).collect()
    assert len(got) == 1 and got[0].frame_idx == 0 and got[0].keyframe_idx == 0


def test_sample_video_frames_mp4_time_aligned(spark):
    """MP4 payloads sample on the REAL parsed duration (nominal 25 fps
    grid, every 2nd point), digests cover the frame's even mdat
    byte-range, and a malformed container raises."""
    import hashlib

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.mp4 import (
        encode_mp4,
        mp4_mdat_bytes,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        sample_video_frames,
    )

    mdat = bytes(range(200))
    p = encode_mp4(400, video_size=(32, 16), mdat=mdat)  # 10 nominal frames
    assert mp4_mdat_bytes(p) == mdat
    df = spark.createDataFrame([(7, p)], "asset_id long, payload binary")
    rows = sorted(
        sample_video_frames(df, every_n_frames=2).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in rows] == [0, 2, 4, 6, 8]
    for r in rows:
        lo, hi = 200 * r.frame_idx // 10, 200 * (r.frame_idx + 1) // 10
        assert r.frame_sha256 == hashlib.sha256(mdat[lo:hi]).hexdigest()

    # corrupt container -> the ValueError fails the job (no stub digests)
    bad = p[: len(p) // 2]
    df_bad = spark.createDataFrame([(8, bad)], "asset_id long, payload binary")
    with pytest.raises(Exception, match="ValueError"):
        sample_video_frames(df_bad, every_n_bytes=64).collect()


def _truncated_gif() -> bytes:
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        GIF_FIXTURE_PALETTE,
        encode_gif_animated,
    )

    gif = encode_gif_animated(4, 3, GIF_FIXTURE_PALETTE, [bytes(range(12))] * 3)
    return gif[: len(gif) // 2]


def _mjpeg_mp4_with_corrupt_sample() -> bytes:
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.jpeg import (
        encode_jpeg,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.mp4 import (
        encode_mp4,
    )

    good = encode_jpeg(16, 16, bytes([90]) * (16 * 16 * 3), 3)
    bad = good[:2] + bytes(len(good) - 2)  # SOI, then no valid marker
    return encode_mp4(120, video_size=(16, 16), video_samples=[bad, good, good])


@pytest.mark.parametrize(
    "payload",
    [_truncated_gif(), _mjpeg_mp4_with_corrupt_sample()],
    ids=["gif", "mjpeg_mp4"],
)
def test_sample_video_frames_raises_on_corrupt_signed_payload(spark, payload):
    """A signed video payload that its decoder rejects fails the job
    instead of getting the byte-chunk or coded-byte stub digests."""
    df = spark.createDataFrame([(1, payload)], "asset_id long, payload binary")
    with pytest.raises(Exception, match="ValueError"):
        sample_video_frames(df).collect()


#: sha256 over each ``attach_synthetic_*`` fixture's rows for the sf0.001
#: documents, sorted by asset_id: per row the repr of (asset_id, modality,
#: meta tuple or None) followed by the payload's own sha256.
FIXTURE_SHA256 = {
    "bmp": "311ba07809d93a44bbab8107f107e06863f07516b6180ee9e602b09c14e795fa",
    "png": "b94fac607f94d91921686b3074c792c708fbdae9788c8f813e5ceaae6e5f3ebe",
    "gif": "9c4638af3980e6453debdca513cd6a9c3ccb9c013cdb773bc39bb26368e9f2aa",
    "jpeg": "8cf69870a382065f1ff29581f3b536da215e38d011efa4c55ef3b3b28e8a3539",
    "progressive_jpeg": "e8328fc7829816088488b17051e32435e71a72fe8db332e9385676b9959488a8",
    "gif_video": "4b8eb74a5b003bf8f0171ff6db35b224d42bafa316caa110225206ae78e871c7",
    "gif_video_repeats": "9fa19c07e054984a87c4c9a7b329bebd05e9389623e14144766dc3c8e582a5e8",
    "wav": "d939cdda49429e6e3e21dbab98e9c3f88c5078136033a33edbd688ea882d325f",
    "wav_bursts": "2b77ca048230798da144ec1514ed2e53c2d28b6882b5ddbe7d98a2d893848ef5",
    "mp4": "af6f6aa4a7e2cc516c3d5fcc715068f01be6d258bc825a4444fa9d5a20c74d48",
    "mjpeg_mp4": "c1c25246e81bc1c8ec1dc35bf4dd6135ccc1d3bcb55112175870ed1bfdefccb1",
    "h264_mp4": "3edf99e84e950cf4a26c86be1eba8cdf2ef5e4db1c6f87b249735f108bc8b1c0",
    "h264_annexb": "8980a98bb7c26fb2e1ede989c6ffab4603be7a45a2c6e4c6cc797bfbbd74363e",
}


@pytest.mark.parametrize("name", sorted(FIXTURE_SHA256))
def test_fixture_bytes_pinned(spark, name):
    """Every synthetic fixture reproduces its pinned bytes exactly: the
    oracle faces check decoded content, this checks the payloads and
    metadata the fixtures emit."""
    import hashlib

    from analysis_of_flight_delay_data_by_mapreduce_spark.operators import (
        multimodal,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources import (
        read_parquet_table,
    )
    from conftest import SF_DIR

    docs = read_parquet_table(spark, SF_DIR, "documents").select("doc_id")
    assets = getattr(multimodal, f"attach_synthetic_{name}")(docs, "doc_id")
    h = hashlib.sha256()
    for r in sorted(assets.collect(), key=lambda r: r.asset_id):
        meta = tuple(r["meta"]) if "meta" in assets.columns else None
        h.update(repr((r.asset_id, r.modality, meta)).encode())
        h.update(hashlib.sha256(r.payload).digest())
    assert h.hexdigest() == FIXTURE_SHA256[name]


def test_null_payload_fails_loudly(spark):
    """A NULL payload raises instead of decoding or sampling as empty
    bytes (which would emit a plausible sha256(b"") digest)."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.schema import (
        MULTIMODAL_ASSET,
    )

    assets = spark.createDataFrame(
        [(1, "image", b"hello", None), (2, "image", None, None)], MULTIMODAL_ASSET
    )
    for op in (sample_video_frames, decode_images):
        with pytest.raises(Exception, match="NULL payload"):
            op(assets).collect()


def test_decode_images_fails_loudly_on_corrupt_signed_payload(spark):
    """A payload with a PNG signature that does not decode fails the
    decode_images job instead of getting the stub's plausible digest."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        encode_png,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.schema import (
        MULTIMODAL_ASSET,
    )

    truncated = encode_png(4, 4, bytes(48), 3)[:20]
    assets = spark.createDataFrame(
        [(1, "image", b"hello", None), (2, "image", truncated, None)],
        MULTIMODAL_ASSET,
    )
    with pytest.raises(Exception, match="ValueError"):
        decode_images(assets).collect()


def _docs(spark):
    from analysis_of_flight_delay_data_by_mapreduce_spark.sources import (
        read_parquet_table,
    )
    from conftest import SF_DIR

    return read_parquet_table(spark, SF_DIR, "documents").select("doc_id")


_FIXTURE_OPS = {
    "png_decode": ("attach_synthetic_png", "decode_images"),
    "mp4_meta": ("attach_synthetic_mp4", "video_metadata"),
}


@pytest.mark.parametrize("chain", sorted(_FIXTURE_OPS))
def test_codec_chain_crosses_into_python_once(spark, chain):
    """A fixture → operator chain plans one MapInArrow node; over a
    persisted fixture it plans two and reads the cache."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators import (
        multimodal,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.plans.inspect import (
        plan_text,
    )

    fixture, op = (getattr(multimodal, n) for n in _FIXTURE_OPS[chain])
    fused = plan_text(op(fixture(_docs(spark), "doc_id")), "simple")
    assert fused.count("MapInArrow ") == 1

    cached = fixture(_docs(spark), "doc_id").persist()
    try:
        unfused = plan_text(op(cached), "simple")
        assert unfused.count("MapInArrow ") == 2
        assert "InMemoryRelation" in unfused
    finally:
        cached.unpersist()


@pytest.mark.parametrize("codec", ["bmp", "png", "gif", "jpeg"])
def test_fused_decode_equals_unfused(spark, codec):
    """decode_images over a fixture gives the same rows fused into the
    fixture's mapInArrow as over the persisted (unfused) fixture."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators import (
        multimodal,
    )

    fixture = getattr(multimodal, f"attach_synthetic_{codec}")
    fused = decode_images(fixture(_docs(spark), "doc_id")).collect()
    cached = fixture(_docs(spark), "doc_id").persist()
    try:
        unfused = decode_images(cached).collect()
    finally:
        cached.unpersist()
    assert len(fused) == _docs(spark).count()
    assert sorted(fused) == sorted(unfused)


def test_null_payload_mid_chain_fails_loudly(spark):
    """A first stage that emits a NULL payload makes the decoder stage
    raise, as a NULL read from a table does."""
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        _map_arrow,
    )
    from analysis_of_flight_delay_data_by_mapreduce_spark.schema import (
        MULTIMODAL_ASSET,
    )

    ids = spark.range(0, 4).withColumnRenamed("id", "asset_id")
    assets = _map_arrow(
        ids,
        ["asset_id"],
        lambda aid: (aid, "image", None if aid == 2 else b"hello", None),
        MULTIMODAL_ASSET,
    )
    with pytest.raises(Exception, match="ValueError: 1 NULL payload"):
        decode_images(assets).collect()


def test_map_arrow_parses_each_ddl_schema_once(spark, monkeypatch):
    """A second build of the same decode op parses no DDL schema string:
    ``_map_arrow`` parses each one (a JVM round trip) once per process."""
    from pyspark.sql.types import StructType

    parse = StructType.fromDDL
    parsed = []

    def counting(ddl):
        parsed.append(ddl)
        return parse(ddl)

    assets = _assets(spark)
    monkeypatch.setattr(StructType, "fromDDL", staticmethod(counting))
    decode_images(assets)
    parsed.clear()
    decode_images(assets)
    assert parsed == []
