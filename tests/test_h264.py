"""H.264 metadata codec (operators/h264.py) + its MP4/avc1 integration.

Covers: Exp-Golomb bit I/O, emulation prevention (§7.4.1 vectors), SPS
round trips including frame-cropping arithmetic and the high-profile
extension block, PPS, lite slice headers, Annex-B and length-prefixed
framing, avcC records, the stss sync-sample box, and the house fuzz
contract (strict prefixes + byte flips raise ValueError only).
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from analysis_of_flight_delay_data_by_mapreduce_spark.operators import h264
from analysis_of_flight_delay_data_by_mapreduce_spark.operators.h264 import (
    _BitReader,
    _BitWriter,
)
from analysis_of_flight_delay_data_by_mapreduce_spark.operators.mp4 import (
    encode_mp4,
    make_avc1_entry,
    parse_mp4_samples,
)


# ---------------------------------------------------------------------------
# Exp-Golomb
# ---------------------------------------------------------------------------


@given(st.lists(st.integers(min_value=0, max_value=2**31 - 2), max_size=20))
@settings(max_examples=60, deadline=None)
def test_ue_round_trip(values):
    w = _BitWriter()
    for v in values:
        w.ue(v)
    w.trailing()
    r = _BitReader(w.tobytes())
    assert [r.ue() for _ in values] == values
    r.check_trailing()


@given(st.lists(st.integers(min_value=-(2**30), max_value=2**30), max_size=20))
@settings(max_examples=60, deadline=None)
def test_se_round_trip(values):
    w = _BitWriter()
    for v in values:
        w.se(v)
    w.trailing()
    r = _BitReader(w.tobytes())
    assert [r.se() for _ in values] == values
    r.check_trailing()


def test_ue_known_vectors():
    """§9.1 Table 9-1: codeNum 0..5 -> 1, 010, 011, 00100, 00101, 00110."""
    for v, bits in [(0, "1"), (1, "010"), (2, "011"), (3, "00100"),
                    (4, "00101"), (5, "00110")]:
        w = _BitWriter()
        w.ue(v)
        assert "".join(str(b) for b in w._bits) == bits


def test_bitreader_truncation_raises():
    r = _BitReader(b"\x00")
    with pytest.raises(ValueError):
        r.ue()  # 8 zero prefix bits then overrun


# ---------------------------------------------------------------------------
# Emulation prevention
# ---------------------------------------------------------------------------


def test_emulation_prevention_vectors():
    # §7.4.1: 00 00 00 -> 00 00 03 00, 00 00 01 -> 00 00 03 01, etc.
    assert h264.rbsp_to_payload(b"\x00\x00\x00") == b"\x00\x00\x03\x00"
    assert h264.rbsp_to_payload(b"\x00\x00\x01") == b"\x00\x00\x03\x01"
    assert h264.rbsp_to_payload(b"\x00\x00\x02") == b"\x00\x00\x03\x02"
    assert h264.rbsp_to_payload(b"\x00\x00\x03") == b"\x00\x00\x03\x03"
    assert h264.rbsp_to_payload(b"\x00\x00\x04") == b"\x00\x00\x04"
    # a run of zeros re-arms after each insertion
    assert h264.rbsp_to_payload(b"\x00" * 5) == b"\x00\x00\x03\x00\x00\x03\x00"


@given(st.binary(max_size=64))
@settings(max_examples=120, deadline=None)
def test_emulation_round_trip(rbsp):
    assert h264.payload_to_rbsp(h264.rbsp_to_payload(rbsp)) == rbsp


def test_payload_with_start_code_emulation_raises():
    with pytest.raises(ValueError):
        h264.payload_to_rbsp(b"a\x00\x00\x01b")
    with pytest.raises(ValueError):
        h264.payload_to_rbsp(b"\x00\x00\x03\xff")  # stray EPB


# ---------------------------------------------------------------------------
# SPS / PPS
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "w,h,profile",
    [
        (1920, 1080, 66),  # 1080 = 68*16 - 8 -> crop_bottom 4 units
        (1280, 720, 77),  # no cropping
        (640, 360, 100),  # high profile, crop_bottom 4
        (168, 98, 66),  # both axes cropped
        (176, 144, 100),  # QCIF, no crop, high branch
        (3840, 2160, 100),
    ],
)
def test_sps_round_trip(w, h, profile):
    d = h264.parse_sps(h264.encode_sps(w, h, profile_idc=profile, level_idc=42))
    assert (d["width"], d["height"]) == (w, h)
    assert d["profile_idc"] == profile and d["level_idc"] == 42
    assert d["chroma_format_idc"] == 1 and d["frame_mbs_only"]
    assert not d["vui_present"]


def test_sps_crop_arithmetic_hand_checked():
    """1920x1080: PicWidthInMbs 120, map units 68, frame_crop_bottom = 4
    chroma units (68*16 - 1080 = 8 luma rows, CropUnitY = 2)."""
    nal = h264.encode_sps(1920, 1080)
    d = h264.parse_sps(nal)
    assert d["height"] == 1080
    # flip the cropping by re-encoding at the uncropped geometry
    assert h264.parse_sps(h264.encode_sps(1920, 1088))["height"] == 1088


def test_sps_rejects_bad_geometry():
    with pytest.raises(ValueError):
        h264.encode_sps(167, 96)  # odd width unrepresentable in 4:2:0 crop
    with pytest.raises(ValueError):
        h264.encode_sps(0, 96)


def test_sps_rejects_non_sps_nal():
    with pytest.raises(ValueError):
        h264.parse_sps(h264.encode_pps())


def test_pps_round_trip_and_strictness():
    d = h264.parse_pps(h264.encode_pps(pps_id=3, sps_id=1))
    assert d == {"pps_id": 3, "sps_id": 1, "cabac": False}
    with pytest.raises(ValueError):
        h264.parse_pps(h264.encode_sps(64, 64))


# ---------------------------------------------------------------------------
# Slices + census
# ---------------------------------------------------------------------------


def test_slice_header_round_trip():
    for f in range(6):
        idr = f % 3 == 0
        hd = h264.parse_slice_header(h264.encode_slice(idr, f, b"Q" * 9))
        assert hd["idr"] == idr
        assert hd["first_mb_in_slice"] == 0 and hd["pps_id"] == 0
        assert hd["slice_type"] == (2 if idr else 0)  # I / P canonical


def test_idr_slice_type_enforced():
    with pytest.raises(ValueError):
        h264.encode_slice(True, 0, b"x", slice_type=0)  # P in an IDR NAL
    # a non-IDR NAL may carry any slice type
    h264.encode_slice(False, 0, b"x", slice_type=2)


def test_annexb_round_trip_and_census():
    sps = h264.encode_sps(320, 240)
    pps = h264.encode_pps()
    slices = [h264.encode_slice(f % 2 == 0, f, bytes([70 + f]) * 5)
              for f in range(5)]
    nals = h264.split_annexb(h264.encode_annexb([sps, pps, *slices]))
    assert nals == [sps, pps, *slices]
    c = h264.nal_census(nals)
    assert c["counts"][h264.NAL_SPS] == 1
    assert c["counts"][h264.NAL_SLICE_IDR] == 3
    assert c["n_pictures"] == 5
    assert c["idr_positions"] == [0, 2, 4]


def test_annexb_three_byte_start_codes():
    sps = h264.encode_sps(64, 64)
    pps = h264.encode_pps()
    stream = b"\x00\x00\x01" + sps + b"\x00\x00\x01" + pps
    assert h264.split_annexb(stream) == [sps, pps]


def test_annexb_garbage_lead_raises():
    with pytest.raises(ValueError):
        h264.split_annexb(b"junk\x00\x00\x01" + h264.encode_pps())
    with pytest.raises(ValueError):
        h264.split_annexb(b"no start code at all")


def test_length_prefixed_round_trip_all_sizes():
    nals = [h264.encode_slice(True, 0, b"abc"), h264.encode_pps()]
    for ls in (1, 2, 4):
        sample = h264.encode_length_prefixed(nals, ls)
        assert h264.split_length_prefixed(sample, ls) == nals
    with pytest.raises(ValueError):
        h264.split_length_prefixed(b"\x00\x00\x00\x05abc")  # short body
    with pytest.raises(ValueError):
        h264.split_length_prefixed(b"", 4)


# ---------------------------------------------------------------------------
# avcC
# ---------------------------------------------------------------------------


def test_avcc_round_trip():
    sps = h264.encode_sps(168, 98, profile_idc=100, level_idc=31)
    pps = h264.encode_pps()
    for ls in (1, 2, 4):
        d = h264.parse_avcc(h264.encode_avcc([sps], [pps], ls))
        assert d["length_size"] == ls
        assert d["sps"] == [sps] and d["pps"] == [pps]
        assert (d["width"], d["height"]) == (168, 98)
        assert d["profile_idc"] == 100 and d["level_idc"] == 31


def test_avcc_profile_level_must_match_sps():
    sps = h264.encode_sps(64, 64, profile_idc=66, level_idc=30)
    rec = bytearray(h264.encode_avcc([sps], [h264.encode_pps()]))
    rec[3] = 51  # claim level 5.1 while the SPS says 3.0
    with pytest.raises(ValueError):
        h264.parse_avcc(bytes(rec))


def test_avcc_requires_parameter_sets():
    with pytest.raises(ValueError):
        h264.encode_avcc([], [h264.encode_pps()])
    with pytest.raises(ValueError):
        h264.encode_avcc([h264.encode_sps(64, 64)], [])


# ---------------------------------------------------------------------------
# MP4 integration: avc1 sample entry + stss
# ---------------------------------------------------------------------------


def _h264_container(n=5, gop=2, w=168, h=98):
    sps = h264.encode_sps(w, h)
    pps = h264.encode_pps()
    frames = [
        h264.encode_length_prefixed(
            [h264.encode_slice(f % gop == 0, f, bytes([65 + f]) * (4 + f))]
        )
        for f in range(n)
    ]
    entry = make_avc1_entry(w, h, h264.encode_avcc([sps], [pps]))
    return encode_mp4(
        40 * n,
        video_size=(w, h),
        video_samples=frames,
        samples_per_chunk=2,
        video_sample_entry=entry,
        sync_samples=[f + 1 for f in range(n) if f % gop == 0],
    ), frames


def test_mp4_avc1_stss_round_trip():
    mp, frames = _h264_container()
    st = parse_mp4_samples(mp)
    assert st["codec"] == "avc1"
    assert st["sync"] == [0, 2, 4]
    cfg = h264.parse_avcc(st["avcc"])
    assert (cfg["width"], cfg["height"]) == (168, 98)
    for (off, sz, _t), fr in zip(st["samples"], frames):
        assert mp[off : off + sz] == fr
        nal = h264.split_length_prefixed(mp[off : off + sz])[0]
        h264.parse_slice_header(nal)


def test_mp4_without_entry_keeps_none_fields():
    mp = encode_mp4(200, video_size=(32, 32), video_samples=[b"abcd"] * 5)
    st = parse_mp4_samples(mp)
    assert st["codec"] is None and st["avcc"] is None and st["sync"] is None


def test_mp4_bad_stss_raises():
    with pytest.raises(ValueError):
        encode_mp4(
            200,
            video_size=(32, 32),
            video_samples=[b"abcd"] * 5,
            sync_samples=[1, 1],  # not strictly increasing
        )
    with pytest.raises(ValueError):
        encode_mp4(
            200,
            video_size=(32, 32),
            video_samples=[b"abcd"] * 5,
            sync_samples=[6],  # beyond sample count
        )
    with pytest.raises(ValueError):
        encode_mp4(200, video_size=(32, 32), sync_samples=[1])  # no samples


def test_mp4_ctts_round_trip():
    offs = [0, 4000, 4000, 0, 7200]
    mp = encode_mp4(
        200,
        video_size=(32, 32),
        video_samples=[b"abcd"] * 5,
        video_ctts=offs,
    )
    st = parse_mp4_samples(mp)
    assert st["ctts"] == offs
    # pts = dts + offset; dts is the uniform 3600-unit grid
    assert [d + o for (_, _, d), o in zip(st["samples"], st["ctts"])] == [
        3600 * f + o for f, o in enumerate(offs)
    ]


def test_mp4_ctts_version1_signed_offsets():
    mp = bytearray(
        encode_mp4(
            200,
            video_size=(32, 32),
            video_samples=[b"abcd"] * 5,
            video_ctts=[10] * 5,  # one RLE run: count 5, offset 10
        )
    )
    i = mp.find(b"ctts")
    assert i > 0
    mp[i + 4] = 1  # version 0 -> 1
    # offset 10 -> -16 (0xFFFFFFF0) in the single run entry
    mp[i + 16 : i + 20] = (0xFFFFFFF0).to_bytes(4, "big")
    st = parse_mp4_samples(bytes(mp))
    assert st["ctts"] == [-16] * 5
    mp[i + 4] = 2  # any other version is rejected
    with pytest.raises(ValueError):
        parse_mp4_samples(bytes(mp))


def test_mp4_ctts_validation():
    with pytest.raises(ValueError):
        encode_mp4(
            200,
            video_size=(32, 32),
            video_samples=[b"abcd"] * 5,
            video_ctts=[0] * 4,  # wrong sample count
        )
    with pytest.raises(ValueError):
        encode_mp4(
            200,
            video_size=(32, 32),
            video_samples=[b"abcd"] * 5,
            video_ctts=[0, 0, -1, 0, 0],  # v0 offsets are unsigned
        )
    mp = bytearray(
        encode_mp4(
            200,
            video_size=(32, 32),
            video_samples=[b"abcd"] * 5,
            video_ctts=[0, 0, 7, 7, 7],
        )
    )
    i = mp.find(b"ctts")
    # shrink the declared run count: expanded offsets stop covering n
    mp[i + 8 : i + 12] = (1).to_bytes(4, "big")
    with pytest.raises(ValueError):
        parse_mp4_samples(bytes(mp))


def test_mp4_elst_round_trip_and_validation():
    mp = encode_mp4(
        200,
        video_size=(32, 32),
        video_samples=[b"abcd"] * 5,
        video_ctts=[4000, 0, 4000, 0, 4000],
        video_edit_media_time=3600,
    )
    st = parse_mp4_samples(mp)
    assert st["edit_offset"] == 3600
    # delayed-start form: an empty edit (media_time -1) precedes the
    # normal one — patch entry_count to 2 and prepend the empty entry
    i = mp.find(b"elst")
    body = bytearray(mp)
    empty = struct.pack(">IiHH", 100, -1, 1, 0)
    normal = body[i + 12 : i + 24]
    patched = (
        body[: i + 8]
        + struct.pack(">I", 2)
        + empty
        + normal
        + body[i + 24 :]
    )
    # fix the two enclosing box sizes (elst grew by 12: elst, edts)
    patched = bytearray(patched)
    for tag in (b"elst", b"edts", b"trak", b"moov"):
        j = patched.find(tag)
        old = struct.unpack_from(">I", patched, j - 4)[0]
        struct.pack_into(">I", patched, j - 4, old + 12)
    st2 = parse_mp4_samples(bytes(patched))
    assert st2["edit_offset"] == 3600
    with pytest.raises(ValueError):
        encode_mp4(
            200,
            video_size=(32, 32),
            video_samples=[b"abcd"] * 5,
            video_edit_media_time=-1,
        )


def test_video_frame_times(spark):
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_h264_mp4,
        video_frame_times,
    )

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    rows = video_frame_times(
        attach_synthetic_h264_mp4(docs, "doc_id")
    ).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(r)
    reordered = 0
    for aid in range(12):
        n, gop = 4 + aid % 3, 2 + aid % 2
        rs = sorted(by_asset[aid], key=lambda r: r["frame_idx"])
        assert [r["dts"] for r in rs] == [3600 * f for f in range(n)]
        # odd ids carry the normalize-first-pts elst (media_time 3600)
        assert [r["pts"] for r in rs] == [
            3600 * f + 4000 * ((aid + f) % 2) - 3600 * (aid % 2)
            for f in range(n)
        ]
        assert min(r["pts"] for r in rs) in (0, 400)
        assert [r["keyframe"] for r in rs] == [
            f % gop == 0 for f in range(n)
        ]
        pts = [r["pts"] for r in rs]
        if pts != sorted(pts):
            reordered += 1
    # the alternating ctts offsets really reorder presentation for the
    # ids whose offset pattern starts high (odd aid: 4000, 0, ...)
    assert reordered >= 6


def test_h264_fuzz_never_wrong_only_raise():
    """House fuzz contract: strict prefixes and byte flips of NAL units
    and containers raise ValueError only (the codec fallbacks
    catch nothing broader)."""
    import numpy as np

    sps = h264.encode_sps(184, 106, profile_idc=100)
    mp, _ = _h264_container(n=6, gop=3)
    for cut in range(len(sps)):
        with pytest.raises(ValueError):
            h264.parse_sps(sps[:cut])
    rng = np.random.RandomState(12)
    for target, parse in [
        (sps, h264.parse_sps),
        (h264.encode_pps(), h264.parse_pps),
        (mp, parse_mp4_samples),
    ]:
        for _ in range(200):
            pos = int(rng.randint(0, len(target)))
            bad = bytearray(target)
            bad[pos] ^= int(rng.randint(1, 256))
            try:
                parse(bytes(bad))
            except ValueError:
                pass


# ---------------------------------------------------------------------------
# Spark-side ops
# ---------------------------------------------------------------------------


def test_h264_video_summary_matches_fixture_closed_form(spark):
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_h264_mp4,
        h264_video_summary,
    )

    docs = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    out = {
        r["asset_id"]: r
        for r in h264_video_summary(
            attach_synthetic_h264_mp4(docs, "doc_id")
        ).collect()
    }
    assert len(out) == 24
    for aid in range(24):
        r = out[aid]
        n, gop = 4 + aid % 3, 2 + aid % 2
        assert r["width"] == 160 + 8 * (aid % 5)
        assert r["height"] == 96 + 2 * (aid % 7)
        assert r["profile_idc"] == (66 if aid % 2 == 0 else 100)
        assert r["n_samples"] == n
        assert r["n_idr"] == (n + gop - 1) // gop
        assert r["sync_match"] and r["params_ok"]


def test_sample_video_frames_keyframes_only(spark):
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_h264_mp4,
        sample_video_frames,
    )

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    assets = attach_synthetic_h264_mp4(docs, "doc_id")
    rows = sample_video_frames(assets, keyframes_only=True).collect()
    got = {}
    for r in rows:
        got.setdefault(r["asset_id"], []).append(r["frame_idx"])
    for aid in range(12):
        n, gop = 4 + aid % 3, 2 + aid % 2
        assert sorted(got[aid]) == [f for f in range(n) if f % gop == 0]
    # default mode on the same assets keeps the every-N grid
    grid = sample_video_frames(assets, every_n_frames=2).collect()
    for r in grid:
        assert r["frame_idx"] % 2 == 0


def test_h264_annexb_summary(spark):
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_h264_annexb,
        h264_annexb_summary,
    )

    docs = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    out = {
        r["asset_id"]: r
        for r in h264_annexb_summary(
            attach_synthetic_h264_annexb(docs, "doc_id")
        ).collect()
    }
    for aid in range(20):
        r = out[aid]
        n, gop = 4 + aid % 3, 2 + aid % 2
        assert r["width"] == 160 + 8 * (aid % 5)
        assert r["height"] == 96 + 2 * (aid % 7)
        assert r["n_nals"] == 2 + n
        assert r["n_pictures"] == n
        assert r["n_idr"] == (n + gop - 1) // gop
        assert r["params_in_band"]


def test_h264_summary_rejects_non_avc1(spark):
    from analysis_of_flight_delay_data_by_mapreduce_spark.operators.multimodal import (
        attach_synthetic_mp4,
        h264_video_summary,
    )

    docs = spark.range(0, 2).withColumnRenamed("id", "doc_id")
    with pytest.raises(Exception, match="avc1|ValueError"):
        h264_video_summary(attach_synthetic_mp4(docs, "doc_id")).collect()
