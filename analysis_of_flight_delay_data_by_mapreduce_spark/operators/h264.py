"""H.264 / AVC bitstream *metadata* codec on stdlib only (r12).

Scope: the parts of ITU-T H.264 (ISO/IEC 14496-10) and the avcC
configuration record (ISO/IEC 14496-15 §5.3.3.1) that a 100 TB video
curation pipeline needs WITHOUT a decoder — resolution/profile/level
from the SPS, keyframe (IDR) detection from NAL unit types, Annex-B
and MP4 length-prefixed NAL framing, and parameter-set plumbing.
Nothing here decodes macroblocks: coded slice *bodies* are carried
opaque (no av/ffmpeg exists in this environment), but every field this
module claims to read is genuinely bit-parsed per the spec — Exp-Golomb
descriptors, emulation-prevention byte stuffing, cropping arithmetic —
and every field it writes is genuinely bit-encoded, so encode→parse is
an honest round trip, not a lookup.

Spec anchors (public): NAL syntax §7.3.1, SPS §7.3.2.1.1, PPS
§7.3.2.2, slice header §7.3.3, Exp-Golomb §9.1, cropping semantics
§7.4.2.1.1 (CropUnitX/Y from SubWidthC/SubHeightC), emulation
prevention §7.4.1; avcC per ISO 14496-15. Reference parity: the
reference engine (Program/*.java) has no video tier at all — this
module belongs to the beyond-reference multimodal requirement.

Strictness follows house style: malformed input raises ValueError (and
only ValueError), so the codec tier's stub fallbacks can catch narrowly.
"""

from __future__ import annotations

import struct

# profiles whose SPS carries the chroma/bit-depth extension block
# (§7.3.2.1.1 "if( profile_idc == 100 || ... )")
_HIGH_PROFILES = frozenset(
    {100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135}
)

# NAL unit types (§7.4.1 Table 7-1) this module understands by name
NAL_SLICE = 1
NAL_SLICE_IDR = 5
NAL_SEI = 6
NAL_SPS = 7
NAL_PPS = 8
NAL_AUD = 9


# ---------------------------------------------------------------------------
# Bit I/O with Exp-Golomb descriptors (§9.1)
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self._bits: list[int] = []

    def u(self, value: int, n: int) -> None:
        if value < 0 or value >> n:
            raise ValueError("h264: u(%d) overflow: %d" % (n, value))
        for i in range(n - 1, -1, -1):
            self._bits.append((value >> i) & 1)

    def ue(self, value: int) -> None:
        if value < 0:
            raise ValueError("h264: ue() needs a non-negative value")
        code = value + 1
        n = code.bit_length()
        self.u(0, n - 1)
        self.u(code, n)

    def se(self, value: int) -> None:
        # §9.1.1: positive v -> 2v-1, non-positive v -> -2v
        self.ue(2 * value - 1 if value > 0 else -2 * value)

    def trailing(self) -> None:
        """rbsp_trailing_bits: stop bit then zero-pad to a byte boundary."""
        self._bits.append(1)
        while len(self._bits) % 8:
            self._bits.append(0)

    def tobytes(self) -> bytes:
        if len(self._bits) % 8:
            raise ValueError("h264: unaligned bit writer")
        out = bytearray()
        for i in range(0, len(self._bits), 8):
            b = 0
            for bit in self._bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self._data = data
        self._pos = 0  # bit position

    def u(self, n: int) -> int:
        end = self._pos + n
        if end > 8 * len(self._data):
            raise ValueError("h264: bitstream truncated")
        v = 0
        for i in range(self._pos, end):
            v = (v << 1) | ((self._data[i >> 3] >> (7 - (i & 7))) & 1)
        self._pos = end
        return v

    def ue(self) -> int:
        lead = 0
        while self.u(1) == 0:
            lead += 1
            if lead > 32:
                raise ValueError("h264: ue() prefix too long")
        return (1 << lead) - 1 + self.u(lead)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def check_trailing(self) -> None:
        """Verify the remainder is exactly rbsp_trailing_bits (+ optional
        whole zero cabac-alignment bytes, which our writers never emit)."""
        if self.u(1) != 1:
            raise ValueError("h264: missing rbsp stop bit")
        while self._pos % 8:
            if self.u(1) != 0:
                raise ValueError("h264: nonzero rbsp alignment bit")
        if self._pos != 8 * len(self._data):
            raise ValueError("h264: trailing bytes after rbsp_trailing_bits")


# ---------------------------------------------------------------------------
# Emulation prevention (§7.4.1): within a NAL payload the encoder breaks
# any 00 00 0x (x<=3) run with an 03 byte; the decoder strips them.
# ---------------------------------------------------------------------------


def rbsp_to_payload(rbsp: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def payload_to_rbsp(payload: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(payload)
    zeros = 0
    while i < n:
        b = payload[i]
        if zeros >= 2 and b == 3:
            # emulation_prevention_three_byte: legal only before 00..03
            if i + 1 < n and payload[i + 1] > 3:
                raise ValueError("h264: stray emulation-prevention byte")
            zeros = 0
            i += 1
            continue
        if zeros >= 2 and b <= 2:
            # 00 00 00 / 00 00 01 / 00 00 02 must not appear inside a
            # NAL payload (§7.4.1) — 01 would be a start-code emulation
            raise ValueError("h264: start-code emulation in NAL payload")
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


# ---------------------------------------------------------------------------
# NAL framing
# ---------------------------------------------------------------------------


def make_nal(nal_unit_type: int, rbsp: bytes, nal_ref_idc: int = 3) -> bytes:
    """One complete NAL unit: header byte + emulation-protected payload."""
    if not 0 <= nal_unit_type <= 31 or not 0 <= nal_ref_idc <= 3:
        raise ValueError("h264: bad NAL header fields")
    return bytes([(nal_ref_idc << 5) | nal_unit_type]) + rbsp_to_payload(rbsp)


def parse_nal_header(nal: bytes) -> tuple[int, int]:
    """-> (nal_ref_idc, nal_unit_type); forbidden_zero_bit must be 0."""
    if not nal:
        raise ValueError("h264: empty NAL unit")
    if nal[0] & 0x80:
        raise ValueError("h264: forbidden_zero_bit set")
    return (nal[0] >> 5) & 3, nal[0] & 0x1F


def split_annexb(stream: bytes) -> list[bytes]:
    """Split an Annex-B byte stream (00 00 01 / 00 00 00 01 start codes)
    into NAL units. Anything before the first start code, or an empty
    NAL between two start codes, raises."""
    i, n = 0, len(stream)
    starts: list[int] = []
    while i + 3 <= n:
        if stream[i] == 0 and stream[i + 1] == 0:
            if stream[i + 2] == 1:
                starts.append(i + 3)
                i += 3
                continue
            if i + 4 <= n and stream[i + 2] == 0 and stream[i + 3] == 1:
                starts.append(i + 4)
                i += 4
                continue
        i += 1
    if not starts:
        raise ValueError("h264: no start code in Annex-B stream")
    lead = stream[: starts[0] - 3]
    if lead not in (b"", b"\x00"):  # 4-byte code's extra zero, else garbage
        raise ValueError("h264: bytes before first start code")
    nals = []
    for k, s in enumerate(starts):
        e = starts[k + 1] - 3 if k + 1 < len(starts) else n
        while e > s and stream[e - 1] == 0 and k + 1 < len(starts):
            e -= 1  # the 4-byte start code's leading zero belongs to no NAL
        if e <= s:
            raise ValueError("h264: empty NAL unit")
        nals.append(stream[s:e])
    return nals


def encode_annexb(nals: list[bytes]) -> bytes:
    """Join NAL units with 4-byte start codes (the unambiguous form)."""
    if not nals or any(not n for n in nals):
        raise ValueError("h264: empty NAL list/unit")
    return b"".join(b"\x00\x00\x00\x01" + n for n in nals)


def split_length_prefixed(sample: bytes, length_size: int = 4) -> list[bytes]:
    """Split an MP4/avc1 sample (ISO 14496-15 §5.3.4.2) into NAL units:
    each is preceded by a big-endian ``length_size``-byte length."""
    if length_size not in (1, 2, 4):
        raise ValueError("h264: bad NAL length size")
    nals, i, n = [], 0, len(sample)
    while i < n:
        if i + length_size > n:
            raise ValueError("h264: truncated NAL length prefix")
        ln = int.from_bytes(sample[i : i + length_size], "big")
        i += length_size
        if ln == 0 or i + ln > n:
            raise ValueError("h264: bad NAL length")
        nals.append(sample[i : i + ln])
        i += ln
    if not nals:
        raise ValueError("h264: empty sample")
    return nals


def encode_length_prefixed(nals: list[bytes], length_size: int = 4) -> bytes:
    if length_size not in (1, 2, 4):
        raise ValueError("h264: bad NAL length size")
    out = bytearray()
    for n in nals:
        if not n or len(n) >> (8 * length_size):
            raise ValueError("h264: NAL length not representable")
        out += len(n).to_bytes(length_size, "big") + n
    if not out:
        raise ValueError("h264: empty NAL list")
    return bytes(out)


# ---------------------------------------------------------------------------
# Sequence parameter set (§7.3.2.1.1)
# ---------------------------------------------------------------------------


def encode_sps(
    width: int,
    height: int,
    profile_idc: int = 66,
    level_idc: int = 30,
    sps_id: int = 0,
    log2_max_frame_num: int = 4,
) -> bytes:
    """A complete, spec-valid SPS NAL for a progressive (frame_mbs_only)
    4:2:0 stream of the given *display* geometry. Dimensions that are
    not multiples of 16 are expressed via frame cropping exactly as a
    real encoder would (right/bottom crop in 2-pixel chroma units, so
    both must be even)."""
    if width <= 0 or height <= 0 or width % 2 or height % 2:
        raise ValueError("h264: 4:2:0 geometry must be positive and even")
    if not 4 <= log2_max_frame_num <= 16:
        raise ValueError("h264: log2_max_frame_num out of range")
    mbs_w = (width + 15) // 16
    mbs_h = (height + 15) // 16
    crop_r = (mbs_w * 16 - width) // 2  # CropUnitX = SubWidthC = 2
    crop_b = (mbs_h * 16 - height) // 2  # CropUnitY = SubHeightC * 1 = 2
    w = _BitWriter()
    w.u(profile_idc, 8)
    w.u(0, 8)  # constraint_set flags + reserved_zero_2bits
    w.u(level_idc, 8)
    w.ue(sps_id)
    if profile_idc in _HIGH_PROFILES:
        w.ue(1)  # chroma_format_idc = 4:2:0
        w.ue(0)  # bit_depth_luma_minus8
        w.ue(0)  # bit_depth_chroma_minus8
        w.u(0, 1)  # qpprime_y_zero_transform_bypass_flag
        w.u(0, 1)  # seq_scaling_matrix_present_flag
    w.ue(log2_max_frame_num - 4)
    w.ue(2)  # pic_order_cnt_type 2: output order == decode order
    w.ue(1)  # max_num_ref_frames
    w.u(0, 1)  # gaps_in_frame_num_value_allowed_flag
    w.ue(mbs_w - 1)
    w.ue(mbs_h - 1)
    w.u(1, 1)  # frame_mbs_only_flag
    w.u(1, 1)  # direct_8x8_inference_flag
    if crop_r or crop_b:
        w.u(1, 1)  # frame_cropping_flag
        w.ue(0)
        w.ue(crop_r)
        w.ue(0)
        w.ue(crop_b)
    else:
        w.u(0, 1)
    w.u(0, 1)  # vui_parameters_present_flag
    w.trailing()
    return make_nal(NAL_SPS, w.tobytes())


def parse_sps(nal: bytes) -> dict:
    """Parse an SPS NAL into the fields a curation pipeline keys on.
    Supports baseline/main/extended and the high-profile extension
    block (chroma format, bit depth); scaling matrices and
    separate-colour-plane streams raise. A VUI block, if present, is
    noted but not walked (its fields are timing/display hints; the
    trailing-bits check is skipped in that case since the VUI length
    is unknown without parsing it)."""
    idc, typ = parse_nal_header(nal)
    if typ != NAL_SPS:
        raise ValueError("h264: not an SPS NAL")
    r = _BitReader(payload_to_rbsp(nal[1:]))
    profile_idc = r.u(8)
    r.u(8)  # constraint flags
    level_idc = r.u(8)
    sps_id = r.ue()
    if sps_id > 31:
        raise ValueError("h264: seq_parameter_set_id out of range")
    chroma_format_idc = 1
    bit_depth_luma = bit_depth_chroma = 8
    if profile_idc in _HIGH_PROFILES:
        chroma_format_idc = r.ue()
        if chroma_format_idc > 3:
            raise ValueError("h264: bad chroma_format_idc")
        if chroma_format_idc == 3 and r.u(1):
            raise ValueError("h264: separate colour planes unsupported")
        bit_depth_luma = 8 + r.ue()
        bit_depth_chroma = 8 + r.ue()
        r.u(1)  # qpprime_y_zero_transform_bypass_flag
        if r.u(1):
            raise ValueError("h264: scaling matrices unsupported")
    log2_max_frame_num = 4 + r.ue()
    if log2_max_frame_num > 16:
        raise ValueError("h264: log2_max_frame_num out of range")
    poc_type = r.ue()
    if poc_type == 0:
        if 4 + r.ue() > 16:
            raise ValueError("h264: log2_max_pic_order_cnt_lsb out of range")
    elif poc_type == 1:
        r.u(1)
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    elif poc_type > 2:
        raise ValueError("h264: bad pic_order_cnt_type")
    max_num_ref_frames = r.ue()
    r.u(1)  # gaps_in_frame_num_value_allowed_flag
    mbs_w = r.ue() + 1
    map_units_h = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)  # mb_adaptive_frame_field_flag
    r.u(1)  # direct_8x8_inference_flag
    crop_l = crop_r = crop_t = crop_b = 0
    if r.u(1):  # frame_cropping_flag
        crop_l, crop_r, crop_t, crop_b = r.ue(), r.ue(), r.ue(), r.ue()
    vui_present = bool(r.u(1))
    if not vui_present:
        r.check_trailing()
    # §7.4.2.1.1: crop offsets are in chroma sample units
    if chroma_format_idc == 0:
        sub_w, sub_h = 1, 1
    elif chroma_format_idc == 1:
        sub_w, sub_h = 2, 2
    elif chroma_format_idc == 2:
        sub_w, sub_h = 2, 1
    else:
        sub_w, sub_h = 1, 1
    crop_unit_x = sub_w
    crop_unit_y = sub_h * (2 - frame_mbs_only)
    width = mbs_w * 16 - (crop_l + crop_r) * crop_unit_x
    height = (2 - frame_mbs_only) * map_units_h * 16 - (
        crop_t + crop_b
    ) * crop_unit_y
    if width <= 0 or height <= 0:
        raise ValueError("h264: cropping exceeds coded size")
    return {
        "profile_idc": profile_idc,
        "level_idc": level_idc,
        "sps_id": sps_id,
        "chroma_format_idc": chroma_format_idc,
        "bit_depth_luma": bit_depth_luma,
        "bit_depth_chroma": bit_depth_chroma,
        "log2_max_frame_num": log2_max_frame_num,
        "pic_order_cnt_type": poc_type,
        "max_num_ref_frames": max_num_ref_frames,
        "frame_mbs_only": bool(frame_mbs_only),
        "width": width,
        "height": height,
        "vui_present": vui_present,
        "nal_ref_idc": idc,
    }


# ---------------------------------------------------------------------------
# Picture parameter set (§7.3.2.2)
# ---------------------------------------------------------------------------


def encode_pps(pps_id: int = 0, sps_id: int = 0) -> bytes:
    w = _BitWriter()
    w.ue(pps_id)
    w.ue(sps_id)
    w.u(0, 1)  # entropy_coding_mode_flag: CAVLC
    w.u(0, 1)  # bottom_field_pic_order_in_frame_present_flag
    w.ue(0)  # num_slice_groups_minus1
    w.ue(0)  # num_ref_idx_l0_default_active_minus1
    w.ue(0)  # num_ref_idx_l1_default_active_minus1
    w.u(0, 1)  # weighted_pred_flag
    w.u(0, 2)  # weighted_bipred_idc
    w.se(0)  # pic_init_qp_minus26
    w.se(0)  # pic_init_qs_minus26
    w.se(0)  # chroma_qp_index_offset
    w.u(1, 1)  # deblocking_filter_control_present_flag
    w.u(0, 1)  # constrained_intra_pred_flag
    w.u(0, 1)  # redundant_pic_cnt_present_flag
    w.trailing()
    return make_nal(NAL_PPS, w.tobytes())


def parse_pps(nal: bytes) -> dict:
    _idc, typ = parse_nal_header(nal)
    if typ != NAL_PPS:
        raise ValueError("h264: not a PPS NAL")
    r = _BitReader(payload_to_rbsp(nal[1:]))
    pps_id = r.ue()
    sps_id = r.ue()
    if pps_id > 255 or sps_id > 31:
        raise ValueError("h264: parameter-set id out of range")
    cabac = r.u(1)
    r.u(1)
    if r.ue():
        raise ValueError("h264: slice groups unsupported")
    r.ue()
    r.ue()
    r.u(1)
    r.u(2)
    qp = 26 + r.se()
    r.se()
    off = r.se()
    if not 0 <= qp <= 51 or not -12 <= off <= 12:
        raise ValueError("h264: PPS qp/offset out of range")
    r.u(3)  # deblocking / constrained-intra / redundant-pic flags
    # the Fidelity-Range extension block (transform_8x8_mode ...) is
    # optional more_rbsp_data; our writer never emits it
    r.check_trailing()
    return {"pps_id": pps_id, "sps_id": sps_id, "cabac": bool(cabac)}


# ---------------------------------------------------------------------------
# Coded slice (lite): real slice-header bits + opaque filler body
# ---------------------------------------------------------------------------


def encode_slice(
    idr: bool,
    frame_num: int,
    body: bytes,
    slice_type: int | None = None,
    log2_max_frame_num: int = 4,
) -> bytes:
    """A slice NAL whose *header* fields are genuinely bit-encoded
    (first_mb_in_slice / slice_type / pps_id / frame_num, + idr_pic_id
    for IDR) and whose coded macroblock data is the caller's opaque
    ``body`` — a stand-in for entropy-coded residuals this module never
    claims to decode. ``body`` must be non-empty with a nonzero first
    byte so the header/bit boundary stays parseable."""
    if not body or body[0] == 0:
        raise ValueError("h264: slice body must start with a nonzero byte")
    if slice_type is None:
        slice_type = 7 if idr else 5  # I / P, "all slices in pic" variants
    if idr and slice_type % 5 not in (2, 4):
        raise ValueError("h264: IDR slices must be I or SI")
    w = _BitWriter()
    w.ue(0)  # first_mb_in_slice
    w.ue(slice_type)
    w.ue(0)  # pic_parameter_set_id
    w.u(frame_num % (1 << log2_max_frame_num), log2_max_frame_num)
    if idr:
        w.ue(frame_num % 2)  # idr_pic_id (alternates per §7.4.3)
    while len(w._bits) % 8:
        w._bits.append(0)  # byte-align before the opaque body
    rbsp = w.tobytes() + body
    return make_nal(
        NAL_SLICE_IDR if idr else NAL_SLICE, rbsp, nal_ref_idc=3 if idr else 2
    )


def parse_slice_header(nal: bytes) -> dict:
    """Context-free prefix of the slice header (§7.3.3): the three
    leading Exp-Golomb fields need no active SPS/PPS. ``frame_num``
    and beyond DO (its bit width comes from the SPS), so callers that
    know the SPS pass the result to nothing further — this is the
    keyframe-census parse, not a decoder."""
    idc, typ = parse_nal_header(nal)
    if typ not in (NAL_SLICE, NAL_SLICE_IDR):
        raise ValueError("h264: not a coded-slice NAL")
    r = _BitReader(payload_to_rbsp(nal[1:]))
    first_mb = r.ue()
    slice_type = r.ue()
    pps_id = r.ue()
    if slice_type > 9 or pps_id > 255:
        raise ValueError("h264: bad slice header")
    if typ == NAL_SLICE_IDR and slice_type % 5 not in (2, 4):
        raise ValueError("h264: IDR slice with non-I slice_type")
    return {
        "nal_unit_type": typ,
        "nal_ref_idc": idc,
        "idr": typ == NAL_SLICE_IDR,
        "first_mb_in_slice": first_mb,
        "slice_type": slice_type % 5,

        "pps_id": pps_id,
    }


# ---------------------------------------------------------------------------
# AVCDecoderConfigurationRecord (ISO 14496-15 §5.3.3.1)
# ---------------------------------------------------------------------------


def encode_avcc(
    sps_list: list[bytes], pps_list: list[bytes], length_size: int = 4
) -> bytes:
    if not sps_list or not pps_list:
        raise ValueError("h264: avcC needs at least one SPS and PPS")
    if length_size not in (1, 2, 4):
        raise ValueError("h264: bad NAL length size")
    if len(sps_list) > 31 or len(pps_list) > 255:
        raise ValueError("h264: too many parameter sets")
    sps0 = parse_sps(sps_list[0])  # validates + supplies profile/level
    out = bytearray(
        [
            1,
            sps0["profile_idc"],
            0,  # profile_compatibility (constraint flags)
            sps0["level_idc"],
            0xFC | (length_size - 1),
            0xE0 | len(sps_list),
        ]
    )
    for s in sps_list:
        out += struct.pack(">H", len(s)) + s
    out.append(len(pps_list))
    for p in pps_list:
        parse_pps(p)
        out += struct.pack(">H", len(p)) + p
    return bytes(out)


def parse_avcc(rec: bytes) -> dict:
    if len(rec) < 7 or rec[0] != 1:
        raise ValueError("h264: bad avcC record")
    length_size = (rec[4] & 3) + 1
    n_sps = rec[5] & 0x1F
    i = 6
    sps_list: list[bytes] = []
    for _ in range(n_sps):
        if i + 2 > len(rec):
            raise ValueError("h264: truncated avcC SPS array")
        ln = struct.unpack_from(">H", rec, i)[0]
        i += 2
        if i + ln > len(rec):
            raise ValueError("h264: truncated avcC SPS")
        sps_list.append(rec[i : i + ln])
        i += ln
    if i >= len(rec):
        raise ValueError("h264: truncated avcC PPS count")
    n_pps = rec[i]
    i += 1
    pps_list: list[bytes] = []
    for _ in range(n_pps):
        if i + 2 > len(rec):
            raise ValueError("h264: truncated avcC PPS array")
        ln = struct.unpack_from(">H", rec, i)[0]
        i += 2
        if i + ln > len(rec):
            raise ValueError("h264: truncated avcC PPS")
        pps_list.append(rec[i : i + ln])
        i += ln
    if not sps_list or not pps_list:
        raise ValueError("h264: avcC without parameter sets")
    # high-profile records may append 4 chroma/bit-depth bytes (+SPS-ext
    # array); anything else trailing is garbage
    if i != len(rec):
        if rec[1] in _HIGH_PROFILES and len(rec) - i >= 4:
            i = len(rec)  # chroma_format/bit_depth/num_sps_ext tail
        else:
            raise ValueError("h264: trailing bytes in avcC")
    sps0 = parse_sps(sps_list[0])
    if sps0["profile_idc"] != rec[1] or sps0["level_idc"] != rec[3]:
        raise ValueError("h264: avcC profile/level disagree with SPS")
    return {
        "length_size": length_size,
        "sps": sps_list,
        "pps": pps_list,
        "profile_idc": rec[1],
        "level_idc": rec[3],
        **{
            k: sps0[k]
            for k in ("width", "height", "chroma_format_idc", "frame_mbs_only")
        },
    }


# ---------------------------------------------------------------------------
# Stream-level census
# ---------------------------------------------------------------------------


def nal_census(nals: list[bytes]) -> dict:
    """Per-type NAL counts + the keyframe map a sampling pipeline keys
    on: which picture positions are IDR. Slice NALs get their headers
    lite-parsed (so a corrupt header fails loudly here, not downstream)."""
    counts: dict[int, int] = {}
    idr_positions: list[int] = []
    pic = -1
    for nal in nals:
        _idc, typ = parse_nal_header(nal)
        counts[typ] = counts.get(typ, 0) + 1
        if typ in (NAL_SLICE, NAL_SLICE_IDR):
            h = parse_slice_header(nal)
            if h["first_mb_in_slice"] == 0:
                pic += 1  # a new primary picture starts
            if typ == NAL_SLICE_IDR and (
                not idr_positions or idr_positions[-1] != pic
            ):
                idr_positions.append(pic)
    return {"counts": counts, "n_pictures": pic + 1, "idr_positions": idr_positions}
