"""Pure-stdlib media CONTAINER demux: ISO-BMFF (MP4) box walk and OGG
page walk.

Shrinks the md5-stub boundary to exactly the codec PAYLOADS: after the
r09 baseline JPEG codec, the remaining stubbed formats were "MP4/OGG" —
but those are containers, and their structure (boxes/pages, metadata,
stream layout) is fully specified public format, parseable with
`struct` alone. Demux here is REAL: strict box-size/page-CRC validation
(a random blob cannot false-positive), duration/dimensions/track layout
extracted from the actual bytes — including the codec ID HEADERS, which
are fixed-field, entropy-free and therefore stdlib-parseable: the
Vorbis I identification header inside OGG pages (`parse_vorbis_id`) and
the AAC AudioSpecificConfig inside the MP4 mp4a→esds descriptor chain
(`parse_audio_specific_config`). What stays stubbed is decoding the
codec bitstream INSIDE a track (H.264/AAC/Vorbis PAYLOADS need entropy
decoders far beyond stdlib) — `require_codecs=True` still raises at
exactly that boundary.

Builders (`mp4_build`, `ogg_build`) exist so tests and synthetic
corpora round-trip the same bytes the parsers walk — the same
encoder/decoder symmetry as the repo's BMP/PNG/WAV/JPEG codecs.
"""

from __future__ import annotations

import struct

# --- ISO base media file format (MP4) ----------------------------------------


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + btype + body


#: ISO/IEC 14496-3 Table 1.18 — samplingFrequencyIndex → Hz (15 = escape)
AAC_SAMPLE_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350,
)


def aac_audio_specific_config(
    object_type: int, sample_rate: int, channels: int
) -> bytes:
    """AudioSpecificConfig (ISO/IEC 14496-3 §1.6.2.1), the 2-byte header
    every MP4 AAC track carries inside its esds box: audioObjectType
    (5 bits, e.g. 2 = AAC-LC), samplingFrequencyIndex (4 bits, Table
    1.18), channelConfiguration (4 bits), 3 zero bits (GASpecificConfig
    framing for the fields we emit). Like the Vorbis id header this is
    CONTAINER-ADJACENT metadata — fixed bit fields, no entropy coding."""
    if not (1 <= object_type <= 30 and 1 <= channels <= 7):
        # 31 is the escape signaling a 6-bit audioObjectTypeExt (AOT >= 32,
        # e.g. xHE-AAC) — a different bit layout this builder does not emit
        raise ValueError(f"bad object_type/channels: {object_type}/{channels}")
    idx = AAC_SAMPLE_RATES.index(sample_rate)  # raises for non-standard rates
    bits = (object_type << 11) | (idx << 7) | (channels << 3)
    return struct.pack(">H", bits)


def _descriptor(tag: int, body: bytes) -> bytes:
    """MPEG-4 BaseDescriptor: tag byte + expandable size (we always emit
    the 1-byte form; bodies here are far below 128 bytes)."""
    if len(body) >= 128:
        raise ValueError("descriptor body too large for 1-byte size form")
    return bytes([tag, len(body)]) + body


def esds_box(asc: bytes) -> bytes:
    """`esds` full box (ISO/IEC 14496-14 §5.6): ES_Descriptor(tag 3) →
    DecoderConfigDescriptor(tag 4, objectTypeIndication 0x40 = MPEG-4
    Audio) → DecSpecificInfo(tag 5) carrying the AudioSpecificConfig,
    plus the mandatory SLConfigDescriptor(tag 6, predefined 2)."""
    dec_specific = _descriptor(0x05, asc)
    dec_config = _descriptor(
        0x04,
        # objectTypeIndication 0x40, streamType 5 (audio) <<2 | 1, then
        # bufferSizeDB(24) / maxBitrate(32) / avgBitrate(32) all zero
        bytes([0x40, (5 << 2) | 1]) + b"\x00" * 11 + dec_specific,
    )
    sl_config = _descriptor(0x06, b"\x02")
    es = _descriptor(
        0x03, struct.pack(">HB", 1, 0) + dec_config + sl_config
    )
    return _box(b"esds", struct.pack(">Bxxx", 0) + es)


def _stbl_for_mp4a(sample_rate: int, channels: int, asc: bytes) -> bytes:
    """Sample table for one AAC audio track: stsd with a single `mp4a`
    AudioSampleEntry (ISO/IEC 14496-12 §12.2.3 offsets: 6 reserved bytes +
    data_reference_index, two reserved ints, channelcount(16),
    samplesize(16)=16, pre_defined+reserved, samplerate as 16.16 fixed)
    whose child is the esds; plus the spec-mandatory empty stts / stsc /
    stsz / stco (no samples in the synthetic corpus — payload stays in
    mdat as opaque bytes)."""
    mp4a = _box(
        b"mp4a",
        b"\x00" * 6 + struct.pack(">H", 1)
        + b"\x00" * 8
        # samplerate is a 16.16 template field; rates >= 2^16 don't fit
        # and per 14496-12 §12.2.3 the esds (ASC) is authoritative — the
        # convention real muxers use is 0 here for such rates
        + struct.pack(
            ">HHHHI",
            channels, 16, 0, 0,
            (sample_rate << 16) if sample_rate < 65536 else 0,
        )
        + esds_box(asc),
    )
    stsd = _box(b"stsd", struct.pack(">BxxxI", 0, 1) + mp4a)
    stts = _box(b"stts", struct.pack(">BxxxI", 0, 0))
    stsc = _box(b"stsc", struct.pack(">BxxxI", 0, 0))
    stsz = _box(b"stsz", struct.pack(">BxxxII", 0, 0, 0))
    stco = _box(b"stco", struct.pack(">BxxxI", 0, 0))
    return _box(b"stbl", stsd + stts + stsc + stsz + stco)


def mp4_build(
    duration_ms: int,
    tracks: list[tuple[str, int, int]],
    payload: bytes = b"",
    aac: tuple[int, int, int] | None = None,
    avc: tuple[int, int] | None = None,
) -> bytes:
    """Minimal valid ISO-BMFF file: ftyp + moov(mvhd + trak*) + mdat.
    `tracks` is a list of (handler, width, height) — handler "vide" or
    "soun" (audio tracks carry 0×0 dims, per spec). Movie timescale is
    1000, so mvhd duration == duration_ms. With ``aac=(object_type,
    sample_rate, channels)``, every "soun" track gains the full
    minf→stbl→stsd→mp4a→esds chain carrying a real AudioSpecificConfig;
    with ``avc=(profile_idc, level_idc)``, every "vide" track gains an
    avc1→avcC chain whose SPS codes the track's dimensions (macroblock
    grid + frame cropping) — the headers `parse_mp4` extracts codec
    metadata from."""
    mvhd = _box(
        b"mvhd",
        struct.pack(">BxxxIIIIi", 0, 0, 0, 1000, duration_ms, 0x00010000)
        + struct.pack(">h", 0x0100)
        + b"\x00" * 2
        + b"\x00" * 8
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", len(tracks) + 1),
    )
    traks = b""
    for tid, (handler, w, h) in enumerate(tracks, start=1):
        tkhd = _box(
            b"tkhd",
            # version(1) + 24-bit flags(3) + creation/modification/
            # track_ID/reserved as four 4-byte fields — 20 bytes, the
            # spec's v0 offsets (an earlier ">BBHH" prefix emitted 6
            # bytes of version+flags, shifting everything by 2)
            struct.pack(">BBBBIIII", 0, 0, 0, 7, 0, 0, tid, 0)
            + struct.pack(">I", duration_ms)
            + b"\x00" * 8
            + struct.pack(">hhhh", 0, 0, 0x0100 if handler == "soun" else 0, 0)
            + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
            + struct.pack(">II", w << 16, h << 16),
        )
        mdhd = _box(
            b"mdhd",
            struct.pack(">BxxxIIII", 0, 0, 0, 1000, duration_ms)
            + struct.pack(">HH", 0x55C4, 0),  # 'und' language
        )
        hdlr = _box(
            b"hdlr",
            struct.pack(">Bxxx", 0) + b"\x00" * 4 + handler.encode("ascii")
            + b"\x00" * 12 + b"\x00",
        )
        minf = b""
        dref = _box(
            b"dref",
            struct.pack(">BxxxI", 0, 1)
            + _box(b"url ", struct.pack(">Bxxx", 1)),  # self-contained
        )
        if aac is not None and handler == "soun":
            obj, rate, chans = aac
            smhd = _box(b"smhd", struct.pack(">BxxxHH", 0, 0, 0))
            minf = _box(
                b"minf",
                smhd
                + _box(b"dinf", dref)
                + _stbl_for_mp4a(
                    rate, chans, aac_audio_specific_config(obj, rate, chans)
                ),
            )
        elif avc is not None and handler == "vide":
            profile, level = avc
            vmhd = _box(b"vmhd", struct.pack(">BBBBHHHH", 0, 0, 0, 1, 0, 0, 0, 0))
            minf = _box(
                b"minf",
                vmhd
                + _box(b"dinf", dref)
                + _stbl_for_avc1(w, h, h264_sps(w, h, profile, level)),
            )
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        traks += _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + traks)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mdat = _box(b"mdat", payload)
    return ftyp + moov + mdat


def parse_audio_specific_config(asc: bytes) -> dict | None:
    """Strict AudioSpecificConfig parse (ISO/IEC 14496-3 §1.6.2.1):
    audioObjectType(5) + samplingFrequencyIndex(4) [+24-bit explicit rate
    when the index is the escape value 15] + channelConfiguration(4).
    Returns {"object_type", "sample_rate", "channels"} or None; a
    channelConfiguration of 0 (channel map deferred to an in-stream PCE,
    i.e. inside the codec bitstream) is rejected — that is exactly the
    stubbed boundary."""
    if len(asc) < 2:
        return None
    b0, b1 = asc[0], asc[1]
    object_type = b0 >> 3
    freq_idx = ((b0 & 0x07) << 1) | (b1 >> 7)
    if object_type == 0 or object_type == 31:
        # 31 = escape: a 6-bit audioObjectTypeExt follows (AOT >= 32, e.g.
        # xHE-AAC), shifting every later field — degrade honestly to None
        # rather than return misaligned rate/channel bits
        return None
    if freq_idx == 15:
        if len(asc) < 5:
            return None
        rate = ((b1 & 0x7F) << 17) | (asc[2] << 9) | (asc[3] << 1) | (asc[4] >> 7)
        chan = (asc[4] >> 3) & 0x0F
    elif freq_idx < len(AAC_SAMPLE_RATES):
        rate = AAC_SAMPLE_RATES[freq_idx]
        chan = (b1 >> 3) & 0x0F
    else:
        return None
    if not (1 <= chan <= 7) or rate <= 0:
        return None
    return {"object_type": object_type, "sample_rate": rate, "channels": chan}


def _read_descriptor(buf: bytes, pos: int, end: int):
    """(tag, body_start, body_end, next_pos) for one MPEG-4
    BaseDescriptor with expandable size (up to 4 length bytes, 0x80
    continuation), or None when malformed/out of bounds."""
    if pos + 2 > end:
        return None
    tag = buf[pos]
    size = 0
    p = pos + 1
    for _ in range(4):
        if p >= end:
            return None
        b = buf[p]
        p += 1
        size = (size << 7) | (b & 0x7F)
        if not b & 0x80:
            break
    else:
        return None
    if p + size > end:
        return None
    return tag, p, p + size, p + size


def _esds_audio(buf: bytes, off: int, end: int) -> dict | None:
    """Descend esds → ES_Descriptor(3) → DecoderConfigDescriptor(4) →
    DecSpecificInfo(5) and parse the AudioSpecificConfig. Strict: every
    descriptor header must land inside its parent."""
    if end - off < 4:
        return None
    d = _read_descriptor(buf, off + 4, end)  # skip esds version/flags
    if d is None or d[0] != 0x03:
        return None
    _, es_start, es_end, _ = d
    if es_end - es_start < 3:
        return None
    flags = buf[es_start + 2]
    p = es_start + 3
    if flags & 0x80:  # streamDependenceFlag → dependsOn_ES_ID
        p += 2
    if flags & 0x40:  # URL_Flag → URLlength + URLstring
        if p >= es_end:
            return None
        p += 1 + buf[p]
    if flags & 0x20:  # OCRstreamFlag → OCR_ES_Id
        p += 2
    while p < es_end:
        d = _read_descriptor(buf, p, es_end)
        if d is None:
            return None
        tag, b_start, b_end, p = d
        if tag != 0x04:
            continue
        if b_end - b_start < 13:
            return None
        q = b_start + 13  # OTI(1) streamType(1) bufferSize(3) rates(8)
        while q < b_end:
            d2 = _read_descriptor(buf, q, b_end)
            if d2 is None:
                return None
            tag2, a_start, a_end, q = d2
            if tag2 == 0x05:
                return parse_audio_specific_config(buf[a_start:a_end])
        return None
    return None


def _minf_audio(data: bytes, walk, off: int, end: int) -> dict | None:
    """minf → stbl → stsd → first `mp4a` AudioSampleEntry → esds → ASC.
    Audio metadata is an optional enrichment: any malformation on this
    path yields None (no audio key) rather than failing the whole parse —
    the box walk's strictness already validated the container skeleton."""
    for st, soff, send in walk(data, off, end):
        if st != b"stbl":
            continue
        for bt, boff, bend in walk(data, soff, send):
            if bt != b"stsd" or bend - boff < 8:
                continue
            for et, eoff, eend in walk(data, boff + 8, bend):
                if et != b"mp4a" or eend - eoff < 28:
                    continue
                for ct, coff, cend in walk(data, eoff + 28, eend):
                    if ct == b"esds":
                        return _esds_audio(data, coff, cend)
    return None


def _minf_video(data: bytes, walk, off: int, end: int) -> dict | None:
    """minf → stbl → stsd → first `avc1` VisualSampleEntry → avcC →
    first SPS → `parse_h264_sps`. Same lenient contract as
    `_minf_audio`: malformation yields None, never an exception."""
    for st, soff, send in walk(data, off, end):
        if st != b"stbl":
            continue
        for bt, boff, bend in walk(data, soff, send):
            if bt != b"stsd" or bend - boff < 8:
                continue
            for et, eoff, eend in walk(data, boff + 8, bend):
                if et != b"avc1" or eend - eoff < 78:
                    continue
                for ct, coff, cend in walk(data, eoff + 78, eend):
                    if ct != b"avcC" or cend - coff < 8:
                        continue
                    n_sps = data[coff + 5] & 0x1F
                    if n_sps < 1 or coff + 8 > cend:
                        return None
                    (sps_len,) = struct.unpack_from(">H", data, coff + 6)
                    if coff + 8 + sps_len > cend:
                        return None
                    return parse_h264_sps(data[coff + 8 : coff + 8 + sps_len])
    return None


def parse_mp4(data: bytes) -> dict | None:
    """Strict ISO-BMFF walk: the payload must start with a well-formed
    `ftyp` box and every top-level box size must land exactly inside the
    buffer; `moov` must hold an `mvhd`. Returns {"brand", "duration_ms",
    "tracks": [(handler, width, height), ...]} or None; when a track
    carries an `mp4a` sample entry whose esds parses, an "audio" key
    adds {"object_type", "sample_rate", "channels"} from its
    AudioSpecificConfig (the first such track wins); when one carries an
    `avc1` entry whose avcC SPS parses, a "video" key adds
    {"profile_idc", "level_idc", "width", "height"} — the CODED
    dimensions from the SPS macroblock grid + cropping, independent of
    the tkhd display values."""
    if len(data) < 16:
        return None

    def walk(buf: bytes, start: int, end: int):
        pos = start
        while pos + 8 <= end:
            (size,) = struct.unpack_from(">I", buf, pos)
            btype = buf[pos + 4 : pos + 8]
            if size == 1:  # 64-bit largesize
                if pos + 16 > end:
                    return
                (size,) = struct.unpack_from(">Q", buf, pos + 8)
                body_off = pos + 16
            else:
                body_off = pos + 8
            if size < body_off - pos or pos + size > end:
                return
            yield btype, body_off, pos + size
            pos += size
        if pos != end:
            yield None, pos, end  # trailing garbage marker

    top = list(walk(data, 0, len(data)))
    if not top or any(t[0] is None for t in top):
        return None
    if top[0][0] != b"ftyp" or top[0][2] - top[0][1] < 8:
        return None
    brand = data[top[0][1] : top[0][1] + 4].decode("ascii", "replace")
    duration_ms = None
    tracks: list[tuple[str, int, int]] = []
    audio: dict | None = None
    video: dict | None = None
    for btype, boff, bend in top:
        if btype != b"moov":
            continue
        inner = list(walk(data, boff, bend))
        if any(t[0] is None for t in inner):
            return None
        for ityp, ioff, iend in inner:
            if ityp == b"mvhd":
                if iend - ioff < 20:
                    return None
                version = data[ioff]
                if version == 0:
                    _, _, timescale, dur = struct.unpack_from(
                        ">IIII", data, ioff + 4
                    )
                else:
                    if iend - ioff < 32:
                        return None
                    _, _, timescale, dur = struct.unpack_from(
                        ">QQIQ", data, ioff + 4
                    )
                if timescale == 0:
                    return None
                duration_ms = dur * 1000.0 / timescale
            elif ityp == b"trak":
                t = list(walk(data, ioff, iend))
                if any(x[0] is None for x in t):
                    return None
                width = height = 0
                handler = None
                for tt, toff, tend in t:
                    if tt == b"tkhd" and tend - toff >= 84:
                        w16, h16 = struct.unpack_from(">II", data, tend - 8)
                        width, height = w16 >> 16, h16 >> 16
                    elif tt == b"mdia":
                        for mt, moff, mend in walk(data, toff, tend):
                            if mt is None:
                                return None
                            if mt == b"hdlr" and mend - moff >= 12:
                                handler = data[moff + 8 : moff + 12].decode(
                                    "ascii", "replace"
                                )
                            elif mt == b"minf":
                                if audio is None:
                                    audio = _minf_audio(data, walk, moff, mend)
                                if video is None:
                                    video = _minf_video(data, walk, moff, mend)
                if handler is None:
                    return None
                tracks.append((handler, width, height))
    if duration_ms is None:
        return None
    out = {"brand": brand, "duration_ms": duration_ms, "tracks": tracks}
    if audio is not None:
        out["audio"] = audio
    if video is not None:
        out["video"] = video
    return out


# --- H.264 sequence parameter set (inside MP4 avcC) ---------------------------
#
# The SPS is HEADER SYNTAX (ITU-T H.264 §7.3.2.1.1): fixed-width fields plus
# Exp-Golomb-coded integers — deterministic bit layout, not entropy coding
# over picture content — so coded dimensions/profile parse with a 30-line
# bit reader. Slice data (CABAC/CAVLC) is the real entropy boundary and
# stays stubbed.


class _BitWriter:
    def __init__(self) -> None:
        self.bits: list[int] = []

    def u(self, val: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((val >> i) & 1)

    def ue(self, val: int) -> None:
        # Exp-Golomb: leadingZeroBits zeros, then the (val+1) bits
        code = val + 1
        n = code.bit_length()
        self.u(0, n - 1)
        self.u(code, n)

    def rbsp(self) -> bytes:
        # rbsp_stop_one_bit + zero padding to a byte boundary
        bits = self.bits + [1]
        while len(bits) % 8:
            bits.append(0)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _ebsp_escape(rbsp: bytes) -> bytes:
    """Insert emulation-prevention bytes: 00 00 {00,01,02,03} → 00 00 03 xx."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _ebsp_unescape(ebsp: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    i = 0
    while i < len(ebsp):
        b = ebsp[i]
        if zeros >= 2 and b == 3:
            zeros = 0
            i += 1
            continue  # emulation-prevention byte
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def u(self, n: int) -> int:
        if self.pos + n > len(self.data) * 8:
            raise ValueError("SPS bit read out of bounds")
        val = 0
        for _ in range(n):
            byte = self.data[self.pos >> 3]
            val = (val << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return val

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("Exp-Golomb prefix too long")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


def h264_sps(
    width: int, height: int, profile_idc: int = 66, level_idc: int = 30
) -> bytes:
    """Minimal spec-correct SPS NAL for a frame-coded 4:2:0 stream:
    coded size is the macroblock grid (multiples of 16) with frame
    cropping trimming the right/bottom remainder — exactly how real
    encoders express arbitrary dimensions. Baseline/Main profile ids
    keep §7.3.2.1.1's high-profile chroma branch out of the header."""
    if width <= 0 or height <= 0 or width % 2 or height % 2:
        raise ValueError(f"bad dims (must be positive and even): {width}x{height}")
    if profile_idc in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        raise ValueError("high-profile SPS (chroma branch) not emitted here")
    mb_w = -(-width // 16)
    mb_h = -(-height // 16)
    crop_r = (mb_w * 16 - width) // 2   # CropUnitX = 2 (4:2:0)
    crop_b = (mb_h * 16 - height) // 2  # CropUnitY = 2 (frame_mbs_only)
    w = _BitWriter()
    w.u(profile_idc, 8)
    w.u(0, 8)          # constraint flags + reserved_zero_2bits
    w.u(level_idc, 8)
    w.ue(0)            # seq_parameter_set_id
    w.ue(0)            # log2_max_frame_num_minus4
    w.ue(0)            # pic_order_cnt_type → needs log2_max_pic_order_cnt
    w.ue(0)            # log2_max_pic_order_cnt_lsb_minus4
    w.ue(1)            # max_num_ref_frames
    w.u(0, 1)          # gaps_in_frame_num_value_allowed_flag
    w.ue(mb_w - 1)     # pic_width_in_mbs_minus1
    w.ue(mb_h - 1)     # pic_height_in_map_units_minus1
    w.u(1, 1)          # frame_mbs_only_flag
    w.u(0, 1)          # direct_8x8_inference_flag
    if crop_r or crop_b:
        w.u(1, 1)      # frame_cropping_flag
        w.ue(0)        # crop_left
        w.ue(crop_r)   # crop_right
        w.ue(0)        # crop_top
        w.ue(crop_b)   # crop_bottom
    else:
        w.u(0, 1)
    w.u(0, 1)          # vui_parameters_present_flag
    return bytes([0x67]) + _ebsp_escape(w.rbsp())  # nal_ref_idc=3, type=7


def parse_h264_sps(nal: bytes) -> dict | None:
    """Strict SPS parse → {"profile_idc", "level_idc", "width", "height"}
    or None. Handles the high-profile chroma branch on the READ side
    (chroma_format_idc et al.), emulation-prevention stripping, and the
    4:2:0 / frame_mbs_only cropping arithmetic (§7.4.2.1.1)."""
    if len(nal) < 4 or (nal[0] & 0x1F) != 7 or nal[0] & 0x80:
        return None
    try:
        r = _BitReader(_ebsp_unescape(nal[1:]))
        profile_idc = r.u(8)
        r.u(8)  # constraint flags
        level_idc = r.u(8)
        r.ue()  # seq_parameter_set_id
        chroma_format_idc = 1
        separate_colour_plane = 0
        if profile_idc in (100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135):
            chroma_format_idc = r.ue()
            if chroma_format_idc == 3:
                separate_colour_plane = r.u(1)
            r.ue()  # bit_depth_luma_minus8
            r.ue()  # bit_depth_chroma_minus8
            r.u(1)  # qpprime_y_zero_transform_bypass_flag
            if r.u(1):  # seq_scaling_matrix_present_flag: lists not handled
                return None
        r.ue()  # log2_max_frame_num_minus4
        poc_type = r.ue()
        if poc_type == 0:
            r.ue()  # log2_max_pic_order_cnt_lsb_minus4
        elif poc_type == 1:
            r.u(1)  # delta_pic_order_always_zero_flag
            r.se()  # offset_for_non_ref_pic
            r.se()  # offset_for_top_to_bottom_field
            for _ in range(r.ue()):
                r.se()
        r.ue()  # max_num_ref_frames
        r.u(1)  # gaps_in_frame_num_value_allowed_flag
        mb_w = r.ue() + 1
        mb_h = r.ue() + 1
        frame_mbs_only = r.u(1)
        if not frame_mbs_only:
            r.u(1)  # mb_adaptive_frame_field_flag
        r.u(1)  # direct_8x8_inference_flag
        crop_l = crop_r = crop_t = crop_b = 0
        if r.u(1):  # frame_cropping_flag
            crop_l, crop_r, crop_t, crop_b = r.ue(), r.ue(), r.ue(), r.ue()
    except ValueError:
        return None
    if chroma_format_idc == 0 or separate_colour_plane:
        unit_x, unit_y = 1, 2 - frame_mbs_only
    else:
        sub_w = 2 if chroma_format_idc in (1, 2) else 1
        sub_h = 2 if chroma_format_idc == 1 else 1
        unit_x, unit_y = sub_w, sub_h * (2 - frame_mbs_only)
    width = mb_w * 16 - unit_x * (crop_l + crop_r)
    height = (2 - frame_mbs_only) * mb_h * 16 - unit_y * (crop_t + crop_b)
    if width <= 0 or height <= 0:
        return None
    return {
        "profile_idc": profile_idc,
        "level_idc": level_idc,
        "width": width,
        "height": height,
    }


def avcc_box(sps: bytes) -> bytes:
    """AVCDecoderConfigurationRecord (ISO/IEC 14496-15 §5.3.3.1) as an
    `avcC` box: version 1, profile/compat/level copied from the SPS
    bytes, 4-byte NALU lengths, one SPS + one fixed 4-byte PPS."""
    if len(sps) < 4:
        raise ValueError("SPS too short")
    pps = b"\x68\xce\x38\x80"
    return _box(
        b"avcC",
        bytes([1, sps[1], sps[2], sps[3], 0xFF, 0xE1])
        + struct.pack(">H", len(sps)) + sps
        + bytes([1]) + struct.pack(">H", len(pps)) + pps,
    )


def _stbl_for_avc1(width: int, height: int, sps: bytes) -> bytes:
    """Sample table for one AVC video track: stsd with a single `avc1`
    VisualSampleEntry (14496-12 §12.1.3: 6 reserved + dri, then
    pre_defined/reserved(16), width(2), height(2), 72dpi 16.16 ×2,
    reserved(4), frame_count=1, 32-byte compressorname, depth=24,
    pre_defined=-1) whose child is the avcC; plus empty stts/stsc/
    stsz/stco."""
    avc1 = _box(
        b"avc1",
        b"\x00" * 6 + struct.pack(">H", 1)
        + b"\x00" * 16
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + b"\x00" * 4
        + struct.pack(">H", 1)
        + b"\x00" * 32
        + struct.pack(">Hh", 24, -1)
        + avcc_box(sps),
    )
    stsd = _box(b"stsd", struct.pack(">BxxxI", 0, 1) + avc1)
    stts = _box(b"stts", struct.pack(">BxxxI", 0, 0))
    stsc = _box(b"stsc", struct.pack(">BxxxI", 0, 0))
    stsz = _box(b"stsz", struct.pack(">BxxxII", 0, 0, 0))
    stco = _box(b"stco", struct.pack(">BxxxI", 0, 0))
    return _box(b"stbl", stsd + stts + stsc + stsz + stco)


# --- OGG (RFC 3533) ----------------------------------------------------------


def _ogg_crc_table():
    table = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7) if r & 0x80000000 else (r << 1)
            r &= 0xFFFFFFFF
        table.append(r)
    return table


_OGG_CRC = None


def _ogg_crc(data: bytes) -> int:
    """OGG page CRC: unreflected CRC-32 with poly 0x04C11DB7, init 0."""
    global _OGG_CRC
    if _OGG_CRC is None:
        _OGG_CRC = _ogg_crc_table()
    crc = 0
    for b in data:
        crc = ((crc << 8) ^ _OGG_CRC[((crc >> 24) & 0xFF) ^ b]) & 0xFFFFFFFF
    return crc


def ogg_build(serial: int, packets: list[bytes], granules: list[int]) -> bytes:
    """One logical stream: packet k on its own page with granule position
    granules[k]; first page flagged beginning-of-stream, last end-of-stream.
    Packets longer than 255·255 bytes are out of scope (single-page lacing
    only)."""
    out = bytearray()
    for k, (pkt, gran) in enumerate(zip(packets, granules)):
        lacing = []
        rest = len(pkt)
        while rest >= 255:
            lacing.append(255)
            rest -= 255
        lacing.append(rest)
        htype = (0x02 if k == 0 else 0) | (
            0x04 if k == len(packets) - 1 else 0
        )
        header = (
            b"OggS"
            + bytes([0, htype])
            + struct.pack("<qIII", gran, serial, k, 0)
            + bytes([len(lacing)])
            + bytes(lacing)
        )
        crc = _ogg_crc(header + pkt)
        page = bytearray(header + pkt)
        struct.pack_into("<I", page, 22, crc)
        out += page
    return bytes(out)


def parse_ogg(data: bytes) -> dict | None:
    """Strict OGG page walk with per-page CRC validation. Returns
    {"n_pages", "serials", "last_granule", "bos_packets"} or None.
    `last_granule` is the maximum granule position over final pages per
    stream — the codec-units duration counter. `bos_packets` maps each
    stream serial to the first packet of its beginning-of-stream page:
    the codec id header, whose fixed fields (e.g. Vorbis channels +
    sample rate via `parse_vorbis_id`) parse without any entropy
    decoding — and with the rate known, granules convert to seconds."""
    if len(data) < 27 or data[:4] != b"OggS":
        return None
    pos = 0
    n_pages = 0
    serials: set[int] = set()
    last_granule: dict[int, int] = {}
    bos_packets: dict[int, bytes] = {}
    while pos < len(data):
        if pos + 27 > len(data) or data[pos : pos + 4] != b"OggS":
            return None
        version, htype = data[pos + 4], data[pos + 5]
        if version != 0:
            return None
        gran, serial, seq, crc = struct.unpack_from("<qIII", data, pos + 6)
        nseg = data[pos + 26]
        if pos + 27 + nseg > len(data):
            return None
        lacing = data[pos + 27 : pos + 27 + nseg]
        body_len = sum(lacing)
        body_off = pos + 27 + nseg
        if body_off + body_len > len(data):
            return None
        page = bytearray(data[pos : body_off + body_len])
        struct.pack_into("<I", page, 22, 0)
        if _ogg_crc(bytes(page)) != crc:
            return None
        n_pages += 1
        serials.add(serial)
        if gran >= 0:
            last_granule[serial] = max(last_granule.get(serial, 0), gran)
        # beginning-of-stream page: its first packet is the codec's id
        # header (Vorbis/Opus/...) — capture it so header-level metadata
        # (e.g. `parse_vorbis_id`) is reachable without decoding audio.
        # A final lacing value of 255 means the packet continues on the
        # next page (multi-page headers are out of this demux's scope,
        # like the builder); skip capture rather than truncate.
        if htype & 0x02 and serial not in bos_packets and nseg:
            first_len = 0
            for lv in lacing:
                first_len += lv
                if lv < 255:
                    break
            else:
                first_len = -1  # packet spans pages
            if first_len >= 0:
                bos_packets[serial] = data[body_off : body_off + first_len]
        pos = body_off + body_len
    return {
        "n_pages": n_pages,
        "serials": sorted(serials),
        "last_granule": max(last_granule.values()) if last_granule else None,
        "bos_packets": bos_packets,
    }


# --- Opus identification header (inside OGG pages, RFC 7845 §5.1) ------------

def opus_id_packet(
    channels: int,
    input_sample_rate: int,
    pre_skip: int = 312,
    output_gain_q8: int = 0,
) -> bytes:
    """OpusHead: the fixed 19-byte first packet of every Ogg/Opus stream
    (channel mapping family 0 — mono/stereo; families needing a mapping
    table are the multichannel extension this builder doesn't emit).
    `input_sample_rate` is informational (Opus decodes at 48 kHz); the
    granule position is ALWAYS 48 kHz samples, so duration needs no rate
    from the header at all — but channels/pre-skip/gain do parse here."""
    if not (1 <= channels <= 2):
        raise ValueError(f"mapping family 0 allows 1-2 channels: {channels}")
    if input_sample_rate < 0 or pre_skip < 0:
        raise ValueError("negative rate/pre_skip")
    return (
        b"OpusHead"
        + struct.pack(
            "<BBHIhB",
            1,                  # version
            channels,
            pre_skip,
            input_sample_rate,
            output_gain_q8,
            0,                  # channel mapping family 0
        )
    )


def parse_opus_id(packet: bytes) -> dict | None:
    """Strict OpusHead parse → {"channels", "pre_skip",
    "input_sample_rate", "output_gain_q8"} or None. RFC 7845 §5.1:
    magic + version (major 0, i.e. version < 16) are MUSTs; mapping
    family 0 requires 1-2 channels and carries no mapping table (a
    family needing the table is rejected — multichannel mapping is out
    of this demux's scope, like multi-page headers)."""
    if len(packet) < 19 or packet[:8] != b"OpusHead":
        return None
    version, channels, pre_skip, rate, gain, family = struct.unpack_from(
        "<BBHIhB", packet, 8
    )
    if version >> 4 != 0:  # major version must be 0 (compat rule)
        return None
    if family != 0 or not (1 <= channels <= 2):
        return None
    return {
        "channels": channels,
        "pre_skip": pre_skip,
        "input_sample_rate": rate,
        "output_gain_q8": gain,
    }


# --- Vorbis I identification header (inside OGG pages) -----------------------

def vorbis_id_packet(
    channels: int,
    sample_rate: int,
    bitrate_nominal: int = 0,
) -> bytes:
    """Vorbis I identification header (spec §4.2.2): the 30-byte first
    packet of every Vorbis stream. This is CONTAINER-ADJACENT metadata —
    plain little-endian fields, no entropy coding — so parsing it is
    stdlib-feasible and moves the stub boundary one honest notch: with
    audio_sample_rate known, the OGG granule position (PCM sample count
    for Vorbis) converts to seconds. The comment/setup headers and the
    audio packets stay stubbed (they need the full codebook machinery).
    Block sizes are 2^8 and 2^11."""
    if not (1 <= channels <= 255) or sample_rate <= 0:
        raise ValueError(f"bad channels/rate: {channels}/{sample_rate}")
    return (
        b"\x01vorbis"
        + struct.pack(
            "<IBIiii",
            0,                # vorbis_version
            channels,
            sample_rate,
            0,                # bitrate_maximum
            bitrate_nominal,
            0,                # bitrate_minimum
        )
        + bytes([(11 << 4) | 8, 0x01])  # blocksizes + framing flag
    )


def parse_vorbis_id(packet: bytes) -> dict | None:
    """Strict Vorbis I identification-header parse. Returns
    {"channels", "sample_rate", "bitrate_nominal"} or None when the
    packet is not a spec-valid id header (wrong magic/version, zero
    channels/rate, out-of-range or misordered blocksizes, framing bit
    unset — §4.2.2 says each check MUST reject the stream)."""
    if len(packet) < 30 or packet[:7] != b"\x01vorbis":
        return None
    version, channels, rate, br_max, br_nom, br_min = struct.unpack_from(
        "<IBIiii", packet, 7
    )
    if version != 0 or channels == 0 or rate == 0:
        return None
    bs = packet[28]
    b0, b1 = bs & 0x0F, bs >> 4
    if not (6 <= b0 <= b1 <= 13):
        return None
    if not packet[29] & 0x01:  # framing flag
        return None
    return {
        "channels": channels,
        "sample_rate": rate,
        "bitrate_nominal": br_nom,
    }
