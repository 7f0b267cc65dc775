"""Pure-stdlib Ogg container (RFC 3533) muxer + demuxer with OpusHead
parsing — the Ogg/Opus slice of the multimodal audio stub. Opus
*decode* (SILK/CELT) stays a declared stub; the container around it is
plain page framing and admits the same demux-without-decode treatment
as ISO-BMFF (llm.mp4) and Matroska (llm.webm): at 100 TB you count,
size, slice, and time-align packets without paying a codec.

The writer produces genuine Ogg: pages with the OggS capture pattern,
BOS/EOS/continued header flags, 64-bit granule positions, serial and
page-sequence numbers, segment-lacing tables (packet lengths as runs
of 255s), and the REAL Ogg CRC-32 — polynomial 0x04C11DB7, no bit
reflection, zero init/xorout, computed over the page with the CRC
field zeroed (this is NOT zlib.crc32; a demuxer that verifies it
proves byte-exact page framing). The stream is Ogg-Opus shaped per
RFC 7845: packet 0 is an OpusHead identification header on its own
BOS page, packet 1 is OpusTags, audio packets follow with cumulative
48 kHz granule positions. Pages are capped at a small segment count so
large packets SPAN pages (continued flag) — the reassembly path is
exercised, not decorative.

The demuxer walks pages (capture pattern, version, flag sanity,
contiguous sequence numbers, CRC verification), reassembles packets
across page boundaries from the lacing tables, and parses OpusHead
(channels, pre-skip, input sample rate). Truncated pages, bad capture
patterns, and CRC mismatches raise NotImplementedError per this
package's declared error contract.

Reference parity: the reference ships media blobs opaquely (Kafka
producer scripts); demux is client-side. Here it runs engine-side
through llm.multimodal.map_doc_kernel (ogg_packet_features).
"""

from __future__ import annotations

import struct

_CAPTURE = b"OggS"
_F_CONTINUED, _F_BOS, _F_EOS = 0x01, 0x02, 0x04


def _crc_table() -> "list[int]":
    tbl = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7) if (r & 0x80000000) else (r << 1)
            r &= 0xFFFFFFFF
        tbl.append(r)
    return tbl


_CRC_TBL = _crc_table()


def ogg_crc(data: bytes) -> int:
    """Ogg's direct (unreflected) CRC-32, init 0, no final xor."""
    r = 0
    for b in data:
        r = ((r << 8) & 0xFFFFFFFF) ^ _CRC_TBL[((r >> 24) & 0xFF) ^ b]
    return r


def _page(
    header_type: int,
    granule: int,
    serial: int,
    seq: int,
    segments: bytes,
    body: bytes,
) -> bytes:
    head = (
        _CAPTURE
        + b"\x00"  # stream structure version
        + bytes([header_type])
        + struct.pack("<q", granule)
        + struct.pack("<I", serial)
        + struct.pack("<I", seq)
        + b"\x00\x00\x00\x00"  # CRC placeholder
        + bytes([len(segments)])
        + segments
    )
    page = head + body
    crc = ogg_crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


def encode_opus_head(
    channels: int, pre_skip: int, input_sample_rate: int, output_gain: int = 0
) -> bytes:
    """RFC 7845 §5.1 identification header (mapping family 0)."""
    return (
        b"OpusHead"
        + bytes([1, channels])
        + struct.pack("<H", pre_skip)
        + struct.pack("<I", input_sample_rate)
        + struct.pack("<h", output_gain)
        + b"\x00"
    )


def encode_ogg_opus(
    audio_packets: "list[bytes]",
    granules: "list[int]",
    serial: int = 0x0DDBA11,
    channels: int = 2,
    pre_skip: int = 312,
    input_sample_rate: int = 48000,
    max_segments_per_page: int = 16,
) -> bytes:
    """Mux an Ogg-Opus-shaped stream: OpusHead alone on the BOS page,
    OpusTags on page 1, then audio packets packed greedily into pages
    of at most `max_segments_per_page` lacing values — a packet whose
    lacing doesn't fit finishes on the next page with the continued
    flag set (real page spanning). `granules[i]` is the cumulative
    48 kHz sample count after audio packet i (last page carries EOS)."""
    if len(audio_packets) != len(granules) or not audio_packets:
        raise ValueError("packets/granules mismatch")

    head = encode_opus_head(channels, pre_skip, input_sample_rate)
    tags = b"OpusTags" + struct.pack("<I", 9) + b"llm.ogg.0" + struct.pack("<I", 0)

    out = _page(_F_BOS, 0, serial, 0, bytes(_lacing(head)), head)
    out += _page(0, 0, serial, 1, bytes(_lacing(tags)), tags)

    # Greedy page packing over (lacing_value, byte_chunk, granule_if_
    # packet_completes) triples.
    pending: "list[tuple[int, bytes, int | None]]" = []
    for pkt, gran in zip(audio_packets, granules):
        lac = _lacing(pkt)
        for i, lv in enumerate(lac):
            lo = sum(lac[:i])
            pending.append(
                (lv, pkt[lo : lo + lv], gran if i == len(lac) - 1 else None)
            )

    seq = 2
    pos = 0
    continued = False
    while pos < len(pending):
        chunk = pending[pos : pos + max_segments_per_page]
        pos += len(chunk)
        segments = bytes(c[0] for c in chunk)
        body = b"".join(c[1] for c in chunk)
        done = [c[2] for c in chunk if c[2] is not None]
        # A page with no completed packet carries granule -1 (RFC 3533).
        granule = done[-1] if done else -1
        flags = (_F_CONTINUED if continued else 0) | (
            _F_EOS if pos >= len(pending) else 0
        )
        out += _page(flags, granule, serial, seq, segments, body)
        seq += 1
        # The next page continues a packet iff this one ended mid-packet
        # (its final lacing value is 255).
        continued = chunk[-1][0] == 255
    return out


def _lacing(packet: bytes) -> "list[int]":
    """RFC 3533 §4: length as 255-runs; a multiple-of-255 length ends
    with an explicit 0 lacing value."""
    lac = [255] * (len(packet) // 255)
    lac.append(len(packet) % 255)
    return lac


def ogg_demux(payload: bytes) -> dict:
    """Walk pages (capture pattern + CRC verified, sequence numbers
    contiguous), reassemble packets across page boundaries, and parse
    the OpusHead. Returns {serial, n_pages, channels, pre_skip,
    input_sample_rate, packets: [{packet_idx, size, granule, data}]}
    where `granule` is the granule position of the page the packet
    COMPLETED on (-1 if that page completed no packet — spanning)."""
    pos = 0
    n_pages = 0
    serial = None
    expect_seq = 0
    packets: "list[dict]" = []
    partial = b""
    partial_open = False
    while pos < len(payload):
        if payload[pos : pos + 4] != _CAPTURE:
            raise NotImplementedError("bad Ogg capture pattern")
        if pos + 27 > len(payload):
            raise NotImplementedError("truncated Ogg page header")
        version = payload[pos + 4]
        if version != 0:
            raise NotImplementedError(f"Ogg version {version}")
        flags = payload[pos + 5]
        granule = struct.unpack("<q", payload[pos + 6 : pos + 14])[0]
        pserial = struct.unpack("<I", payload[pos + 14 : pos + 18])[0]
        seq = struct.unpack("<I", payload[pos + 18 : pos + 22])[0]
        crc_stored = struct.unpack("<I", payload[pos + 22 : pos + 26])[0]
        nseg = payload[pos + 26]
        lace_end = pos + 27 + nseg
        if lace_end > len(payload):
            raise NotImplementedError("truncated Ogg lacing table")
        lacing = payload[pos + 27 : lace_end]
        body_len = sum(lacing)
        page_end = lace_end + body_len
        if page_end > len(payload):
            raise NotImplementedError("truncated Ogg page body")
        page = payload[pos:page_end]
        if ogg_crc(page[:22] + b"\x00\x00\x00\x00" + page[26:]) != crc_stored:
            raise NotImplementedError("Ogg page CRC mismatch")
        if serial is None:
            serial = pserial
        elif pserial != serial:
            raise NotImplementedError("multiplexed Ogg streams unsupported")
        if seq != expect_seq:
            raise NotImplementedError("Ogg page sequence gap")
        expect_seq += 1
        if (flags & _F_CONTINUED) and not partial_open:
            raise NotImplementedError("continued page without open packet")
        if partial_open and not (flags & _F_CONTINUED):
            raise NotImplementedError("open packet not continued")

        bpos = lace_end
        for lv in lacing:
            partial += payload[bpos : bpos + lv]
            bpos += lv
            partial_open = lv == 255
            if not partial_open:
                packets.append(
                    {
                        "packet_idx": len(packets),
                        "size": len(partial),
                        "granule": granule,
                        "data": partial,
                    }
                )
                partial = b""
        n_pages += 1
        pos = page_end
    if partial_open:
        raise NotImplementedError("stream ends mid-packet")
    if not packets:
        raise NotImplementedError("empty Ogg stream")
    hd = packets[0]["data"]
    out = {"serial": serial, "n_pages": n_pages, "packets": packets}
    if hd[:8] == b"OpusHead":
        if len(hd) < 19:
            raise NotImplementedError("truncated OpusHead")
        out["codec"] = "opus"
        out["channels"] = hd[9]
        out["pre_skip"] = struct.unpack("<H", hd[10:12])[0]
        out["input_sample_rate"] = struct.unpack("<I", hd[12:16])[0]
    elif hd[:5] == b"\x7fFLAC":
        # RFC 5334 FLAC mapping: 0x7F 'FLAC' major minor u16be
        # header-count, then the native 'fLaC' signature + STREAMINFO
        if len(hd) < 13 or hd[9:13] != b"fLaC":
            raise NotImplementedError("malformed Ogg-FLAC BOS packet")
        out["codec"] = "flac"
        out["mapping_version"] = (hd[5], hd[6])
        out["header_packets"] = struct.unpack(">H", hd[7:9])[0]
        out["flac_headers"] = hd[9:]  # 'fLaC' + metadata blocks
    else:
        raise NotImplementedError(
            "unsupported Ogg codec (no OpusHead / FLAC mapping header)"
        )
    return out


def encode_ogg_flac(
    channels: "list[list[int]]",
    sample_rate: int = 8000,
    block_size: int = 256,
    use_lpc: bool = False,
    serial: int = 0x0F1AC,
    max_segments_per_page: int = 16,
) -> bytes:
    """FLAC-in-Ogg per the RFC 5334 mapping: the BOS page carries ONE
    packet — 0x7F 'FLAC', mapping version 1.0, a big-endian count of
    following header packets (0 here: STREAMINFO rides the BOS
    packet), then the native 'fLaC' signature + STREAMINFO — and each
    FLAC FRAME is one packet whose completing page's granule position
    is the frame's last sample number. Composes the two real kernels
    (llm.flac bitstream, RFC 3533 paging) into the distribution form
    FLAC actually streams in."""
    from . import flac as _flac

    parts: dict = {}
    _flac.encode_flac(
        channels,
        sample_rate=sample_rate,
        block_size=block_size,
        use_lpc=use_lpc,
        _parts=parts,
    )
    bos = (
        b"\x7fFLAC" + bytes([1, 0]) + struct.pack(">H", 0)
        + b"fLaC" + parts["meta"]
    )
    out = _page(_F_BOS, 0, serial, 0, bytes(_lacing(bos)), bos)

    pending: "list[tuple[int, bytes, int | None]]" = []
    for pkt, last in zip(parts["frames"], parts["frame_last_sample"]):
        lac = _lacing(pkt)
        for i, lv in enumerate(lac):
            lo = sum(lac[:i])
            pending.append(
                (lv, pkt[lo : lo + lv], last if i == len(lac) - 1 else None)
            )
    seq = 1
    pos = 0
    continued = False
    while pos < len(pending):
        chunk = pending[pos : pos + max_segments_per_page]
        pos += len(chunk)
        done = [c[2] for c in chunk if c[2] is not None]
        flags = (_F_CONTINUED if continued else 0) | (
            _F_EOS if pos >= len(pending) else 0
        )
        out += _page(
            flags,
            done[-1] if done else -1,
            serial,
            seq,
            bytes(c[0] for c in chunk),
            b"".join(c[1] for c in chunk),
        )
        seq += 1
        continued = chunk[-1][0] == 255
    return out


def decode_ogg_flac(payload: bytes) -> dict:
    """Demux an Ogg-FLAC stream and decode the audio: packets are
    reassembled (CRC-verified pages), the native FLAC stream is
    reconstituted as flac_headers + frame packets, and llm.flac
    decodes it — STREAMINFO MD5 and frame CRCs verify the PCM
    bit-exactly. Returns the decode_flac dict plus paging facts."""
    from . import flac as _flac

    d = ogg_demux(payload)
    if d.get("codec") != "flac":
        raise NotImplementedError("not an Ogg-FLAC stream")
    native = d["flac_headers"] + b"".join(
        p["data"] for p in d["packets"][1 + d["header_packets"] :]
    )
    dec = _flac.decode_flac(native)
    dec["n_pages"] = d["n_pages"]
    dec["n_frame_packets"] = len(d["packets"]) - 1 - d["header_packets"]
    dec["last_granule"] = d["packets"][-1]["granule"]
    return dec
