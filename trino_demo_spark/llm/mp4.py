"""Pure-stdlib ISO-BMFF (MP4) muxer + box-walk demuxer (the mp4 slice
of the multimodal stub, VERDICT r8 item 3).

The writer produces a real MP4: `ftyp`, `mdat` holding the raw sample
bytes in multi-sample chunks, and a trailing `moov` whose sample tables
are the genuine article — `stts` (run-length decoding times), `stsc`
(sample-to-chunk runs), `stsz` (per-sample sizes), `stco` (absolute
chunk offsets) under `trak/mdia/minf/stbl`, with a `jpeg`
VisualSampleEntry in `stsd` (the classic motion-JPEG-in-MP4/QuickTime
codec fourcc, the one video codec this container can decode without
ffmpeg — llm.jpeg).

The demuxer is the part that matters at 100 TB: a box walk that parses
ONLY headers and sample tables — 32-bit and 64-bit (`size==1`
largesize) and to-end-of-file (`size==0`) box sizes, container
descent moov→trak→mdia→minf→stbl, stts/stsc/stsz/stco expansion to
per-sample (offset, size, dts) — and slices sample bytes out of mdat
by offset. Sampling N-th frames therefore skips DECODE, not parse,
exactly like the MJPEG stream walk (llm.multimodal.frame_sample).
Truncated tables / samples past EOF raise NotImplementedError per this
package's declared error contract.

Reference parity: the reference ships media blobs opaquely
(Kafka producer scripts); demux is client-side. Here it runs
engine-side through llm.multimodal.map_doc_kernel
(mp4_sample_features).
"""

from __future__ import annotations

import struct

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts", b"dinf"}


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _full(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(btype, struct.pack(">B", version) + struct.pack(">I", flags)[1:] + payload)


def encode_mp4_samples(
    samples: "list[bytes]",
    durations: "list[int]",
    timescale: int = 30000,
    codec: bytes = b"jpeg",
    width: int = 0,
    height: int = 0,
    chunk_pattern: "tuple[int, ...]" = (3, 2),
) -> bytes:
    """Mux samples into a minimal-but-real MP4. `chunk_pattern` cycles
    samples-per-chunk (default 3,2,3,2,...) so stsc/stco carry
    non-trivial runs; `durations` are per-sample in `timescale` units
    (run-length-compressed into stts)."""
    if len(samples) != len(durations) or not samples:
        raise ValueError("samples/durations mismatch")

    # chunking: split samples into chunks per the cycling pattern
    chunks: "list[list[bytes]]" = []
    i = 0
    pi = 0
    while i < len(samples):
        take = min(chunk_pattern[pi % len(chunk_pattern)], len(samples) - i)
        chunks.append(samples[i : i + take])
        i += take
        pi += 1

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp41")
    mdat_payload = b"".join(b"".join(c) for c in chunks)
    mdat = _box(b"mdat", mdat_payload)

    # absolute chunk offsets: ftyp + mdat header precede the payload
    base = len(ftyp) + 8
    offsets = []
    pos = base
    for c in chunks:
        offsets.append(pos)
        pos += sum(len(s) for s in c)

    # stts: run-length (count, delta)
    stts_runs: "list[tuple[int, int]]" = []
    for d in durations:
        if stts_runs and stts_runs[-1][1] == d:
            stts_runs[-1] = (stts_runs[-1][0] + 1, d)
        else:
            stts_runs.append((1, d))
    stts = _full(
        b"stts", 0, 0,
        struct.pack(">I", len(stts_runs))
        + b"".join(struct.pack(">II", c, d) for c, d in stts_runs),
    )

    # stsc: runs of (first_chunk 1-based, samples_per_chunk, desc idx)
    stsc_runs: "list[tuple[int, int, int]]" = []
    for ci, c in enumerate(chunks):
        if stsc_runs and stsc_runs[-1][1] == len(c):
            continue
        stsc_runs.append((ci + 1, len(c), 1))
    stsc = _full(
        b"stsc", 0, 0,
        struct.pack(">I", len(stsc_runs))
        + b"".join(struct.pack(">III", f, n, d) for f, n, d in stsc_runs),
    )

    stsz = _full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, len(samples))
        + b"".join(struct.pack(">I", len(s)) for s in samples),
    )
    stco = _full(
        b"stco", 0, 0,
        struct.pack(">I", len(offsets))
        + b"".join(struct.pack(">I", o) for o in offsets),
    )

    # stsd: one VisualSampleEntry (78-byte ISO layout) with the codec fourcc
    vse_body = (
        b"\x00" * 6 + struct.pack(">H", 1)  # reserved + data_reference_index
        + b"\x00" * 16  # pre_defined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + struct.pack(">I", 0)  # reserved
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">H", 24)  # depth
        + struct.pack(">h", -1)  # pre_defined
    )
    stsd = _full(
        b"stsd", 0, 0, struct.pack(">I", 1) + _box(codec, vse_body)
    )

    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    total_dur = sum(durations)
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b""))
    dinf = _box(b"dinf", dref)
    minf = _box(b"minf", vmhd + dinf + stbl)
    hdlr = _full(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"VideoHandler\x00",
    )
    mdhd = _full(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, total_dur)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _full(
        b"tkhd", 0, 7,
        struct.pack(">IIII", 0, 0, 1, 0)  # times, track id 1
        + struct.pack(">I", total_dur)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, total_dur)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)  # volume
        + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),  # next track id
    )
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _walk_boxes(data: bytes, start: int, end: int):
    """Yield (fourcc, header_len, box_start, box_end) for the boxes in
    data[start:end]; handles size==0 (to end) and size==1 (largesize)."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise NotImplementedError("truncated MP4 box header")
        size = struct.unpack(">I", data[pos : pos + 4])[0]
        fourcc = data[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise NotImplementedError("truncated MP4 largesize header")
            size = struct.unpack(">Q", data[pos + 8 : pos + 16])[0]
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise NotImplementedError("truncated MP4 box")
        yield fourcc, hdr, pos, pos + size
        pos += size


def _find_box(data: bytes, start: int, end: int, path: "list[bytes]") -> "tuple[int, int]":
    lo, hi = start, end
    for want in path:
        found = None
        for fourcc, hdr, b0, b1 in _walk_boxes(data, lo, hi):
            if fourcc == want:
                found = (b0 + hdr, b1)
                break
        if found is None:
            raise NotImplementedError(f"MP4 without {want.decode()} box")
        lo, hi = found
    return lo, hi


def mp4_demux(payload: bytes) -> dict:
    """Box-walk demux: parse moov sample tables, return per-sample
    (offset, size, dts, data) plus track metadata. Only headers and
    tables are parsed — sample payloads are sliced, never decoded."""
    # top level: locate moov (works with mdat-first layout)
    moov = None
    for fourcc, hdr, b0, b1 in _walk_boxes(payload, 0, len(payload)):
        if fourcc == b"moov":
            moov = (b0 + hdr, b1)
    if moov is None:
        raise NotImplementedError("MP4 without moov box")

    stbl0, stbl1 = _find_box(
        payload, moov[0], moov[1], [b"trak", b"mdia", b"minf", b"stbl"]
    )
    mdhd0, _ = _find_box(payload, moov[0], moov[1], [b"trak", b"mdia", b"mdhd"])
    if payload[mdhd0] != 0:
        raise NotImplementedError("MP4 mdhd version 1 not supported")
    timescale, duration = struct.unpack(">II", payload[mdhd0 + 12 : mdhd0 + 20])

    tables: dict[bytes, "tuple[int, int]"] = {}
    for fourcc, hdr, b0, b1 in _walk_boxes(payload, stbl0, stbl1):
        tables[fourcc] = (b0 + hdr, b1)
    for need in (b"stsd", b"stts", b"stsc", b"stsz", b"stco"):
        if need not in tables:
            raise NotImplementedError(f"MP4 stbl without {need.decode()}")

    def full_payload(key: bytes) -> "tuple[bytes, int, int]":
        p0, p1 = tables[key]
        return payload, p0 + 4, p1  # skip version+flags

    # stsd: codec fourcc of the first sample entry
    _, p, _ = full_payload(b"stsd")
    n_entries = struct.unpack(">I", payload[p : p + 4])[0]
    if n_entries < 1:
        raise NotImplementedError("MP4 stsd without sample entries")
    codec = payload[p + 8 : p + 12].decode("ascii", "replace")

    # stsz → sizes
    _, p, p1 = full_payload(b"stsz")
    uniform, n_samples = struct.unpack(">II", payload[p : p + 8])
    if uniform:
        sizes = [uniform] * n_samples
    else:
        if p + 8 + 4 * n_samples > p1:
            raise NotImplementedError("truncated MP4 stsz table")
        sizes = list(
            struct.unpack(f">{n_samples}I", payload[p + 8 : p + 8 + 4 * n_samples])
        )

    # stts → per-sample dts
    _, p, p1 = full_payload(b"stts")
    n_runs = struct.unpack(">I", payload[p : p + 4])[0]
    if p + 4 + 8 * n_runs > p1:
        raise NotImplementedError("truncated MP4 stts table")
    dts: "list[int]" = []
    t = 0
    for r in range(n_runs):
        cnt, delta = struct.unpack(">II", payload[p + 4 + 8 * r : p + 12 + 8 * r])
        for _ in range(cnt):
            dts.append(t)
            t += delta
    if len(dts) != n_samples:
        raise NotImplementedError("MP4 stts/stsz sample count mismatch")

    # stco → chunk offsets
    _, p, p1 = full_payload(b"stco")
    n_chunks = struct.unpack(">I", payload[p : p + 4])[0]
    if p + 4 + 4 * n_chunks > p1:
        raise NotImplementedError("truncated MP4 stco table")
    chunk_offs = list(
        struct.unpack(f">{n_chunks}I", payload[p + 4 : p + 4 + 4 * n_chunks])
    )

    # stsc → samples per chunk (expand runs)
    _, p, p1 = full_payload(b"stsc")
    n_runs = struct.unpack(">I", payload[p : p + 4])[0]
    if p + 4 + 12 * n_runs > p1:
        raise NotImplementedError("truncated MP4 stsc table")
    runs = [
        struct.unpack(">III", payload[p + 4 + 12 * r : p + 16 + 12 * r])
        for r in range(n_runs)
    ]
    spc: "list[int]" = []
    for ri, (first, n_per, _desc) in enumerate(runs):
        last = runs[ri + 1][0] - 1 if ri + 1 < len(runs) else n_chunks
        spc.extend(n_per for _ in range(first, last + 1))
    if len(spc) != n_chunks:
        raise NotImplementedError("MP4 stsc does not cover all chunks")

    # expand chunk layout → per-sample offsets, slice sample bytes
    out_samples: "list[dict]" = []
    si = 0
    for ci in range(n_chunks):
        off = chunk_offs[ci]
        for _ in range(spc[ci]):
            if si >= n_samples:
                break
            size = sizes[si]
            if off + size > len(payload):
                raise NotImplementedError("MP4 sample extends past EOF (truncated mdat)")
            out_samples.append(
                {
                    "sample_idx": si,
                    "offset": off,
                    "size": size,
                    "dts": dts[si],
                    "data": payload[off : off + size],
                }
            )
            off += size
            si += 1
    if si != n_samples:
        raise NotImplementedError("MP4 chunk layout does not cover all samples")

    return {
        "codec": codec,
        "timescale": timescale,
        "duration": duration,
        "n_samples": n_samples,
        "n_chunks": n_chunks,
        "samples": out_samples,
    }
