"""Pure-stdlib FLAC codec (the lossless-audio slice of the multimodal
stub, VERDICT r8 item 3).

Implements the real FLAC bitstream (public spec, RFC 9639): `fLaC`
magic + STREAMINFO metadata block, frames with UTF-8-coded frame
numbers and CRC-8 header / CRC-16 frame checksums, subframes CONSTANT /
VERBATIM / FIXED(0-4) / LPC with rice-partitioned residuals (both
4-bit and 5-bit parameter methods, escape-to-raw partitions), wasted
bits, and the three stereo decorrelations (left/side, right/side,
mid/side). Lossless means the oracle is the strongest possible:
decode(encode(pcm)) must be BIT-IDENTICAL, and the decoder additionally
verifies the STREAMINFO MD5 of the reconstructed interleaved PCM —
any rice/predictor/CRC/decorrelation bug flips the verdict columns.

The encoder is deliberately simple-but-valid: per block per channel it
picks CONSTANT when flat, otherwise the cheapest of FIXED orders 0-2
(VERBATIM as fallback), and can emit genuine LPC subframes with a
chosen quantized coefficient set — an LPC encoder does not need
Levinson-Durbin to be bit-exact, only to compute residuals with the
same integer prediction the decoder reverses. Perceptual codecs
(mp3/aac/opus) remain declared stubs in llm.multimodal.

Reference parity: the reference pipeline ships raw media bytes through
Kafka/Trino as opaque blobs (reference producer scripts); decoding is
client-side. Here the codec runs engine-side through
llm.multimodal.map_doc_kernel (see flac_roundtrip_features).
"""

from __future__ import annotations

import hashlib
import struct

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class _BitWriter:
    def __init__(self) -> None:
        self._buf = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._nbits += nbits
        while self._nbits >= 8:
            self._nbits -= 8
            self._buf.append((self._acc >> self._nbits) & 0xFF)
        self._acc &= (1 << self._nbits) - 1

    def write_signed(self, value: int, nbits: int) -> None:
        self.write(value & ((1 << nbits) - 1), nbits)

    def write_unary(self, q: int) -> None:
        # FLAC unary: q zero bits then a one bit.
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self._nbits:
            self.write(0, 8 - self._nbits)

    def getvalue(self) -> bytes:
        assert self._nbits == 0
        return bytes(self._buf)


class _BitReader:
    def __init__(self, data: bytes, pos_bytes: int = 0) -> None:
        self._data = data
        self._pos = pos_bytes * 8

    def read(self, nbits: int) -> int:
        end = self._pos + nbits
        if end > len(self._data) * 8:
            raise NotImplementedError("truncated FLAC bitstream")
        out = 0
        pos = self._pos
        while nbits:
            byte = self._data[pos >> 3]
            avail = 8 - (pos & 7)
            take = min(avail, nbits)
            shift = avail - take
            out = (out << take) | ((byte >> shift) & ((1 << take) - 1))
            pos += take
            nbits -= take
        self._pos = pos
        return out

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if v >> (nbits - 1) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 20:
                raise NotImplementedError("corrupt FLAC unary run")
        return q

    def align(self) -> None:
        self._pos = (self._pos + 7) & ~7

    def byte_pos(self) -> int:
        return self._pos >> 3


def _zigzag(x: int) -> int:
    return (x << 1) if x >= 0 else (-(x << 1) - 1)


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _utf8_coded(n: int) -> bytes:
    """FLAC's UTF-8-style variable-length number (frame header)."""
    if n < 0x80:
        return bytes([n])
    out = []
    nbytes = 2
    # nbytes bytes carry (7 - nbytes) + 6 * (nbytes - 1) = 5*nbytes + 1 bits
    while n >= (1 << (5 * nbytes + 1)):
        nbytes += 1
    # leading byte: nbytes ones, a zero, then high bits
    lead_ones = (0xFF << (8 - nbytes)) & 0xFF
    shift = 6 * (nbytes - 1)
    out.append(lead_ones | (n >> shift))
    for i in range(nbytes - 2, -1, -1):
        out.append(0x80 | ((n >> (6 * i)) & 0x3F))
    return bytes(out)


def _read_utf8_coded(br: _BitReader) -> int:
    first = br.read(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise NotImplementedError("corrupt FLAC frame number")
    n = first & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        cont = br.read(8)
        if cont & 0xC0 != 0x80:
            raise NotImplementedError("corrupt FLAC frame number")
        n = (n << 6) | (cont & 0x3F)
    return n


def _rice_cost(residual: "list[int]", param: int) -> int:
    return sum((_zigzag(r) >> param) + 1 + param for r in residual)


def _best_rice_param(residual: "list[int]") -> int:
    best, best_cost = 0, None
    for p in range(15):
        c = _rice_cost(residual, p)
        if best_cost is None or c < best_cost:
            best, best_cost = p, c
        elif c > best_cost * 2:
            break
    return best


def _write_residual(bw: _BitWriter, residual: "list[int]", order: int, block: int) -> None:
    """Rice-coded residual, partition order 1 when the block splits
    evenly (exercises multi-partition decode), else 0."""
    porder = 1 if block % 2 == 0 and (block >> 1) > order else 0
    bw.write(0, 2)  # coding method 0: 4-bit rice
    bw.write(porder, 4)
    nparts = 1 << porder
    idx = 0
    for part in range(nparts):
        n = (block >> porder) - (order if part == 0 else 0)
        chunk = residual[idx : idx + n]
        idx += n
        param = _best_rice_param(chunk)
        bw.write(param, 4)
        for r in chunk:
            u = _zigzag(r)
            bw.write_unary(u >> param)
            bw.write(u & ((1 << param) - 1), param)


def _read_residual(br: _BitReader, order: int, block: int) -> "list[int]":
    method = br.read(2)
    if method > 1:
        raise NotImplementedError("reserved FLAC residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.read(4)
    out: "list[int]" = []
    nparts = 1 << porder
    if block % nparts != 0:
        raise NotImplementedError("corrupt FLAC partition order")
    for part in range(nparts):
        n = (block >> porder) - (order if part == 0 else 0)
        if n < 0:
            raise NotImplementedError("corrupt FLAC partition order")
        param = br.read(pbits)
        if param == escape:
            raw = br.read(5)
            out.extend(br.read_signed(raw) if raw else 0 for _ in range(n))
        else:
            for _ in range(n):
                q = br.read_unary()
                u = (q << param) | br.read(param)
                out.append(_unzigzag(u))
    return out


def _predict_fixed(warm: "list[int]", residual: "list[int]", order: int) -> "list[int]":
    out = list(warm)
    coefs = _FIXED_COEFS[order]
    for r in residual:
        pred = sum(c * out[-1 - j] for j, c in enumerate(coefs))
        out.append(r + pred)
    return out


def _encode_subframe(
    bw: _BitWriter, samples: "list[int]", bps: int, use_lpc: bool
) -> None:
    n = len(samples)
    if n and all(s == samples[0] for s in samples):
        bw.write(0, 1)
        bw.write(0, 6)  # CONSTANT
        bw.write(0, 1)  # no wasted bits
        bw.write_signed(samples[0], bps)
        return
    if use_lpc and n > 8:
        # Genuine LPC subframe with a chosen quantized coefficient set
        # (coefs [3,-3,1], shift 1): prediction = (3a-3b+c)>>1, exact
        # integer math both sides, so reconstruction is bit-perfect.
        order, coefs, shift, prec = 3, [3, -3, 1], 1, 4
        residual = [
            samples[i]
            - ((sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))) >> shift)
            for i in range(order, n)
        ]
        bw.write(0, 1)
        bw.write(0x20 | (order - 1), 6)  # LPC, order bits = order-1
        bw.write(0, 1)
        for w in samples[:order]:
            bw.write_signed(w, bps)
        bw.write(prec - 1, 4)
        bw.write_signed(shift, 5)
        for c in coefs:
            bw.write_signed(c, prec)
        _write_residual(bw, residual, order, n)
        return
    best_order, best_res, best_cost = None, None, None
    for order in range(min(3, n) + 1):
        coefs = _FIXED_COEFS[order]
        res = [
            samples[i] - sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
            for i in range(order, n)
        ]
        cost = order * bps + _rice_cost(res, _best_rice_param(res))
        if best_cost is None or cost < best_cost:
            best_order, best_res, best_cost = order, res, cost
    if best_cost is None or best_cost >= n * bps:
        bw.write(0, 1)
        bw.write(1, 6)  # VERBATIM
        bw.write(0, 1)
        for s in samples:
            bw.write_signed(s, bps)
        return
    bw.write(0, 1)
    bw.write(0b001000 | best_order, 6)  # FIXED
    bw.write(0, 1)
    for w in samples[:best_order]:
        bw.write_signed(w, bps)
    _write_residual(bw, best_res, best_order, n)


def _decode_subframe(br: _BitReader, n: int, bps: int) -> "list[int]":
    if br.read(1) != 0:
        raise NotImplementedError("corrupt FLAC subframe pad bit")
    ftype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
        bps -= wasted
    if ftype == 0:  # CONSTANT
        v = br.read_signed(bps)
        out = [v] * n
    elif ftype == 1:  # VERBATIM
        out = [br.read_signed(bps) for _ in range(n)]
    elif 8 <= ftype <= 12:  # FIXED
        order = ftype & 7
        warm = [br.read_signed(bps) for _ in range(order)]
        out = _predict_fixed(warm, _read_residual(br, order, n), order)
    elif ftype >= 0x20:  # LPC
        order = (ftype & 0x1F) + 1
        warm = [br.read_signed(bps) for _ in range(order)]
        prec = br.read(4) + 1
        if prec == 16:
            raise NotImplementedError("invalid FLAC LPC precision")
        shift = br.read_signed(5)
        if shift < 0:
            raise NotImplementedError("negative FLAC LPC shift")
        coefs = [br.read_signed(prec) for _ in range(order)]
        residual = _read_residual(br, order, n)
        out = list(warm)
        for r in residual:
            pred = sum(c * out[-1 - j] for j, c in enumerate(coefs)) >> shift
            out.append(r + pred)
    else:
        raise NotImplementedError(f"reserved FLAC subframe type {ftype}")
    if wasted:
        out = [s << wasted for s in out]
    return out


_BLOCKSIZE_CODES = {192: 1, 576: 2, 1152: 3, 2304: 4, 4608: 5,
                    256: 8, 512: 9, 1024: 10, 2048: 11, 4096: 12,
                    8192: 13, 16384: 14, 32768: 15}
_RATE_CODES = {88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5,
               22050: 6, 24000: 7, 32000: 8, 44100: 9, 48000: 10,
               96000: 11}


def encode_flac(
    channels: "list[list[int]]",
    sample_rate: int = 8000,
    bps: int = 16,
    block_size: int = 256,
    stereo_mode: str = "auto",
    use_lpc: bool = False,
    _parts: "dict | None" = None,
) -> bytes:
    """Encode PCM channels to a real FLAC stream. `stereo_mode`:
    'indep' forces independent channels; 'auto' cycles
    mid-side / left-side / right-side / independent per block for
    2-channel input (exercises every decorrelation decode path).
    `_parts`, when a dict, receives the STREAMINFO metadata block and
    the per-frame byte strings + last-sample positions — the pieces
    the Ogg-FLAC mapping (llm.ogg.encode_ogg_flac) packetizes."""
    nch = len(channels)
    if nch not in (1, 2):
        raise NotImplementedError("only mono/stereo FLAC encode supported")
    if bps != 16:
        raise NotImplementedError("only 16-bit FLAC encode supported")
    n_total = len(channels[0])
    if any(len(c) != n_total for c in channels):
        raise ValueError("channel length mismatch")

    md5 = hashlib.md5()
    for i in range(n_total):
        for ch in channels:
            md5.update(struct.pack("<h", ch[i]))

    frames = bytearray()
    frame_list: "list[bytes]" = []
    frame_last_sample: "list[int]" = []
    n_frames = 0
    for start in range(0, n_total, block_size):
        block = [ch[start : start + block_size] for ch in channels]
        n = len(block[0])
        hdr = _BitWriter()
        hdr.write(0b11111111111110, 14)
        hdr.write(0, 1)  # reserved
        hdr.write(0, 1)  # fixed blocking
        bs_code = _BLOCKSIZE_CODES.get(n, 7)  # 7: 16-bit at end of header
        hdr.write(bs_code, 4)
        sr_code = _RATE_CODES.get(sample_rate, 0)
        hdr.write(sr_code, 4)
        if nch == 2 and stereo_mode == "auto":
            chan_assign = (10, 8, 9, 1)[n_frames % 4]
        else:
            chan_assign = nch - 1
        hdr.write(chan_assign, 4)
        hdr.write(0b100, 3)  # 16 bps
        hdr.write(0, 1)  # reserved — fixed fields total 32 bits, byte-aligned
        header = bytearray(hdr.getvalue())
        header += _utf8_coded(n_frames)
        if bs_code == 7:
            header += struct.pack(">H", n - 1)
        header.append(_crc8(bytes(header)))

        body = _BitWriter()
        if chan_assign == 10:  # mid/side
            mid = [(block[0][i] + block[1][i]) >> 1 for i in range(n)]
            side = [block[0][i] - block[1][i] for i in range(n)]
            _encode_subframe(body, mid, 16, use_lpc)
            _encode_subframe(body, side, 17, use_lpc)
        elif chan_assign == 8:  # left/side
            side = [block[0][i] - block[1][i] for i in range(n)]
            _encode_subframe(body, block[0], 16, use_lpc)
            _encode_subframe(body, side, 17, use_lpc)
        elif chan_assign == 9:  # right/side
            side = [block[0][i] - block[1][i] for i in range(n)]
            _encode_subframe(body, side, 17, use_lpc)
            _encode_subframe(body, block[1], 16, use_lpc)
        else:
            for ch in block:
                _encode_subframe(body, ch, 16, use_lpc)
        body.align()
        frame = bytes(header) + body.getvalue()
        framed = frame + struct.pack(">H", _crc16(frame))
        frames += framed
        frame_list.append(framed)
        frame_last_sample.append(min(start + block_size, n_total))
        n_frames += 1

    si = _BitWriter()
    si.write(block_size, 16)  # min block size
    si.write(block_size, 16)  # max block size
    si.write(0, 24)  # min frame size unknown
    si.write(0, 24)  # max frame size unknown
    si.write(sample_rate, 20)
    si.write(nch - 1, 3)
    si.write(bps - 1, 5)
    si.write(n_total, 36)
    streaminfo = si.getvalue() + md5.digest()
    meta = bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:] + streaminfo
    if _parts is not None:
        _parts["meta"] = meta
        _parts["frames"] = frame_list
        _parts["frame_last_sample"] = frame_last_sample
    return b"fLaC" + meta + bytes(frames)


def decode_flac(payload: bytes) -> dict:
    """Decode a FLAC stream; verifies chunk CRC-8/CRC-16 and the
    STREAMINFO MD5 of the reconstructed PCM. Returns
    {sample_rate, channels, bps, n_samples, samples, md5_ok,
    n_frames, subframe note fields}."""
    if payload[:4] != b"fLaC":
        raise NotImplementedError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise NotImplementedError("truncated FLAC metadata")
        hdr = payload[pos]
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        btype = hdr & 0x7F
        if pos + 4 + blen > len(payload):
            raise NotImplementedError("truncated FLAC metadata block")
        if btype == 0:
            streaminfo = payload[pos + 4 : pos + 4 + blen]
        pos += 4 + blen
        if hdr & 0x80:
            break
    if streaminfo is None or len(streaminfo) != 34:
        raise NotImplementedError("FLAC stream without STREAMINFO")
    sr_bits = _BitReader(streaminfo)
    sr_bits.read(16)
    sr_bits.read(16)
    sr_bits.read(24)
    sr_bits.read(24)
    sample_rate = sr_bits.read(20)
    nch = sr_bits.read(3) + 1
    bps = sr_bits.read(5) + 1
    n_total = sr_bits.read(36)
    md5_expect = streaminfo[18:34]
    if nch > 2:
        raise NotImplementedError("only mono/stereo FLAC decode supported")

    out: "list[list[int]]" = [[] for _ in range(nch)]
    n_frames = 0
    while pos < len(payload):
        br = _BitReader(payload, pos)
        sync = br.read(14)
        if sync != 0b11111111111110:
            raise NotImplementedError("lost FLAC frame sync")
        if br.read(1) != 0:
            raise NotImplementedError("reserved FLAC frame bit")
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        chan_assign = br.read(4)
        ss_code = br.read(3)
        if br.read(1) != 0:
            raise NotImplementedError("reserved FLAC frame bit")
        _read_utf8_coded(br)
        if bs_code == 0:
            raise NotImplementedError("reserved FLAC block size code")
        if bs_code == 1:
            n = 192
        elif 2 <= bs_code <= 5:
            n = 576 << (bs_code - 2)
        elif bs_code == 6:
            n = br.read(8) + 1
        elif bs_code == 7:
            n = br.read(16) + 1
        else:
            n = 256 << (bs_code - 8)
        if sr_code == 12:
            br.read(8)
        elif sr_code in (13, 14):
            br.read(16)
        elif sr_code == 15:
            raise NotImplementedError("invalid FLAC sample rate code")
        hdr_end = br.byte_pos()
        crc8_read = br.read(8)
        if _crc8(payload[pos:hdr_end]) != crc8_read:
            raise NotImplementedError("FLAC frame header CRC-8 mismatch")
        if ss_code != 0b100:
            raise NotImplementedError("only 16-bit FLAC decode supported")

        if chan_assign <= 7:
            if chan_assign + 1 != nch:
                raise NotImplementedError("FLAC channel count mismatch")
            chans = [_decode_subframe(br, n, 16) for _ in range(nch)]
        elif chan_assign == 8:  # left/side
            left = _decode_subframe(br, n, 16)
            side = _decode_subframe(br, n, 17)
            chans = [left, [left[i] - side[i] for i in range(n)]]
        elif chan_assign == 9:  # right/side
            side = _decode_subframe(br, n, 17)
            right = _decode_subframe(br, n, 16)
            chans = [[right[i] + side[i] for i in range(n)], right]
        elif chan_assign == 10:  # mid/side
            mid = _decode_subframe(br, n, 16)
            side = _decode_subframe(br, n, 17)
            chans = [[], []]
            for i in range(n):
                m2 = (mid[i] << 1) | (side[i] & 1)
                chans[0].append((m2 + side[i]) >> 1)
                chans[1].append((m2 - side[i]) >> 1)
        else:
            raise NotImplementedError("reserved FLAC channel assignment")
        br.align()
        frame_end = br.byte_pos()
        crc16_read = br.read(16)
        if _crc16(payload[pos:frame_end]) != crc16_read:
            raise NotImplementedError("FLAC frame CRC-16 mismatch")
        for c in range(nch):
            out[c].extend(chans[c])
        pos = br.byte_pos()
        n_frames += 1

    if any(len(c) != n_total for c in out):
        raise NotImplementedError("FLAC sample count mismatch vs STREAMINFO")
    md5 = hashlib.md5()
    for i in range(n_total):
        for ch in out:
            md5.update(struct.pack("<h", ch[i]))
    return {
        "sample_rate": sample_rate,
        "channels": nch,
        "bps": bps,
        "n_samples": n_total,
        "samples": out,
        "md5_ok": md5.digest() == md5_expect,
        "n_frames": n_frames,
    }
