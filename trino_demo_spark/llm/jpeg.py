"""Baseline JPEG codec (ITU-T T.81, public spec) — grayscale AND color
(YCbCr 4:4:4 / 4:2:2 / 4:2:0), pure stdlib + numpy block DCT. Closes
the JPEG half of the multimodal image stubs the same way the
PNG/PPM/WAV kernels were closed: a REAL encoder + decoder pair
exercised end-to-end through multimodal.map_doc_kernel
(multimodal.jpeg_roundtrip_features / jpeg_color_roundtrip_features),
with the lossy-codec twist that the driver surface is a TOLERANCE
VERDICT rather than a bit-exact feature compare (quantization + chroma
subsampling make decoded != source by design, so a DuckDB oracle
cannot recompute pixel features from the source formula; it checks the
exact dims/byte counts plus boolean error-bound verdicts instead — the
llm_dedup_minhash verdict pattern).

Scope (declared, like every kernel contract in multimodal.py):
- ENCODER: baseline sequential DCT, 8-bit. Grayscale (single luma
  component) or JFIF YCbCr color (T.871 full-range transform) at
  4:4:4, 4:2:2, or 4:2:0 chroma subsampling (box-average downsample);
  quality-scaled Annex-K K.1 luma / K.2 chroma quantization tables,
  custom fixed-length Huffman tables (DC: all 4-bit, AC: all 9-bit),
  shared across components. Custom tables are spec-legal — JPEG
  Huffman tables are STREAM-DECLARED in DHT segments, and canonical
  fixed-length specs satisfy T.81 C.2 (no code is all-ones, Kraft sum
  < 1) — chosen over transcribing the 162-entry Annex-K AC table,
  which would be an untestable-by-parts constant; any
  standards-compliant decoder reads these files.
- DECODER (`decode_jpeg`): general baseline 1- or 3-component
  interleaved scan: parses DQT/DHT/SOF0/SOS from the stream (NOT
  hardwired to this encoder's tables — per-component sampling factors
  up to 2x2, per-component quant/huffman table selectors), handles
  0xFF fill bytes and standalone markers in the header walk (T.81
  B.1.1.2), byte unstuffing, huffman-decodes DC diffs + AC
  run-lengths, dequantizes, inverse-zigzags, IDCTs, replication-
  upsamples chroma, applies the T.871 YCbCr→RGB transform, clamps,
  crops edge padding. 3-component SOF order is taken as Y,Cb,Cr per
  JFIF (ids 1,2,3); Adobe APP14 color transforms are not interpreted.
- PROGRESSIVE (SOF2), full ladder: the decoder handles multi-scan
  streams — interleaved or single-component DC scans, non-interleaved
  AC scans with EOB-run (EOBn) coding, AND successive approximation
  (point-transformed first scans at any Al; DC refinement raw bits;
  AC refinement per T.81 G.1.2.3 with correction bits consumed across
  EOB-run regions — the libjpeg decode_mcu_AC_refine shape) —
  accumulating quantized coefficients per component and running
  dequant+IDCT once at EOI. `encode_jpeg_progressive` emits either
  pure spectral selection or (successive=True) the libjpeg-shaped SA
  ladder with correction-bit buffering; both decode BIT-IDENTICAL to
  the baseline encoding of the same raster, which is the plumbing
  oracle.
- NOT supported, per the module error contract (NotImplementedError,
  never a raw struct/index error): refinement scans with
  Ah != Al + 1, every non-SOF0/SOF2 frame type, CMYK/4-component
  frames, non-interleaved baseline scans, sampling factors > 2 or
  fractional ratios, 16-bit quant tables, arithmetic coding. Restart
  intervals (DRI/RSTn) ARE supported in both directions: every
  encoder takes restart_interval (DC-predictor/EOB-run reset +
  modulo-8 RSTn sequence check), and the decoder enforces the
  declared interval in baseline and progressive scans.
"""

from __future__ import annotations

import struct

import numpy as np

# ITU-T T.81 Annex K.1 luminance quantization table (public constants).
_LUMA_Q = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)


# ITU-T T.81 Annex K.2 chrominance quantization table (public constants).
_CHROMA_Q = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int64,
)


def _quant_table(quality: int, base: np.ndarray = _LUMA_Q) -> np.ndarray:
    """IJG quality scaling of an Annex-K table (public formula)."""
    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (base * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int32)


def _zigzag() -> "list[int]":
    cells = [(r, c) for r in range(8) for c in range(8)]
    cells.sort(
        key=lambda rc: (
            rc[0] + rc[1],
            rc[0] if (rc[0] + rc[1]) % 2 else -rc[0],
        )
    )
    return [r * 8 + c for r, c in cells]


_ZIGZAG = _zigzag()  # position k -> flat row-major index


def _dct_matrix() -> np.ndarray:
    n = np.arange(8)
    c = np.cos(np.pi * (2 * n[None, :] + 1) * n[:, None] / 16) * np.sqrt(0.25)
    c[0] *= np.sqrt(0.5)
    return c


_C = _dct_matrix()

# Custom canonical Huffman specs (BITS counts per code length 1..16,
# then symbol values in order). DC: 12 size-symbols, all 4-bit codes;
# AC: EOB + ZRL + (run 0..15 x size 1..10), all 9-bit codes.
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_VALS = (
    [0x00, 0xF0]
    + [(run << 4) | size for run in range(16) for size in range(1, 11)]
    # EOBn symbols (run<<4, size 0) for progressive EOB-run coding —
    # category 1..14 covers runs up to 32767 (T.81 G.1.2.2); harmless
    # surplus alphabet entries in baseline scans
    + [run << 4 for run in range(1, 15)]
)
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 0, len(_AC_VALS), 0, 0, 0, 0, 0, 0, 0]


def _canonical_codes(bits: "list[int]", vals: "list[int]"):
    """T.81 C.2 canonical code assignment: {symbol: (code, length)}."""
    codes = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return codes


_DC_CODES = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_CODES = _canonical_codes(_AC_BITS, _AC_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                b = self.acc
                self.buf.append(b)
                if b == 0xFF:  # byte stuffing
                    self.buf.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.acc = (self.acc << pad) | ((1 << pad) - 1)
            b = self.acc
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
            self.acc = 0
            self.nbits = 0


def _magnitude(v: int) -> "tuple[int, int]":
    """(size, bits) per T.81 F.1.2.1: negatives encode as v-1 in the
    low `size` bits (one's-complement style)."""
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _encode_block(
    w: "_BitWriter", block: np.ndarray, qt: np.ndarray, prev_dc: int
) -> int:
    """FDCT + quantize + entropy-code one 8x8 level-shifted block;
    returns the block's quantized DC (the next block's predictor)."""
    coefs = _C @ block @ _C.T
    q = np.round(coefs / qt).astype(np.int64)
    # AC size caps at 10 in the symbol alphabet; clamping is a (lossy)
    # spec-alphabet bound, like every real encoder's quant floor at
    # those frequencies
    zz = [int(q.flat[_ZIGZAG[k]]) for k in range(64)]
    zz[1:] = [max(-1023, min(1023, v)) for v in zz[1:]]
    diff = zz[0] - prev_dc
    size, bits = _magnitude(diff)
    code, length = _DC_CODES[size]
    w.write(code, length)
    if size:
        w.write(bits, size)
    run = 0
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            c0, l0 = _AC_CODES[0xF0]
            w.write(c0, l0)
            run -= 16
        size, bits = _magnitude(v)
        c0, l0 = _AC_CODES[(run << 4) | size]
        w.write(c0, l0)
        w.write(bits, size)
        run = 0
    if run:
        c0, l0 = _AC_CODES[0x00]  # EOB
        w.write(c0, l0)
    return zz[0]


def _pad_replicate(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    """Edge-replicate a 2-D plane up to (ph, pw) — the standard MCU
    padding (the decoder crops back to the declared dims)."""
    h, w = plane.shape
    out = np.empty((ph, pw), dtype=np.float64)
    out[:h, :w] = plane
    if ph > h:
        out[h:, :w] = out[h - 1 : h, :w]
    if pw > w:
        out[:, w:] = out[:, w - 1 : w]
    return out


def _emit_restart(w: "_BitWriter", nrst: int) -> int:
    """Close the entropy interval at a restart boundary: byte-align
    (1-padding + stuffing via flush) and append RST(nrst % 8)."""
    w.flush()
    w.buf += bytes([0xFF, 0xD0 + (nrst % 8)])
    return nrst + 1


def encode_jpeg_gray(
    width: int,
    height: int,
    pixels: bytes,
    quality: int = 90,
    restart_interval: int = 0,
) -> bytes:
    """Baseline grayscale JPEG writer. `pixels` is row-major 8-bit
    luma, len == width*height. Edge-replicates to 8x8 block multiples
    (the decoder crops back). restart_interval > 0 emits a DRI segment
    and RSTn markers every that many MCUs (DC predictor reset) — the
    camera-firmware resilience shape."""
    if len(pixels) != width * height:
        raise ValueError("len(pixels) must be width*height")
    qt = _quant_table(quality)
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    bh = (height + 7) // 8 * 8
    bw_ = (width + 7) // 8 * 8
    padded = np.empty((bh, bw_), dtype=np.float64)
    padded[:height, :width] = img
    padded[height:, :width] = img[-1:, :]
    padded[:, width:] = padded[:, width - 1 : width]

    w = _BitWriter()
    prev_dc = 0
    mcu_i = nrst = 0
    for by in range(0, bh, 8):
        for bx in range(0, bw_, 8):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                nrst = _emit_restart(w, nrst)
                prev_dc = 0
            prev_dc = _encode_block(
                w, padded[by : by + 8, bx : bx + 8] - 128.0, qt, prev_dc
            )
            mcu_i += 1
    w.flush()

    dqt = bytes([0x00]) + bytes(int(qt.flat[_ZIGZAG[k]]) for k in range(64))
    sof0 = struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    dht = (
        bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
        + bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    dri = (
        _seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + _seg(0xDB, dqt)
        + _seg(0xC0, sof0)
        + _seg(0xC4, dht)
        + dri
        + _seg(0xDA, sos)
        + bytes(w.buf)
        + b"\xff\xd9"
    )


_SUBSAMPLING = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}


def encode_jpeg_color(
    width: int,
    height: int,
    pixels: bytes,
    quality: int = 90,
    subsampling: str = "420",
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF color JPEG writer. `pixels` is row-major
    interleaved 8-bit RGB, len == width*height*3. T.871 full-range
    RGB→YCbCr, box-average chroma downsample at the requested
    subsampling ('444'/'422'/'420'), Annex-K K.1/K.2 quant tables,
    interleaved 3-component scan (the universal crawl-corpus shape).
    restart_interval > 0 emits DRI + RSTn every that many MCUs."""
    if len(pixels) != width * height * 3:
        raise ValueError("len(pixels) must be width*height*3")
    if subsampling not in _SUBSAMPLING:
        raise ValueError(f"subsampling must be one of {sorted(_SUBSAMPLING)}")
    hy, vy = _SUBSAMPLING[subsampling]
    rgb = (
        np.frombuffer(pixels, dtype=np.uint8)
        .reshape(height, width, 3)
        .astype(np.float64)
    )
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    # ITU-T T.871 (JFIF) full-range transform
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b

    # luma plane padded to MCU multiples; chroma subsampled from the
    # padded plane so its own dims land exactly on 8x8 blocks
    lh = (height + 8 * vy - 1) // (8 * vy) * (8 * vy)
    lw = (width + 8 * hy - 1) // (8 * hy) * (8 * hy)
    yp = _pad_replicate(y, lh, lw)
    cbp = _pad_replicate(cb, lh, lw)
    crp = _pad_replicate(cr, lh, lw)
    if (hy, vy) != (1, 1):
        cbp = cbp.reshape(lh // vy, vy, lw // hy, hy).mean(axis=(1, 3))
        crp = crp.reshape(lh // vy, vy, lw // hy, hy).mean(axis=(1, 3))

    qt_l = _quant_table(quality, _LUMA_Q)
    qt_c = _quant_table(quality, _CHROMA_Q)
    comps = [  # (plane, qt, h, v)
        (yp, qt_l, hy, vy),
        (cbp, qt_c, 1, 1),
        (crp, qt_c, 1, 1),
    ]
    w = _BitWriter()
    prev = [0, 0, 0]
    mcu_i = nrst = 0
    for my in range(lh // (8 * vy)):
        for mx in range(lw // (8 * hy)):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                nrst = _emit_restart(w, nrst)
                prev = [0, 0, 0]
            mcu_i += 1
            for ci, (plane, qt, ch, cv) in enumerate(comps):
                for bv in range(cv):
                    for bh_ in range(ch):
                        py = (my * cv + bv) * 8
                        px = (mx * ch + bh_) * 8
                        prev[ci] = _encode_block(
                            w,
                            plane[py : py + 8, px : px + 8] - 128.0,
                            qt,
                            prev[ci],
                        )
    w.flush()

    dqt = (
        bytes([0x00])
        + bytes(int(qt_l.flat[_ZIGZAG[k]]) for k in range(64))
        + bytes([0x01])
        + bytes(int(qt_c.flat[_ZIGZAG[k]]) for k in range(64))
    )
    sof0 = struct.pack(">BHHB", 8, height, width, 3) + bytes(
        [1, (hy << 4) | vy, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    dht = (
        bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
        + bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    # all three components share huffman pair (0,0) — spec-legal, the
    # tables are stream-declared and component-selected in SOS
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    dri = (
        _seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + _seg(0xDB, dqt)
        + _seg(0xC0, sof0)
        + _seg(0xC4, dht)
        + dri
        + _seg(0xDA, sos)
        + bytes(w.buf)
        + b"\xff\xd9"
    )


def _quantized_zz_blocks(plane: np.ndarray, qt: np.ndarray):
    """FDCT + quantize every 8x8 block of a padded plane → nested list
    of zigzag-ordered coefficient lists (the progressive encoder needs
    all blocks up front because scans revisit them)."""
    bh, bw = plane.shape
    rows = []
    for by in range(0, bh, 8):
        row = []
        for bx in range(0, bw, 8):
            block = plane[by : by + 8, bx : bx + 8] - 128.0
            q = np.round((_C @ block @ _C.T) / qt).astype(np.int64)
            zz = [int(q.flat[_ZIGZAG[k]]) for k in range(64)]
            zz[1:] = [max(-1023, min(1023, v)) for v in zz[1:]]
            row.append(zz)
        rows.append(row)
    return rows


class _EobRun:
    """Progressive AC-scan EOB-run accumulator (T.81 G.1.2.2): blocks
    whose band ends early merge into one EOBn symbol — category
    floor(log2(n)) plus that many extra bits — flushed before the next
    coded coefficient or at scan end."""

    def __init__(self, w: "_BitWriter") -> None:
        self.w = w
        self.n = 0

    def bump(self) -> None:
        self.n += 1
        if self.n == 32767:  # max representable at category 14
            self.flush()

    def flush(self) -> None:
        if not self.n:
            return
        cat = self.n.bit_length() - 1
        c0, l0 = _AC_CODES[cat << 4]
        self.w.write(c0, l0)
        if cat:
            self.w.write(self.n - (1 << cat), cat)
        self.n = 0


def _write_ac_band(
    w: "_BitWriter", eob: "_EobRun", zz: "list[int]", lo: int, hi: int
) -> None:
    """Progressive AC-first coding of one block's zz[lo..hi] band:
    ZRL runs + coefficients, with the trailing-zero tail folded into
    the shared EOB-run accumulator."""
    last = hi
    while last >= lo and zz[last] == 0:
        last -= 1
    if last < lo:  # whole band empty: one more block in the EOB run
        eob.bump()
        return
    eob.flush()  # pending run must be coded before this block's symbols
    run = 0
    for k in range(lo, last + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            c0, l0 = _AC_CODES[0xF0]
            w.write(c0, l0)
            run -= 16
        size, bits = _magnitude(v)
        c0, l0 = _AC_CODES[(run << 4) | size]
        w.write(c0, l0)
        w.write(bits, size)
        run = 0
    if last < hi:  # trailing zeros: this block starts/extends a run
        eob.bump()


def encode_jpeg_progressive(
    width: int,
    height: int,
    pixels: bytes,
    quality: int = 90,
    subsampling: str = "420",
    restart_interval: int = 0,
    successive: bool = False,
) -> bytes:
    """Progressive JPEG writer (SOF2). Default layout: one interleaved
    DC scan (Ss=0, Se=0) + one full-band AC scan per component (Ss=1,
    Se=63, non-interleaved per spec), Ah=Al=0 — pure spectral
    selection. successive=True emits the libjpeg-shaped
    SUCCESSIVE-APPROXIMATION ladder: DC first at Al=1 + a DC
    refinement scan, then per-component AC first scans at Al=1 + AC
    refinement scans (correction-bit buffering behind open EOB runs,
    cjpeg's encode_mcu_AC_refine emission order) — the full precision
    lands exactly on the baseline quantized coefficients, which is the
    decoder's identity oracle. Grayscale input (len == w*h) or RGB
    (len == 3*w*h, YCbCr at the requested subsampling). Consecutive
    blocks with empty bands merge into real EOBn runs (T.81 G.1.2.2),
    so any standards-compliant progressive decoder reads these files
    and the EOB-run decode path is exercised by every flat region."""
    if len(pixels) == width * height:
        qt_l = _quant_table(quality, _LUMA_Q)
        img = (
            np.frombuffer(pixels, dtype=np.uint8)
            .reshape(height, width)
            .astype(np.float64)
        )
        lh = (height + 7) // 8 * 8
        lw = (width + 7) // 8 * 8
        comps = [
            {"id": 1, "h": 1, "v": 1, "tq": 0,
             "zz": _quantized_zz_blocks(_pad_replicate(img, lh, lw), qt_l)}
        ]
        hy = vy = 1
        mcux, mcuy = lw // 8, lh // 8
        dqt = bytes([0x00]) + bytes(
            int(qt_l.flat[_ZIGZAG[k]]) for k in range(64)
        )
    elif len(pixels) == width * height * 3:
        if subsampling not in _SUBSAMPLING:
            raise ValueError(
                f"subsampling must be one of {sorted(_SUBSAMPLING)}"
            )
        hy, vy = _SUBSAMPLING[subsampling]
        qt_l = _quant_table(quality, _LUMA_Q)
        qt_c = _quant_table(quality, _CHROMA_Q)
        rgb = (
            np.frombuffer(pixels, dtype=np.uint8)
            .reshape(height, width, 3)
            .astype(np.float64)
        )
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
        lh = (height + 8 * vy - 1) // (8 * vy) * (8 * vy)
        lw = (width + 8 * hy - 1) // (8 * hy) * (8 * hy)
        yp = _pad_replicate(y, lh, lw)
        cbp = _pad_replicate(cb, lh, lw)
        crp = _pad_replicate(cr, lh, lw)
        if (hy, vy) != (1, 1):
            cbp = cbp.reshape(lh // vy, vy, lw // hy, hy).mean(axis=(1, 3))
            crp = crp.reshape(lh // vy, vy, lw // hy, hy).mean(axis=(1, 3))
        comps = [
            {"id": 1, "h": hy, "v": vy, "tq": 0,
             "zz": _quantized_zz_blocks(yp, qt_l)},
            {"id": 2, "h": 1, "v": 1, "tq": 1,
             "zz": _quantized_zz_blocks(cbp, qt_c)},
            {"id": 3, "h": 1, "v": 1, "tq": 1,
             "zz": _quantized_zz_blocks(crp, qt_c)},
        ]
        mcux, mcuy = lw // (8 * hy), lh // (8 * vy)
        dqt = (
            bytes([0x00])
            + bytes(int(qt_l.flat[_ZIGZAG[k]]) for k in range(64))
            + bytes([0x01])
            + bytes(int(qt_c.flat[_ZIGZAG[k]]) for k in range(64))
        )
    else:
        raise ValueError("len(pixels) must be w*h (gray) or 3*w*h (RGB)")

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)

    def comp_grid(c):
        cw = (width * c["h"] + hmax - 1) // hmax
        chh = (height * c["v"] + vmax - 1) // vmax
        return (cw + 7) // 8, (chh + 7) // 8

    def dc_first_scan(al):
        # interleaved DC scan (Ss=0 Se=0 Ah=0): diffs accumulate in the
        # point-transformed (arithmetic >> Al) domain
        w = _BitWriter()
        prev = [0] * len(comps)
        mcu_i = nrst = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                    nrst = _emit_restart(w, nrst)
                    prev = [0] * len(comps)
                mcu_i += 1
                for ci, c in enumerate(comps):
                    for bv in range(c["v"]):
                        for bh_ in range(c["h"]):
                            zz = c["zz"][my * c["v"] + bv][mx * c["h"] + bh_]
                            v = zz[0] >> al
                            size, bits = _magnitude(v - prev[ci])
                            prev[ci] = v
                            code, length = _DC_CODES[size]
                            w.write(code, length)
                            if size:
                                w.write(bits, size)
        w.flush()
        sos = (
            bytes([len(comps)])
            + b"".join(bytes([c["id"], 0x00]) for c in comps)
            + bytes([0, 0, al])
        )
        return _seg(0xDA, sos) + bytes(w.buf)

    def dc_refine_scan(al):
        # DC refinement (Ah=Al+1): one raw bit — bit Al of each DC —
        # per block in interleaved MCU order
        w = _BitWriter()
        mcu_i = nrst = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                    nrst = _emit_restart(w, nrst)
                mcu_i += 1
                for c in comps:
                    for bv in range(c["v"]):
                        for bh_ in range(c["h"]):
                            zz = c["zz"][my * c["v"] + bv][mx * c["h"] + bh_]
                            w.write((zz[0] >> al) & 1, 1)
        w.flush()
        sos = (
            bytes([len(comps)])
            + b"".join(bytes([c["id"], 0x00]) for c in comps)
            + bytes([0, 0, ((al + 1) << 4) | al])
        )
        return _seg(0xDA, sos) + bytes(w.buf)

    def ac_first_scan(c, al):
        # non-interleaved AC scan, values sign·(|v| >> Al)
        cbx, cby = comp_grid(c)
        w = _BitWriter()
        eob = _EobRun(w)
        blk_i = nrst = 0
        for by in range(cby):
            for bx in range(cbx):
                if restart_interval and blk_i and blk_i % restart_interval == 0:
                    eob.flush()  # EOB runs must not cross a restart
                    nrst = _emit_restart(w, nrst)
                blk_i += 1
                zz = c["zz"][by][bx]
                if al:
                    band = [0] + [
                        (1 if v > 0 else -1) * (abs(v) >> al) if v else 0
                        for v in zz[1:]
                    ]
                else:
                    band = zz
                _write_ac_band(w, eob, band, 1, 63)
        eob.flush()
        w.flush()
        return _seg(0xDA, bytes([1, c["id"], 0x00, 1, 63, al])) + bytes(
            w.buf
        )

    def ac_refine_scan(c, al):
        # AC refinement (T.81 G.1.2.3 / cjpeg encode_mcu_AC_refine):
        # newly-significant coefficients (|v| >> Al == 1) emit
        # (run, 1) + sign; history coefficients emit correction bits,
        # buffered behind the open EOB run and flushed with each
        # ZRL / (run,1) / EOBn symbol in coefficient order
        cbx, cby = comp_grid(c)
        w = _BitWriter()
        state = {"eobrun": 0, "be": []}

        def flush_eob():
            if state["eobrun"]:
                cat = state["eobrun"].bit_length() - 1
                c0, l0 = _AC_CODES[cat << 4]
                w.write(c0, l0)
                if cat:
                    w.write(state["eobrun"] - (1 << cat), cat)
                state["eobrun"] = 0
                for b in state["be"]:
                    w.write(b, 1)
                state["be"] = []

        blk_i = nrst = 0
        for by in range(cby):
            for bx in range(cbx):
                if restart_interval and blk_i and blk_i % restart_interval == 0:
                    flush_eob()
                    nrst = _emit_restart(w, nrst)
                blk_i += 1
                zz = c["zz"][by][bx]
                absv = [abs(v) >> al for v in zz]
                eobpos = 0  # last newly-significant position
                for k in range(1, 64):
                    if absv[k] == 1:
                        eobpos = k
                r = 0
                pending: "list[int]" = []
                for k in range(1, 64):
                    t = absv[k]
                    if t == 0:
                        r += 1
                        continue
                    while r > 15 and k <= eobpos:
                        flush_eob()
                        c0, l0 = _AC_CODES[0xF0]
                        w.write(c0, l0)
                        r -= 16
                        for b in pending:
                            w.write(b, 1)
                        pending = []
                    if t > 1:
                        pending.append(t & 1)
                        continue
                    flush_eob()
                    c0, l0 = _AC_CODES[(r << 4) | 1]
                    w.write(c0, l0)
                    w.write(1 if zz[k] > 0 else 0, 1)
                    for b in pending:
                        w.write(b, 1)
                    pending = []
                    r = 0
                if r > 0 or pending:
                    state["eobrun"] += 1
                    state["be"].extend(pending)
                    if state["eobrun"] == 32767 or len(state["be"]) > 930:
                        flush_eob()
        flush_eob()
        w.flush()
        return _seg(
            0xDA, bytes([1, c["id"], 0x00, 1, 63, ((al + 1) << 4) | al])
        ) + bytes(w.buf)

    if successive:
        # the libjpeg-shaped ladder: coarse pass at Al=1, then one
        # refinement bit — final coefficients are exactly the baseline
        # quantized set, which is the identity oracle
        scans = dc_first_scan(1) + dc_refine_scan(0)
        for c in comps:
            scans += ac_first_scan(c, 1)
        for c in comps:
            scans += ac_refine_scan(c, 0)
    else:
        scans = dc_first_scan(0)
        for c in comps:
            scans += ac_first_scan(c, 0)

    sof2 = struct.pack(">BHHB", 8, height, width, len(comps)) + b"".join(
        bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]]) for c in comps
    )
    dht = (
        bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
        + bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    dri = (
        _seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + _seg(0xDB, dqt)
        + _seg(0xC2, sof2)
        + _seg(0xC4, dht)
        + dri
        + scans
        + b"\xff\xd9"
    )


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; raises the
    declared contract error on truncation or an unexpected marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.done = False

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise NotImplementedError("truncated JPEG entropy stream")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise NotImplementedError("truncated JPEG entropy stream")
            m = self.data[self.pos]
            if m == 0x00:
                self.pos += 1
            elif m == 0xD9:  # EOI reached while bits still requested
                raise NotImplementedError("truncated JPEG entropy stream")
            elif 0xD0 <= m <= 0xD7:
                raise NotImplementedError(
                    "unexpected JPEG restart marker inside an entropy "
                    "interval (bits requested across a restart boundary)"
                )
            else:
                raise NotImplementedError(
                    f"unexpected marker 0xFF{m:02X} inside entropy data"
                )
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        v = (self.acc >> self.nbits) & 1
        # drop the consumed high bits — without this mask the bigint
        # accumulator grows by 8 bits per entropy byte and the decode
        # goes quadratic in stream size (measured 14.5× for 4× pixels)
        self.acc &= (1 << self.nbits) - 1
        return v

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def expect_restart(self, n: int) -> None:
        """Consume the RSTn marker at a restart boundary: discard the
        current byte's padding bits, then require 0xFF 0xD(n%8)."""
        self.acc = 0
        self.nbits = 0
        if self.pos + 1 >= len(self.data):
            raise NotImplementedError("truncated JPEG entropy stream")
        m = self.data[self.pos + 1]
        if self.data[self.pos] != 0xFF or not (0xD0 <= m <= 0xD7):
            raise NotImplementedError(
                "JPEG restart marker expected at the declared interval"
            )
        if m != 0xD0 + (n % 8):
            raise NotImplementedError(
                "JPEG restart marker out of modulo-8 sequence"
            )
        self.pos += 2


def _read_huff(reader: "_BitReader", table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise NotImplementedError("invalid JPEG huffman code")


def _extend(bits: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: decode a magnitude-category value."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _next_marker(payload: bytes, p: int) -> int:
    """Advance past any residual entropy/padding bytes to the next
    marker (0xFF followed by a non-stuffing byte)."""
    while p + 1 < len(payload):
        if payload[p] == 0xFF and payload[p + 1] != 0x00:
            return p
        p += 1
    return len(payload)


def _decode_block_zz(reader, dc_tab, ac_tab, prev_dc):
    """Baseline full-spectrum block decode → (zigzag coefficient list,
    new DC predictor)."""
    zz = [0] * 64
    size = _read_huff(reader, dc_tab)
    prev_dc += _extend(reader.bits(size), size)
    zz[0] = prev_dc
    k = 1
    while k < 64:
        sym = _read_huff(reader, ac_tab)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            k += 16
            continue
        run, size = sym >> 4, sym & 0xF
        k += run
        if k > 63:
            raise NotImplementedError("JPEG AC run overflows the block")
        zz[k] = _extend(reader.bits(size), size)
        k += 1
    return zz, prev_dc


def _decode_scan(
    payload, pos, progressive, comps, scomps, qtabs, htabs, coefs,
    mcux, mcuy, ss, se, ah, al, dri=0,
):
    """Decode one entropy-coded scan into the per-component coefficient
    arrays; returns the offset of the next marker. Baseline: one
    interleaved full-spectrum scan. Progressive (spectral selection
    only): DC scans (interleaved or single-component) and
    single-component AC scans with EOB-run coding."""
    reader = _BitReader(payload, pos)
    if not progressive:
        if len(scomps) != len(comps):
            raise NotImplementedError(
                "non-interleaved JPEG scans not supported (SOS must "
                "cover every frame component in one scan)"
            )
        for c in comps:
            if (
                (0, c["td"]) not in htabs
                or (1, c["ta"]) not in htabs
                or c["tq"] not in qtabs
            ):
                raise NotImplementedError(
                    "JPEG scan references missing tables"
                )
        prev = [0] * len(comps)
        since = nrst = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if dri and since == dri:
                    # restart boundary: byte-align, consume RSTn, reset
                    # the DC predictors (T.81 F.2.1.3.1)
                    reader.expect_restart(nrst)
                    nrst += 1
                    since = 0
                    prev = [0] * len(comps)
                for c in comps:
                    dc_tab = htabs[(0, c["td"])]
                    ac_tab = htabs[(1, c["ta"])]
                    for bv in range(c["v"]):
                        for bh_ in range(c["h"]):
                            zz, prev[c["ci"]] = _decode_block_zz(
                                reader, dc_tab, ac_tab, prev[c["ci"]]
                            )
                            coefs[c["ci"]][
                                my * c["v"] + bv, mx * c["h"] + bh_
                            ] = zz
                since += 1
        return _next_marker(payload, reader.pos)

    if ah != 0 and ah != al + 1:
        raise NotImplementedError(
            "JPEG successive-approximation scan with Ah != Al + 1 "
            "(each refinement adds exactly one bit)"
        )
    if ss == 0:
        if se != 0:
            raise NotImplementedError(
                "progressive frame carries a full-spectrum baseline "
                "scan (Ss=0 requires Se=0)"
            )
        if ah != 0:
            # DC refinement (T.81 G.1.2.1): one raw bit per block,
            # ORed into bit position Al
            def dc_one(c, by, bx):
                if reader.bit():
                    coefs[c["ci"]][by, bx, 0] |= 1 << al
        else:
            for c in scomps:
                if (0, c["td"]) not in htabs:
                    raise NotImplementedError(
                        "JPEG scan references missing tables"
                    )
            prev = {c["ci"]: 0 for c in scomps}

            def dc_one(c, by, bx):
                # first DC scan: diffs accumulate in the point-
                # transformed domain, output shifted by Al
                size = _read_huff(reader, htabs[(0, c["td"])])
                prev[c["ci"]] += _extend(reader.bits(size), size)
                coefs[c["ci"]][by, bx, 0] = prev[c["ci"]] << al

        since = nrst = 0

        def restart_dc():
            nonlocal since, nrst
            if dri and since == dri:
                reader.expect_restart(nrst)
                nrst += 1
                since = 0
                if ah == 0:
                    for ci in prev:
                        prev[ci] = 0

        if len(scomps) > 1:  # interleaved DC scan: MCU order
            for my in range(mcuy):
                for mx in range(mcux):
                    restart_dc()
                    for c in scomps:
                        for bv in range(c["v"]):
                            for bh_ in range(c["h"]):
                                dc_one(c, my * c["v"] + bv, mx * c["h"] + bh_)
                    since += 1
        else:  # single-component DC scan: component-grid raster order
            c = scomps[0]
            for by in range(c["cby"]):
                for bx in range(c["cbx"]):
                    restart_dc()
                    dc_one(c, by, bx)
                    since += 1
        return _next_marker(payload, reader.pos)

    # AC scan (first pass, Al=0): spec F.2.3 — exactly one component,
    # EOB-run coding across blocks in component-grid raster order
    if len(scomps) != 1:
        raise NotImplementedError(
            "progressive AC scan must cover exactly one component"
        )
    if not (1 <= ss <= se <= 63):
        raise NotImplementedError(
            "invalid progressive spectral selection range"
        )
    c = scomps[0]
    if (1, c["ta"]) not in htabs:
        raise NotImplementedError("JPEG scan references missing tables")
    ac_tab = htabs[(1, c["ta"])]
    arr = coefs[c["ci"]]
    eobrun = 0
    since = nrst = 0
    if ah == 0:
        # AC first scan (possibly point-transformed: values << Al)
        for by in range(c["cby"]):
            for bx in range(c["cbx"]):
                if dri and since == dri:
                    # restart boundary in an AC scan: EOB runs must not
                    # cross it (encoder contract), state resets
                    reader.expect_restart(nrst)
                    nrst += 1
                    since = 0
                    eobrun = 0
                since += 1
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    sym = _read_huff(reader, ac_tab)
                    run, size = sym >> 4, sym & 0xF
                    if size == 0:
                        if run == 15:  # ZRL: 16 zeros
                            k += 16
                            continue
                        eobrun = (1 << run) - 1  # EOBn: this + n more
                        if run:
                            eobrun += reader.bits(run)
                        break
                    k += run
                    if k > se:
                        raise NotImplementedError(
                            "JPEG AC run overflows the spectral band"
                        )
                    arr[by, bx, k] = _extend(reader.bits(size), size) << al
                    k += 1
        return _next_marker(payload, reader.pos)

    # AC refinement scan (T.81 G.1.2.3, the libjpeg decode_mcu_AC_refine
    # shape): newly-significant coefficients arrive as ±1<<Al; every
    # nonzero-history coefficient passed over — including the whole band
    # of blocks inside an EOB run — consumes one correction bit that may
    # set bit Al of its magnitude.
    p1 = 1 << al
    for by in range(c["cby"]):
        for bx in range(c["cbx"]):
            if dri and since == dri:
                reader.expect_restart(nrst)
                nrst += 1
                since = 0
                eobrun = 0
            since += 1
            blk = arr[by, bx]
            k = ss
            if eobrun == 0:
                while k <= se:
                    sym = _read_huff(reader, ac_tab)
                    run, size = sym >> 4, sym & 0xF
                    if size == 0:
                        if run != 15:
                            eobrun = (1 << run)  # incl. this block
                            if run:
                                eobrun += reader.bits(run)
                            break
                        zeros = 15  # ZRL: pass 16 zero-history slots
                        newval = 0
                    else:
                        if size != 1:
                            raise NotImplementedError(
                                "JPEG AC refinement symbol with "
                                "magnitude size != 1"
                            )
                        zeros = run
                        newval = p1 if reader.bit() else -p1
                    while k <= se:
                        v = int(blk[k])
                        if v != 0:
                            if reader.bit() and not (abs(v) & p1):
                                blk[k] = v + (p1 if v > 0 else -p1)
                        else:
                            if zeros == 0:
                                break
                            zeros -= 1
                        k += 1
                    if k <= se:
                        if newval:
                            blk[k] = newval
                        k += 1
            if eobrun > 0:
                # end-of-band region: correction bits only, for every
                # nonzero coefficient left in this block's band
                while k <= se:
                    v = int(blk[k])
                    if v != 0 and reader.bit() and not (abs(v) & p1):
                        blk[k] = v + (p1 if v > 0 else -p1)
                    k += 1
                eobrun -= 1
    return _next_marker(payload, reader.pos)


def jpeg_stream_end(payload: bytes, start: int = 0) -> int:
    """Offset just past the EOI of the JPEG stream starting at `start`,
    WITHOUT decoding — the MJPEG demux walk. Segment lengths are parsed
    in the header; entropy data is skipped marker-aware (stuffed 0xFF00
    and RSTn are data, anything else ends the scan), so a 0xFFD9 byte
    pair inside a segment payload or entropy interval never truncates
    the frame. Multi-scan (progressive) streams walk scan by scan."""
    if payload[start : start + 2] != b"\xff\xd8":
        raise NotImplementedError("not a JPEG stream (missing SOI)")
    pos = start + 2
    while True:
        if pos + 2 > len(payload):
            raise NotImplementedError("truncated JPEG header")
        if payload[pos] != 0xFF:
            raise NotImplementedError("JPEG marker sync lost")
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(payload):
            raise NotImplementedError("truncated JPEG header")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI — frame ends here
            return pos
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers carry no length
        if pos + 2 > len(payload):
            raise NotImplementedError("truncated JPEG header")
        (seglen,) = struct.unpack(">H", payload[pos : pos + 2])
        if pos + seglen > len(payload):
            raise NotImplementedError("truncated JPEG segment")
        is_sos = marker == 0xDA
        pos += seglen
        if is_sos:
            while True:
                pos = _next_marker(payload, pos)
                if pos + 1 >= len(payload):
                    raise NotImplementedError(
                        "truncated JPEG entropy stream"
                    )
                if 0xD0 <= payload[pos + 1] <= 0xD7:
                    pos += 2  # restart marker: entropy continues
                    continue
                break


def decode_jpeg(payload: bytes, _allow_color: bool = True) -> dict:
    """1- or 3-component JPEG decode: baseline sequential (SOF0) or
    spectral-selection progressive (SOF2 — interleaved/per-component DC
    scans + non-interleaved AC scans with EOB-run coding; successive
    approximation Ah/Al != 0 is a declared stub). Returns
    {width, height, channels: 1|3, pixels} — channels=3 is interleaved
    RGB after the T.871 YCbCr transform. Tables and sampling factors
    are parsed from the stream; every scan accumulates quantized
    coefficients per component, dequant + IDCT run once at EOI. See the
    module docstring for the declared scope and the NotImplementedError
    contract."""
    if payload[:2] != b"\xff\xd8":
        raise NotImplementedError("not a JPEG stream (missing SOI)")
    pos = 2
    qtabs: dict = {}
    htabs: dict = {}
    sof = None
    progressive = False
    comps: "list[dict]" = []  # SOF order: [{'id','h','v','tq','td','ta'}]
    coefs: "list[np.ndarray]" = []  # per comp: (nby, nbx, 64) zigzag order
    scan_seen = False
    dri = 0  # restart interval in MCUs/blocks (0 = none)
    while True:
        if pos + 2 > len(payload):
            raise NotImplementedError("truncated JPEG header")
        if payload[pos] != 0xFF:
            raise NotImplementedError("JPEG marker sync lost")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
        # marker — skip them instead of misreading 0xFF as the marker
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(payload):
            raise NotImplementedError("truncated JPEG header")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if not scan_seen:
                raise NotImplementedError("JPEG has no scan (EOI before SOS)")
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # standalone markers (TEM, stray RSTn): no length field —
            # treating them as length-prefixed would mis-skip into
            # arbitrary bytes (ADVICE r7)
            continue
        if pos + 2 > len(payload):
            raise NotImplementedError("truncated JPEG header")
        (seglen,) = struct.unpack(">H", payload[pos : pos + 2])
        seg = payload[pos + 2 : pos + seglen]
        if len(seg) != seglen - 2:
            raise NotImplementedError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                if p + 65 > len(seg):
                    raise NotImplementedError("truncated JPEG DQT segment")
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                if pq != 0:
                    raise NotImplementedError(
                        "16-bit JPEG quant tables not supported"
                    )
                t = np.zeros(64, dtype=np.int32)
                for k in range(64):
                    t[_ZIGZAG[k]] = seg[p + 1 + k]
                qtabs[tq] = t.reshape(8, 8)
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                if p + 17 > len(seg):
                    raise NotImplementedError("truncated JPEG DHT segment")
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                nvals = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nvals])
                if len(vals) != nvals:
                    raise NotImplementedError("truncated JPEG DHT segment")
                table = {}
                code = 0
                i = 0
                for length in range(1, 17):
                    for _ in range(bits[length - 1]):
                        table[(length, code)] = vals[i]
                        code += 1
                        i += 1
                    code <<= 1
                htabs[(tc, th)] = table
                p += 17 + nvals
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            if len(seg) < 9:  # 6 header bytes + >=1 component spec
                raise NotImplementedError("truncated JPEG SOF0 segment")
            prec, h, w_, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG supported")
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    "only 1-component (gray) or 3-component (YCbCr) "
                    "baseline JPEG supported (CMYK/4-component is not)"
                )
            if ncomp == 3 and not _allow_color:
                raise NotImplementedError(
                    "color JPEG stream on the grayscale decode path — "
                    "use decode_jpeg / decode_image"
                )
            if len(seg) < 6 + 3 * ncomp:
                raise NotImplementedError("truncated JPEG SOF0 segment")
            comps = []
            for i in range(ncomp):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                ch, cv = hv >> 4, hv & 0xF
                if ncomp == 1:
                    # a single-component scan has MCU = one data unit
                    # regardless of declared sampling (T.81 A.2.2)
                    ch = cv = 1
                if not (1 <= ch <= 2 and 1 <= cv <= 2):
                    raise NotImplementedError(
                        "JPEG sampling factors above 2 not supported"
                    )
                comps.append(
                    {"id": cid, "h": ch, "v": cv, "tq": tq, "td": 0, "ta": 0}
                )
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            if any(hmax % c["h"] or vmax % c["v"] for c in comps):
                raise NotImplementedError(
                    "fractional JPEG chroma sampling ratios not supported"
                )
            sof = (w_, h)
            mcux = (w_ + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            coefs = [
                np.zeros(
                    (mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64
                )
                for c in comps
            ]
            for ci, c in enumerate(comps):
                # component-grid block dims (T.81 A.2.2): NON-interleaved
                # scans cover ceil(comp_size/8) blocks, a subset of the
                # MCU-padded grid
                cw = (w_ * c["h"] + hmax - 1) // hmax
                chh = (h * c["v"] + vmax - 1) // vmax
                c["cbx"] = (cw + 7) // 8
                c["cby"] = (chh + 7) // 8
                c["ci"] = ci
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline sequential (SOF0) or progressive (SOF2) "
                "JPEG supported"
            )
        elif marker == 0xDD:  # DRI
            if len(seg) != 2:
                raise NotImplementedError("malformed JPEG DRI segment")
            (dri,) = struct.unpack(">H", seg)
        elif marker == 0xDA:  # SOS
            if sof is None:
                raise NotImplementedError("JPEG SOS before SOF0")
            if len(seg) < 1 or len(seg) < 1 + 2 * seg[0] + 3:
                raise NotImplementedError("truncated JPEG SOS segment")
            ns = seg[0]
            by_id = {c["id"]: c for c in comps}
            scomps = []
            for i in range(ns):
                cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
                if cs not in by_id:
                    raise NotImplementedError(
                        "JPEG SOS references an undeclared component"
                    )
                by_id[cs]["td"] = tdta >> 4
                by_id[cs]["ta"] = tdta & 0xF
                scomps.append(by_id[cs])
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            pos += seglen
            pos = _decode_scan(
                payload, pos, progressive, comps, scomps, qtabs, htabs,
                coefs, mcux, mcuy, ss, se, ahal >> 4, ahal & 0xF, dri,
            )
            scan_seen = True
            continue
        # APPn / COM / anything else: skip
        pos += seglen

    w_, h = sof
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w_ + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # dequant + inverse zigzag + IDCT, once, from the accumulated
    # coefficients (baseline fills them in one scan; progressive across
    # several)
    planes = []
    for ci, c in enumerate(comps):
        if c["tq"] not in qtabs:
            raise NotImplementedError("JPEG scan references missing tables")
        qt = qtabs[c["tq"]]
        plane = np.zeros(
            (mcuy * 8 * c["v"], mcux * 8 * c["h"]), dtype=np.float64
        )
        for by in range(mcuy * c["v"]):
            for bx in range(mcux * c["h"]):
                zz = coefs[ci][by, bx]
                mat = np.zeros(64, dtype=np.float64)
                for i in range(64):
                    mat[_ZIGZAG[i]] = zz[i]
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _C.T @ (mat.reshape(8, 8) * qt) @ _C + 128.0
                )
        planes.append(plane)

    if len(comps) == 1:
        pixels = np.clip(np.round(planes[0][:h, :w_]), 0, 255).astype(
            np.uint8
        )
        return {
            "width": w_,
            "height": h,
            "channels": 1,
            "pixels": pixels.tobytes(),
        }
    # SOF order is Y,Cb,Cr per JFIF (T.871); replication-upsample the
    # subsampled chroma back to luma resolution, then invert the
    # full-range transform
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        if c["v"] != vmax or c["h"] != hmax:
            p = np.repeat(
                np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1
            )
        full.append(p[: mcuy * 8 * vmax, : mcux * 8 * hmax][:h, :w_])
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    pixels = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return {
        "width": w_,
        "height": h,
        "channels": 3,
        "pixels": pixels.tobytes(),
    }


def decode_jpeg_gray(payload: bytes) -> dict:
    """Baseline single-component JPEG decode (the r7 surface, kept for
    the grayscale kernels). Returns {width, height, channels: 1,
    pixels}; a 3-component stream raises the declared
    NotImplementedError at the SOF0 parse — route color through
    decode_jpeg / multimodal.decode_image."""
    return decode_jpeg(payload, _allow_color=False)
