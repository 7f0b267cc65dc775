"""Multimodal column plumbing (SURVEY.md §2.10 `llm_multimodal_cols`).

Modality payloads are opaque BinaryType columns with a typed metadata
struct alongside; every codec kernel runs per document through the one
Arrow harness `map_doc_kernel` (mapInArrow), and the payload featurizer
`extract_features` is a vectorized mapInPandas pass over the payload
column. Formats are decoded with REAL pure-stdlib kernels: WAV/RIFF
audio — linear PCM16, G.711 µ-law/A-law telephony companding, and IMA
ADPCM 4-bit differential
(`decode_audio` / `encode_wav_pcm16` / `encode_wav_g711` /
`encode_wav_ima_adpcm`) — binary PPM/PGM images (`decode_image` /
`encode_ppm`), PNG — stdlib zlib inflate + chunk-CRC walk + full
five-filter scanline reversal; 8/16-bit, indexed palette + tRNS,
Adam7 — (`decode_png` / `encode_png` / `encode_png_palette`),
JPEG — real DCT/huffman codec: baseline gray + YCbCr color
(4:4:4/4:2:2/4:2:0), spectral-selection progressive, restart
intervals, see llm.jpeg — (`jpeg_roundtrip_features` and kin,
tolerance-verdict oracles since the codec is lossy), and
concatenated-PPM video streams — ffmpeg's image2pipe/ppm raw-video
format — (`frame_sample` / `encode_ppm_stream`), all exercised
end-to-end through `map_doc_kernel` with DuckDB-oracle-checked features
(parity_llm.llm_multimodal_wav/_ppm/_png/_png_palette/_png_adam7/
_png_trns/_jpeg/_jpeg_color/_jpeg_progressive/_frames). MP4 (ISO-BMFF)
containers are box-walk demuxed for real (llm.mp4 /
`mp4_sample_features`: stts/stsc/stsz/stco sample-table expansion,
mdat slicing, MJPEG-in-MP4 sample decode) and FLAC lossless audio is
a real bit-exact codec (llm.flac / `flac_roundtrip_features`: rice
residuals, fixed+LPC predictors, all three stereo decorrelations,
CRC-8/16 + STREAMINFO MD5 verification). The Matroska/webm container
is a real EBML walk (llm.webm / `webm_sample_features`) and Ogg is a
real page walk with CRC + packet reassembly (llm.ogg /
`ogg_packet_features`) — demux-without-decode, like mp4. What still
raises NotImplementedError is PAYLOAD decode for codecs whose
libraries are not in this container (WebP, perceptual audio
mp3/aac/opus, VPx video) — declared stubs.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("head_sig", T.LongType()),
    ]
)


def attach_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", mime: str = "text/plain"
) -> DataFrame:
    """Build a multimodal frame: opaque binary payload + typed metadata
    struct. For the testdata the payload is the utf-8 encoded text; for
    real media it would be the raw image/audio bytes read from object
    storage (binaryFile source)."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"), F.octet_length(payload).cast("long").alias("n_bytes")
        ).alias("meta"),
    )


def map_doc_kernel(
    docs: DataFrame,
    kernel: Callable[[int], Iterable[dict]],
    schema: T.StructType | str,
    id_col: str = "doc_id",
) -> DataFrame:
    """The per-document kernel harness of the codec family: select
    `id_col` cast to long as `doc_id`, call `kernel(doc_id)` for each
    id, and build each output batch from the row dicts it returns (zero,
    one or many per doc; a missing or None field is SQL NULL) with
    `pa.RecordBatch.from_pylist` under mapInArrow. `schema` is the
    declared Spark output schema (StructType or DDL); its Arrow twin is
    derived once, when the plan is built, not per batch. A kernel
    exception fails the task, so it surfaces from the action."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)

    def apply(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [
                row
                for doc_id in batch.column("doc_id").to_pylist()
                for row in kernel(doc_id)
            ]
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    ids = docs.select(F.col(id_col).cast("long").alias("doc_id"))
    return ids.mapInArrow(apply, schema)


def encode_wav_pcm16(samples: "list[int]", sample_rate: int = 8000, channels: int = 1) -> bytes:
    """Minimal canonical RIFF/WAVE writer for PCM16 (44-byte header +
    little-endian int16 data) — pure stdlib, used to synthesize audio
    payloads for the decode round-trip."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    byte_rate = sample_rate * channels * 2
    header = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, channels, sample_rate, byte_rate, channels * 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return header + data


def _ulaw_decode_byte(b: int) -> int:
    """G.711 µ-law expansion (ITU-T G.711, public formula)."""
    b = ~b & 0xFF
    sign = b & 0x80
    exp = (b >> 4) & 7
    mant = b & 0x0F
    val = (((mant << 3) + 0x84) << exp) - 0x84
    return -val if sign else val


def _alaw_decode_byte(a: int) -> int:
    """G.711 A-law expansion (ITU-T G.711, public formula)."""
    a ^= 0x55
    sign = a & 0x80
    exp = (a >> 4) & 7
    mant = a & 0x0F
    if exp == 0:
        val = (mant << 4) + 8
    else:
        val = ((mant << 4) + 0x108) << (exp - 1)
    return -val if sign else val


_ULAW_TABLE = [_ulaw_decode_byte(b) for b in range(256)]
_ALAW_TABLE = [_alaw_decode_byte(b) for b in range(256)]


def _g711_encoder(table: "list[int]"):
    """Nearest-neighbor companding encoder built from the decode table:
    every emitted code is a spec-legal G.711 byte and decode∘encode is
    the optimal quantizer for OUR decoder by construction (ties break
    to the smaller decoded value, deterministic). Sidesteps the
    bit-twiddling convention splits between ITU reference encoders."""
    import bisect

    pairs = sorted((v, c) for c, v in enumerate(table))
    vals = [v for v, _ in pairs]

    def enc(x: int) -> int:
        i = bisect.bisect_left(vals, x)
        if i == 0:
            return pairs[0][1]
        if i == len(vals):
            return pairs[-1][1]
        lo_v, lo_c = pairs[i - 1]
        hi_v, hi_c = pairs[i]
        return lo_c if x - lo_v <= hi_v - x else hi_c

    return enc


_ULAW_ENCODE = _g711_encoder(_ULAW_TABLE)
_ALAW_ENCODE = _g711_encoder(_ALAW_TABLE)

# WAVE_FORMAT codes (public registry): 6 = A-law, 7 = µ-law
_G711_FORMATS = {6: _ALAW_TABLE, 7: _ULAW_TABLE}


# IMA/DVI ADPCM tables (public constants, IMA ADPCM reference algorithm)
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_step(pred: int, index: int, nibble: int) -> "tuple[int, int]":
    """One IMA ADPCM reconstruction step (shared by encoder and
    decoder so they track the identical predictor lattice)."""
    step = _IMA_STEPS[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IMA_INDEX[nibble & 7]))
    return pred, index


def encode_wav_ima_adpcm(
    samples: "list[int]", sample_rate: int = 8000, block_samples: int = 505
) -> bytes:
    """RIFF/WAVE writer for mono IMA ADPCM (format 0x11, 4 bits per
    sample, 4:1 compression): per-block header carries the exact first
    sample + step index, then forward-adaptive nibbles. block_samples
    must be odd (header sample + nibble pairs)."""
    if block_samples % 2 == 0 or block_samples < 3:
        raise ValueError("block_samples must be odd and >= 3")
    data = bytearray()
    i = 0
    index = 0
    n_blocks = 0
    while i < len(samples):
        chunk = samples[i : i + block_samples]
        i += block_samples
        n_blocks += 1
        pred = max(-32768, min(32767, int(chunk[0])))
        data += struct.pack("<hBB", pred, index, 0)
        nibbles: "list[int]" = []
        for s in chunk[1:]:
            s = int(s)
            step = _IMA_STEPS[index]
            diff = s - pred
            n = 8 if diff < 0 else 0
            diff = abs(diff)
            if diff >= step:
                n |= 4
                diff -= step
            if diff >= step >> 1:
                n |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                n |= 1
            pred, index = _ima_step(pred, index, n)
            nibbles.append(n)
        if len(nibbles) % 2:  # short tail block: pad with a zero nibble
            nibbles.append(0)
        for lo, hi in zip(nibbles[::2], nibbles[1::2]):
            data.append(lo | (hi << 4))
    block_align = 4 + (block_samples - 1) // 2
    byte_rate = (sample_rate * block_align + block_samples - 1) // block_samples
    header = (
        b"RIFF"
        + struct.pack("<I", 40 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack(
            "<IHHIIHH", 20, 0x11, 1, sample_rate, byte_rate, block_align, 4,
        )
        + struct.pack("<HH", 2, block_samples)  # cbSize + samples/block
        + b"data"
        + struct.pack("<I", len(data))
    )
    return header + data


def _decode_ima_adpcm(data: bytes, block_align: int, block_samples: int):
    """Expand mono IMA ADPCM data blocks to int16 samples."""
    out: "list[int]" = []
    pos = 0
    while pos + 4 <= len(data):
        block = data[pos : pos + block_align]
        pos += block_align
        pred, index, _ = struct.unpack_from("<hBB", block, 0)
        if index > 88:
            raise NotImplementedError("corrupt IMA ADPCM block header")
        out.append(pred)
        produced = 1
        for byte in block[4:]:
            for nibble in (byte & 0xF, byte >> 4):
                if produced >= block_samples:
                    break
                pred, index = _ima_step(pred, index, nibble)
                out.append(pred)
                produced += 1
    return out


def encode_wav_g711(
    samples: "list[int]",
    sample_rate: int = 8000,
    channels: int = 1,
    law: str = "ulaw",
) -> bytes:
    """RIFF/WAVE writer for G.711 companded audio (format code 7 µ-law /
    6 A-law, 8 bits per sample) — the telephony WAV shape."""
    if law == "ulaw":
        code, enc = 7, _ULAW_ENCODE
    elif law == "alaw":
        code, enc = 6, _ALAW_ENCODE
    else:
        raise ValueError("law must be 'ulaw' or 'alaw'")
    data = bytes(enc(int(s)) for s in samples)
    byte_rate = sample_rate * channels
    header = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack(
            "<IHHIIHH", 16, code, channels, sample_rate, byte_rate,
            channels, 8,
        )
        + b"data"
        + struct.pack("<I", len(data))
    )
    return header + data


def decode_audio(payload: bytes) -> dict:
    """REAL decode kernels for RIFF/WAVE audio (the container has no
    codec libraries, but these need none): walks the RIFF chunk list,
    parses `fmt `, and expands the `data` chunk to int16 samples —
    linear PCM16 (format 1) and G.711 µ-law / A-law companded 8-bit
    telephony audio (formats 7 / 6, ITU-T G.711 expansion formulas).
    Returns {sample_rate, channels, samples, codec}. Other compressed/
    float formats and non-WAV containers raise NotImplementedError
    (declared stub — they require ffmpeg/soundfile)."""
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "only RIFF/WAVE payloads decodable without codec libraries"
        )
    fmt = data = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise NotImplementedError("WAV without fmt/data chunks")
    # a corrupt chunk header can declare more bytes than the payload
    # carries — keep the declared error contract (NotImplementedError),
    # never a raw struct.error out of the decode kernel
    if len(fmt) < 16:
        raise NotImplementedError("truncated WAV fmt chunk")
    audio_format, channels, sample_rate, _, _, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0
    )
    if audio_format == 0x11:  # IMA/DVI ADPCM
        if bits != 4 or channels != 1:
            raise NotImplementedError(
                "only mono 4-bit IMA ADPCM decodable without codec libs"
            )
        block_align = struct.unpack_from("<H", fmt, 12)[0]
        if len(fmt) < 20:
            raise NotImplementedError(
                "IMA ADPCM WAV missing samples-per-block fmt extension"
            )
        block_samples = struct.unpack_from("<H", fmt, 18)[0]
        if block_align < 4 or block_samples < 1:
            raise NotImplementedError("corrupt IMA ADPCM fmt chunk")
        return {
            "sample_rate": sample_rate,
            "channels": channels,
            "samples": _decode_ima_adpcm(data, block_align, block_samples),
            "codec": "ima_adpcm",
        }
    if audio_format in _G711_FORMATS:
        if bits != 8:
            raise NotImplementedError(
                f"G.711 WAV must be 8 bits per sample (got {bits})"
            )
        table = _G711_FORMATS[audio_format]
        return {
            "sample_rate": sample_rate,
            "channels": channels,
            "samples": [table[b] for b in data],
            "codec": "alaw" if audio_format == 6 else "ulaw",
        }
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"only PCM16 and G.711 ulaw/alaw decodable without codec "
            f"libs (format={audio_format}, bits={bits})"
        )
    n = len(data) // 2
    return {
        "sample_rate": sample_rate,
        "channels": channels,
        "samples": list(struct.unpack(f"<{n}h", data[: 2 * n])),
        "codec": "pcm16",
    }


def encode_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Binary PPM (P6, maxval 255) writer — len(pixels) must be 3·w·h."""
    return b"P6\n%d %d\n255\n" % (width, height) + pixels


def _parse_netpbm(payload: bytes, pos: int = 0) -> "tuple[dict, int]":
    """Parse ONE binary PPM/PGM (P6/P5) image starting at `pos`; returns
    ({width, height, channels, pixels}, end_pos). Header tokens (magic,
    width, height, maxval) are whitespace-separated with '#' comments
    running to end-of-line; a single whitespace byte precedes the
    raster."""
    magic = payload[pos : pos + 2]
    if magic not in (b"P6", b"P5"):
        raise NotImplementedError(
            "only binary PPM/PGM decodable without imaging libraries"
        )
    # the magic TOKEN must be exactly two bytes: 'P6123 ...' has magic
    # token 'P6123' (invalid), not 'P6' + width '123'
    nxt = payload[pos + 2 : pos + 3]
    if nxt and not (nxt.isspace() or nxt == b"#"):
        raise NotImplementedError(
            f"invalid netpbm magic token starting {payload[pos:pos + 3]!r}"
        )
    tokens: list[int] = []
    pos += 2
    while len(tokens) < 3:
        if pos >= len(payload):
            raise NotImplementedError("truncated netpbm header")
        c = payload[pos : pos + 1]
        if c == b"#":
            nl = payload.find(b"\n", pos)
            if nl < 0:
                raise NotImplementedError("unterminated netpbm comment")
            pos = nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end : end + 1].isspace():
                end += 1
            # untrusted header: a non-numeric token is the declared
            # contract, never a raw ValueError or a mis-sized raster
            # (r11 anti-hang/contract pass). Strict ASCII-digit check —
            # Python's int() also accepts '+12' and '1_2', neither of
            # which is a netpbm numeral.
            raw = payload[pos:end]
            if not raw.isdigit():
                raise NotImplementedError(
                    f"non-numeric netpbm header token {raw!r}"
                )
            tokens.append(int(raw))
            pos = end
    width, height, maxval = tokens
    if maxval > 255:
        raise NotImplementedError("16-bit netpbm not supported")
    channels = 3 if magic == b"P6" else 1
    start = pos + 1
    raster = payload[start : start + width * height * channels]
    if len(raster) != width * height * channels:
        raise NotImplementedError("truncated netpbm raster")
    return (
        {
            "width": width,
            "height": height,
            "channels": channels,
            "pixels": raster,
        },
        start + width * height * channels,
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9, filter type 4)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


# Adam7 pass grid (PNG spec §8.2): (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _unfilter_lines(
    raw: bytes, off: int, n_rows: int, stride: int, channels: int
) -> "tuple[list[bytes], int]":
    """Reverse PNG scanline filtering for one contiguous block of rows
    (the whole image, or one Adam7 pass); returns (rows, next offset)."""
    if off + n_rows * (1 + stride) > len(raw):
        raise NotImplementedError("truncated PNG raster")
    rows: "list[bytes]" = []
    prev = bytes(stride)
    for _ in range(n_rows):
        ft = raw[off]
        line = raw[off + 1 : off + 1 + stride]
        off += 1 + stride
        cur = bytearray(stride)
        for x in range(stride):
            a = cur[x - channels] if x >= channels else 0
            b = prev[x]
            c = prev[x - channels] if x >= channels else 0
            if ft == 0:
                v = line[x]
            elif ft == 1:
                v = line[x] + a
            elif ft == 2:
                v = line[x] + b
            elif ft == 3:
                v = line[x] + (a + b) // 2
            elif ft == 4:
                v = line[x] + _paeth(a, b, c)
            else:
                raise NotImplementedError(f"PNG filter type {ft}")
            cur[x] = v & 0xFF
        prev = bytes(cur)
        rows.append(prev)
    return rows, off


def _filter_lines(rows: "list[bytes]", channels: int) -> bytearray:
    """Apply the (y + n_rows) % 5 filter rotation to one block of rows
    (whole image or one Adam7 pass) — every filter type gets exercised
    across heights, and the matching _unfilter_lines reverses it."""
    raw = bytearray()
    n = len(rows)
    stride = len(rows[0]) if rows else 0
    prev = bytes(stride)
    for y, row in enumerate(rows):
        ft = (y + n) % 5
        raw.append(ft)
        for x in range(stride):
            a = row[x - channels] if x >= channels else 0
            b = prev[x]
            c = prev[x - channels] if x >= channels else 0
            if ft == 0:
                v = row[x]
            elif ft == 1:
                v = row[x] - a
            elif ft == 2:
                v = row[x] - b
            elif ft == 3:
                v = row[x] - (a + b) // 2
            else:
                v = row[x] - _paeth(a, b, c)
            raw.append(v & 0xFF)
        prev = row
    return raw


def _adam7_split(
    width: int, height: int, pixels: bytes, channels: int
) -> "list[list[bytes]]":
    """Slice an image into the seven Adam7 pass sub-images (row lists);
    empty passes come back as empty lists."""
    passes: "list[list[bytes]]" = []
    for xs, ys, xst, yst in _ADAM7:
        pw = (width - xs + xst - 1) // xst if width > xs else 0
        ph = (height - ys + yst - 1) // yst if height > ys else 0
        rows: "list[bytes]" = []
        for ry in range(ph):
            y = ys + ry * yst
            row = bytearray()
            for rx in range(pw):
                x = xs + rx * xst
                src = (y * width + x) * channels
                row += pixels[src : src + channels]
            rows.append(bytes(row))
        passes.append(rows if pw and ph else [])
    return passes


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    interlace: bool = False,
    depth: int = 8,
) -> bytes:
    """Pure-stdlib PNG writer (bit depth 8 or 16; grayscale/RGB/RGBA;
    optionally Adam7-interlaced). Each scanline is REALLY filtered —
    filter type (y + pass_height) % 5, so small synthetic rasters of
    different heights collectively exercise every filter
    (None/Sub/Up/Average/Paeth) and the decoder's full reversal matrix
    — then zlib-deflated into one IDAT. With interlace=True the raster
    is split into the seven Adam7 sub-images, each filtered
    independently (spec §8.2). depth=16 takes big-endian u16 samples
    (len == 2*channels*w*h); PNG filtering operates on BYTES with
    bpp = 2*channels per spec §9.2."""
    import zlib

    if depth not in (8, 16):
        raise ValueError("PNG depth must be 8 or 16")
    bpp = channels * (depth // 8)
    if len(pixels) != width * height * bpp:
        raise ValueError("len(pixels) must be channels*w*h*(depth/8)")
    color = {1: 0, 3: 2, 4: 6}[channels]
    stride = width * bpp
    if interlace:
        raw = bytearray()
        for rows in _adam7_split(width, height, pixels, bpp):
            raw += _filter_lines(rows, bpp)
    else:
        raw = _filter_lines(
            [pixels[y * stride : (y + 1) * stride] for y in range(height)],
            bpp,
        )
    ihdr = struct.pack(
        ">II5B", width, height, depth, color, 0, 0, 1 if interlace else 0
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_palette(
    width: int,
    height: int,
    pixels: bytes,
    interlace: bool = False,
    channels: int = 3,
) -> bytes:
    """Pure-stdlib indexed-color PNG writer (color type 3, bit depth 8):
    builds a deterministic (sorted) palette from the raster's unique
    colors — at most 256, else ValueError — writes it as PLTE, and
    filters the 1-byte-per-pixel index scanlines with the same
    (y + height) % 5 rotation as encode_png so the decoder's filter
    reversal runs at bpp=1 too. interlace=True emits the Adam7 pass
    layout (see encode_png). channels=4 takes RGBA input: palette
    entries sort non-opaque first so the emitted tRNS alpha table can
    be truncated at the last non-255 entry (the spec's default-opaque
    rule), exercising the decoder's entries-past-tRNS path."""
    import zlib

    if channels not in (3, 4):
        raise ValueError("palette input must be RGB (3) or RGBA (4)")
    if len(pixels) != width * height * channels:
        raise ValueError(
            "len(pixels) must be 3*w*h (RGB input)"
            if channels == 3
            else "len(pixels) must be 4*w*h (RGBA input)"
        )
    triples = [
        pixels[i : i + channels] for i in range(0, len(pixels), channels)
    ]
    # RGBA: alpha-ascending sort puts transparent entries first → short
    # tRNS; plain RGB sorts by triple (deterministic either way)
    palette = sorted(
        set(triples), key=(lambda t: (t[3], t[:3])) if channels == 4 else None
    )
    if len(palette) > 256:
        raise ValueError(
            f"palette PNG needs <=256 unique colors, raster has "
            f"{len(palette)}"
        )
    index_of = {t: i for i, t in enumerate(palette)}
    idx = bytes(index_of[t] for t in triples)
    if interlace:
        raw = bytearray()
        for rows in _adam7_split(width, height, idx, 1):
            raw += _filter_lines(rows, 1)
    else:
        raw = _filter_lines(
            [idx[y * width : (y + 1) * width] for y in range(height)], 1
        )
    ihdr = struct.pack(
        ">II5B", width, height, 8, 3, 0, 0, 1 if interlace else 0
    )
    chunks = _png_chunk(b"IHDR", ihdr) + _png_chunk(
        b"PLTE", b"".join(t[:3] for t in palette)
    )
    if channels == 4:
        alphas = bytes(t[3] for t in palette)
        # spec default-opaque rule: truncate trailing 255 entries
        cut = len(alphas)
        while cut and alphas[cut - 1] == 255:
            cut -= 1
        if cut:
            chunks += _png_chunk(b"tRNS", alphas[:cut])
    return (
        _PNG_SIG
        + chunks
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> dict:
    """REAL pure-stdlib PNG decode: chunk walk with CRC verification,
    zlib inflate, per-scanline filter reversal (all five PNG filters).
    Supports bit depth 8, color types 0 (gray) / 2 (RGB) / 3 (indexed —
    PLTE lookup expands to RGB, or RGBA when a tRNS alpha table is
    present, entries past its end opaque per spec) / 6 (RGBA), both
    non-interlaced and Adam7-interlaced (seven independently-filtered
    passes scattered back onto the pixel grid, spec §8.2) — the shapes
    the stdlib can decode without an imaging library. 16-bit /
    sub-byte palette depths / gray-RGB color-key transparency raise
    NotImplementedError, and — per this module's declared error
    contract (see the WAV kernel) — so do truncated or CRC-corrupt
    streams, rasters that don't match the declared pass layout,
    out-of-range palette indices, and tRNS tables longer than the
    palette, never a raw struct/zlib error."""
    import zlib

    if payload[:8] != _PNG_SIG:
        raise NotImplementedError(
            "not a PNG stream (or truncated PNG signature)"
        )
    pos = 8
    ihdr = None  # (w, h, depth, color, interlace)
    idat = bytearray()
    plte: bytes | None = None
    trns: bytes | None = None
    saw_iend = False
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise NotImplementedError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise NotImplementedError("truncated PNG chunk")
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if crc != (zlib.crc32(ctype + data) & 0xFFFFFFFF):
            raise NotImplementedError(
                f"PNG chunk CRC mismatch in {ctype!r}"
            )
        if ctype == b"IHDR":
            if len(data) != 13:
                raise NotImplementedError("malformed PNG IHDR length")
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">II5B", data
            )
            if depth not in (8, 16):
                raise NotImplementedError(
                    "only 8- or 16-bit PNG supported (sub-byte palette "
                    "depths are not)"
                )
            if color not in (0, 2, 3, 6):
                raise NotImplementedError(
                    "alpha-gray PNG color type not supported"
                )
            if depth == 16 and color == 3:
                raise NotImplementedError(
                    "16-bit palette PNG is not spec-legal"
                )
            if comp != 0 or filt != 0:
                raise NotImplementedError("nonstandard PNG comp/filter")
            if interlace not in (0, 1):
                raise NotImplementedError(
                    "nonstandard PNG interlace method"
                )
            ihdr = (w, h, depth, color, interlace)
        elif ctype == b"PLTE":
            if length == 0 or length % 3 or length > 768:
                raise NotImplementedError("malformed PNG PLTE length")
            plte = bytes(data)
        elif ctype == b"tRNS":
            if ihdr is None or ihdr[3] != 3:
                # color-key transparency for gray/RGB frames stays a
                # declared stub; palette alpha is supported below
                raise NotImplementedError(
                    "PNG color-key transparency (tRNS on gray/RGB) not "
                    "supported"
                )
            if plte is None or length > len(plte) // 3:
                raise NotImplementedError(
                    "malformed PNG tRNS (no PLTE or more alphas than "
                    "palette entries)"
                )
            trns = bytes(data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            saw_iend = True
            break
        pos += 12 + length
    if ihdr is None or not idat or not saw_iend:
        raise NotImplementedError("PNG missing IHDR/IDAT/IEND")
    w, h, depth, color, interlace = ihdr
    if color == 3 and plte is None:
        raise NotImplementedError("palette PNG missing PLTE chunk")
    channels = {0: 1, 2: 3, 3: 1, 6: 4}[color]
    bpp = channels * (depth // 8)  # filter distance is in BYTES (§9.2)
    stride = w * bpp
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise NotImplementedError(f"corrupt PNG IDAT: {exc}") from exc
    if interlace == 0:
        if len(raw) != h * (1 + stride):
            raise NotImplementedError("truncated PNG raster")
        rows, _ = _unfilter_lines(raw, 0, h, stride, bpp)
        out = bytearray(h * stride)
        for y, row in enumerate(rows):
            out[y * stride : (y + 1) * stride] = row
    else:
        # Adam7: seven independently-filtered sub-images (spec §8.2) —
        # each pass's scanlines unfilter against that PASS's previous
        # row, then scatter onto the final pixel grid
        out = bytearray(h * stride)
        off = 0
        for xs, ys, xst, yst in _ADAM7:
            pw = (w - xs + xst - 1) // xst if w > xs else 0
            ph = (h - ys + yst - 1) // yst if h > ys else 0
            if pw == 0 or ph == 0:
                continue  # empty pass carries no bytes, not even filters
            rows, off = _unfilter_lines(raw, off, ph, pw * bpp, bpp)
            for ry, row in enumerate(rows):
                y = ys + ry * yst
                for rx in range(pw):
                    x = xs + rx * xst
                    dst = (y * w + x) * bpp
                    out[dst : dst + bpp] = row[rx * bpp : (rx + 1) * bpp]
        if off != len(raw):
            raise NotImplementedError(
                "PNG raster length does not match the Adam7 pass layout"
            )
    if color == 3:
        # expand indices through the palette — to RGB, or RGBA when a
        # tRNS alpha table is present (entries past its end are opaque
        # 255 per spec)
        n_entries = len(plte) // 3
        if any(i >= n_entries for i in out):
            raise NotImplementedError(
                "PNG palette index out of PLTE range"
            )
        if trns is None:
            rgb = bytearray(w * h * 3)
            for j, i in enumerate(out):
                rgb[3 * j : 3 * j + 3] = plte[3 * i : 3 * i + 3]
            return {
                "width": w,
                "height": h,
                "channels": 3,
                "depth": 8,
                "pixels": bytes(rgb),
            }
        rgba = bytearray(w * h * 4)
        for j, i in enumerate(out):
            rgba[4 * j : 4 * j + 3] = plte[3 * i : 3 * i + 3]
            rgba[4 * j + 3] = trns[i] if i < len(trns) else 255
        return {
            "width": w,
            "height": h,
            "channels": 4,
            "depth": 8,
            "pixels": bytes(rgba),
        }
    return {
        "width": w,
        "height": h,
        "channels": channels,
        "depth": depth,  # 16-bit rasters stay big-endian u16 bytes
        "pixels": bytes(out),
    }


def decode_image(payload: bytes) -> dict:
    """REAL decode kernels for binary PPM/PGM (P6/P5 netpbm), PNG
    (8-bit gray/RGB/indexed-palette/RGBA, zlib + full filter reversal —
    see decode_png),
    and JPEG — baseline or spectral-selection progressive, grayscale or
    YCbCr color at 4:4:4/4:2:2/4:2:0 (stream-parsed DQT/DHT tables +
    sampling factors, multi-scan coefficient accumulation, huffman +
    dequant + IDCT + chroma upsample — see llm.jpeg).
    Successive-approximation progressive, CMYK, and WebP/etc. raise
    NotImplementedError (declared stubs)."""
    if payload[:4] == _PNG_SIG[:4]:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from . import jpeg as _jpeg

        return _jpeg.decode_jpeg(payload)
    frame, _ = _parse_netpbm(payload, 0)
    return frame


def encode_ppm_stream(frames: "list[tuple[int, int, bytes]]") -> bytes:
    """Concatenated-PPM video container: back-to-back P6 images — the
    exact byte stream ffmpeg produces/consumes with
    `-f image2pipe -vcodec ppm` (its codec-free raw-video pipe)."""
    return b"".join(encode_ppm(w, h, px) for (w, h, px) in frames)


def frame_sample(payload: bytes, every_n: int = 30) -> "list[dict]":
    """REAL video frame sampling for concatenated-PPM streams (the
    ffmpeg image2pipe/ppm raw-video format) and MJPEG (back-to-back
    JPEG frames — motion-JPEG AVI payloads / multipart camera
    streams): walk the stream frame by frame and keep every
    `every_n`-th frame (always including frame 0), each as
    {frame_idx, width, height, channels, pixels}. The walk must still
    PARSE every frame header to find the next offset — exactly like
    real video demuxing, where sampling saves DECODE, not I/O: skipped
    MJPEG frames are boundary-walked (llm.jpeg.jpeg_stream_end) but
    never entropy-decoded. MP4 (ISO-BMFF) payloads route to the real
    box-walk demux (llm.mp4 / mp4_sample_features) and EBML payloads
    to the Matroska walk (llm.webm / webm_sample_features); Matroska
    tracks carrying codecs other than V_MJPEG raise
    NotImplementedError (VPx decode requires ffmpeg — declared
    stub)."""
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    if payload[:2] == b"\xff\xd8":  # MJPEG
        from . import jpeg as _jpeg

        out: "list[dict]" = []
        pos, idx = 0, 0
        while pos < len(payload):
            end = _jpeg.jpeg_stream_end(payload, pos)
            if idx % every_n == 0:
                frame = _jpeg.decode_jpeg(payload[pos:end])
                frame["frame_idx"] = idx
                out.append(frame)
            pos = end
            idx += 1
        return out
    if payload[4:8] == b"ftyp":  # ISO-BMFF: demux tables, decode sampled
        from . import jpeg as _jpeg
        from . import mp4 as _mp4

        out = []
        for s in _mp4.mp4_demux(payload)["samples"]:
            if s["sample_idx"] % every_n == 0:
                frame = _jpeg.decode_jpeg(s["data"])
                frame["frame_idx"] = s["sample_idx"]
                out.append(frame)
        return out
    if payload[:4] == b"\x1a\x45\xdf\xa3":  # EBML: Matroska/webm walk
        from . import jpeg as _jpeg
        from . import webm as _webm

        demux = _webm.webm_demux(payload)
        if demux["codec_id"] != "V_MJPEG":
            raise NotImplementedError(
                f"Matroska codec {demux['codec_id']} requires ffmpeg "
                "(only V_MJPEG decodable here)"
            )
        out = []
        for s in demux["samples"]:
            if s["sample_idx"] % every_n == 0:
                frame = _jpeg.decode_jpeg(s["data"])
                frame["frame_idx"] = s["sample_idx"]
                out.append(frame)
        return out
    if payload[:2] not in (b"P6", b"P5"):
        raise NotImplementedError(
            "only concatenated-PPM, MJPEG, ISO-BMFF(MP4), and "
            "Matroska(V_MJPEG) video decodable without ffmpeg"
        )
    out = []
    pos, idx = 0, 0
    while pos < len(payload):
        frame, pos = _parse_netpbm(payload, pos)
        if idx % every_n == 0:
            frame["frame_idx"] = idx
            out.append(frame)
        idx += 1
    return out


def byte_head_signature(payload: bytes, head: int = 16) -> int:
    """Deterministic stand-in feature: sum of the first `head` byte values
    mod 997. Exercises the real batch path end-to-end."""
    return sum(payload[:head]) % 997


WAV_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_samples", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)

PPM_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pixel_bytes", T.LongType()),
        T.StructField("pix_sum", T.LongType()),
        T.StructField("mean_pixel", T.DoubleType()),
    ]
)

PNG_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("n_pixel_bytes", T.LongType()),
        T.StructField("pix_sum", T.LongType()),
        T.StructField("mean_pixel", T.DoubleType()),
    ]
)


def _synth_samples(doc_id: int) -> "list[int]":
    """Deterministic PCM16 test signal for a doc id — the formula the
    DuckDB oracle recomputes directly, so any decode error breaks the
    cross-engine match."""
    n = (doc_id % 50) + 10
    return [((doc_id * 31 + i * 17) % 4096) - 2048 for i in range(n)]


def _synth_pixels(doc_id: int) -> "tuple[int, int, bytes]":
    w, h = (doc_id % 5) + 2, (doc_id % 3) + 2
    return w, h, bytes((doc_id * 7 + j) % 256 for j in range(3 * w * h))


def wav_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Audio decode exercised for real: synthesize a deterministic PCM16
    signal per row, ENCODE it to RIFF/WAVE bytes, DECODE those bytes with
    decode_audio, and emit features computed from the decoded samples
    (at scale, repartition by size bins first to even out media skew)."""
    import math

    def kernel(doc_id: int) -> Iterator[dict]:
        rate = 8000 + (doc_id % 5) * 1000
        payload = encode_wav_pcm16(_synth_samples(doc_id), rate)
        decoded = decode_audio(payload)
        s = decoded["samples"]
        yield {
            "doc_id": doc_id,
            "sample_rate": decoded["sample_rate"],
            "n_samples": len(s),
            "sum_samples": sum(s),
            "rms": round(
                math.sqrt(sum(x * x for x in s) / len(s)) + 1e-9, 4
            ),
        }

    return map_doc_kernel(docs, kernel, WAV_FEATURE_SCHEMA, id_col)


def ppm_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Image decode exercised for real: deterministic RGB raster → binary
    PPM bytes → decode_image → features from the decoded raster."""

    def kernel(doc_id: int) -> Iterator[dict]:
        w, h, pixels = _synth_pixels(doc_id)
        decoded = decode_image(encode_ppm(w, h, pixels))
        raster = decoded["pixels"]
        yield {
            "doc_id": doc_id,
            "width": decoded["width"],
            "height": decoded["height"],
            "n_pixel_bytes": len(raster),
            "pix_sum": sum(raster),
            "mean_pixel": round(sum(raster) / len(raster) + 1e-9, 4),
        }

    return map_doc_kernel(docs, kernel, PPM_FEATURE_SCHEMA, id_col)


def png_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """PNG decode exercised for real: deterministic RGB raster → REAL
    PNG bytes (zlib deflate, per-scanline filters varying with height so
    all five filter reversals run across the corpus) → decode_png →
    features from the decoded raster. Any chunk-walk / CRC / inflate /
    unfilter bug breaks the cross-engine match against the oracle's
    source-formula recomputation."""

    def kernel(doc_id: int) -> Iterator[dict]:
        w, h, pixels = _synth_pixels(doc_id)
        decoded = decode_png(encode_png(w, h, pixels, channels=3))
        raster = decoded["pixels"]
        if raster != pixels:  # bit-exact roundtrip, always
            # explicit raise, not assert: must survive python -O
            # and surface a typed error (ADVICE r7)
            raise RuntimeError(
                f"PNG roundtrip not bit-exact for doc {doc_id}"
            )
        yield {
            "doc_id": doc_id,
            "width": decoded["width"],
            "height": decoded["height"],
            "channels": decoded["channels"],
            "n_pixel_bytes": len(raster),
            "pix_sum": sum(raster),
            "mean_pixel": round(sum(raster) / len(raster) + 1e-9, 4),
        }

    return map_doc_kernel(docs, kernel, PNG_FEATURE_SCHEMA, id_col)


def png_adam7_roundtrip_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Adam7-interlaced PNG decode exercised for real: the same
    deterministic RGB rasters as png_roundtrip_features, but encoded
    with interlace=1 — seven independently-filtered sub-images — and
    decoded back through the pass-scatter path. Features come from the
    DECODED raster (bit-exact-roundtrip-guarded); the oracle recomputes
    them from the source formula, identical to llm_multimodal_png's
    (interlacing must be output-invisible)."""

    def kernel(doc_id: int) -> Iterator[dict]:
        w, h, pixels = _synth_pixels(doc_id)
        decoded = decode_png(
            encode_png(w, h, pixels, channels=3, interlace=True)
        )
        raster = decoded["pixels"]
        if raster != pixels:
            raise RuntimeError(
                f"Adam7 PNG roundtrip not bit-exact for doc {doc_id}"
            )
        yield {
            "doc_id": doc_id,
            "width": decoded["width"],
            "height": decoded["height"],
            "channels": decoded["channels"],
            "n_pixel_bytes": len(raster),
            "pix_sum": sum(raster),
            "mean_pixel": round(
                sum(raster) / len(raster) + 1e-9, 4
            ),
        }

    return map_doc_kernel(docs, kernel, PNG_FEATURE_SCHEMA, id_col)


PNG_PALETTE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("n_colors", T.LongType()),
        T.StructField("n_pixel_bytes", T.LongType()),
        T.StructField("pix_sum", T.LongType()),
        T.StructField("mean_pixel", T.DoubleType()),
    ]
)


def _synth_indexed(doc_id: int) -> "tuple[int, int, bytes]":
    """Deterministic RGB raster drawn from a 16-color palette: pixel i
    uses color c = (doc_id + i) % 16, color c = ((40 + 13c) % 256,
    (60 + 29c) % 256, (80 + 41c) % 256) — formulas simple enough for
    the oracle to recompute pixel features exactly."""
    w, h = (doc_id % 6) + 3, (doc_id % 4) + 3
    px = bytearray()
    for i in range(w * h):
        c = (doc_id + i) % 16
        px += bytes(
            ((40 + 13 * c) % 256, (60 + 29 * c) % 256, (80 + 41 * c) % 256)
        )
    return w, h, bytes(px)


def png_palette_roundtrip_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Indexed-color (PLTE) PNG decode exercised for real: deterministic
    16-color raster → encode_png_palette (palette build, index
    scanlines, the full filter rotation at bpp=1) → decode_png (PLTE
    parse, unfilter, palette expansion back to RGB) → features from the
    DECODED raster, bit-exact-roundtrip-guarded; the oracle recomputes
    them from the source formula (lossless codec — same discipline as
    llm_multimodal_png)."""

    def kernel(doc_id: int) -> Iterator[dict]:
        w, h, pixels = _synth_indexed(doc_id)
        decoded = decode_png(encode_png_palette(w, h, pixels))
        raster = decoded["pixels"]
        if raster != pixels or decoded["channels"] != 3:
            raise RuntimeError(
                f"palette PNG roundtrip not bit-exact for doc "
                f"{doc_id}"
            )
        yield {
            "doc_id": doc_id,
            "width": decoded["width"],
            "height": decoded["height"],
            "channels": decoded["channels"],
            "n_colors": min(16, w * h),
            "n_pixel_bytes": len(raster),
            "pix_sum": sum(raster),
            "mean_pixel": round(
                sum(raster) / len(raster) + 1e-9, 4
            ),
        }

    return map_doc_kernel(docs, kernel, PNG_PALETTE_FEATURE_SCHEMA, id_col)


G711_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("max_err_ok", T.BooleanType()),
        T.StructField("idempotent_ok", T.BooleanType()),
    ]
)


def g711_roundtrip_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """G.711 telephony audio exercised for real: deterministic PCM16
    signal → µ-law/A-law companding (format cycles per doc) → RIFF
    container → decode_audio expansion. Lossy, so the verdict surface
    is the jpeg pattern: exact codec/rate/count columns oracle-checked,
    plus bounds — companding error within the top-segment half-step
    (+clip), and decode∘encode idempotent on the codec lattice."""

    def kernel(doc_id: int) -> Iterator[dict]:
        law = "ulaw" if doc_id % 2 == 0 else "alaw"
        n = 200 + (doc_id % 7) * 50
        samples = [
            ((doc_id * 131 + i * 7919) % 65536) - 32768
            for i in range(n)
        ]
        wav = encode_wav_g711(samples, 8000, 1, law)
        dec = decode_audio(wav)
        if dec["codec"] != law or len(dec["samples"]) != n:
            raise RuntimeError(
                f"G.711 decode shape mismatch for doc {doc_id}"
            )
        bound = 650 if law == "ulaw" else 520
        max_err = max(
            abs(s - d) for s, d in zip(samples, dec["samples"])
        )
        wav2 = encode_wav_g711(dec["samples"], 8000, 1, law)
        yield {
            "doc_id": doc_id,
            "codec": law,
            "sample_rate": dec["sample_rate"],
            "n_samples": n,
            "max_err_ok": max_err <= bound,
            "idempotent_ok": decode_audio(wav2)["samples"]
            == dec["samples"],
        }

    return map_doc_kernel(docs, kernel, G711_FEATURE_SCHEMA, id_col)


MJPEG_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pixel_bytes", T.LongType()),
        T.StructField("matches_single", T.BooleanType()),
    ]
)


def mjpeg_sample_features(
    docs: DataFrame, id_col: str = "doc_id", every_n: int = 2
) -> DataFrame:
    """MJPEG demux exercised for real: per doc, a concatenated-JPEG
    stream of color frames with PER-FRAME subsampling (cycling
    4:4:4/4:2:2/4:2:0 — the hostile demux case: boundaries fall in
    different scan layouts), sampled every `every_n` frames. Skipped
    frames are boundary-walked but never entropy-decoded (real demux
    economics). One row per SAMPLED frame; `matches_single` asserts
    the demuxed frame decodes bit-identical to the same frame encoded
    alone — any boundary-walk error shifts an offset and breaks it."""
    from . import jpeg as _jpeg

    def synth_frame(doc_id: int, j: int) -> "tuple[int, int, bytes]":
        w, h = 6 + j, 5 + j
        px = bytearray()
        for i in range(w * h):
            x, y = i % w, i // w
            px.append(40 + 2 * x + 3 * y + (doc_id * 5 + j * 11) % 60)
            px.append(60 + 3 * x + y + (doc_id * 7 + j * 13) % 60)
            px.append(80 + x + 2 * y + (doc_id * 11 + j * 17) % 60)
        return w, h, bytes(px)

    def kernel(doc_id: int) -> Iterator[dict]:
        n_frames = 4 + doc_id % 4
        encs = []
        for j in range(n_frames):
            w, h, px = synth_frame(doc_id, j)
            encs.append(
                _jpeg.encode_jpeg_color(
                    w, h, px, 90, _JPEG_SUBSAMPLINGS[j % 3]
                )
            )
        stream = b"".join(encs)
        for f in frame_sample(stream, every_n):
            j = f["frame_idx"]
            single = _jpeg.decode_jpeg(encs[j])
            yield {
                "doc_id": doc_id,
                "frame_idx": j,
                "width": f["width"],
                "height": f["height"],
                "n_pixel_bytes": len(f["pixels"]),
                "matches_single": f["pixels"]
                == single["pixels"],
            }

    return map_doc_kernel(docs, kernel, MJPEG_FEATURE_SCHEMA, id_col)


ADPCM_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("first_sample", T.LongType()),
        T.StructField("max_err_ok", T.BooleanType()),
    ]
)


def adpcm_roundtrip_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """IMA ADPCM exercised for real: deterministic slope-bounded
    triangle signal → 4-bit forward-adaptive encode → block decode.
    Verdict surface (differential lossy codec): exact codec/count and
    the block header's EXACT first sample oracle-checked; max
    reconstruction error bounded at 3000 for the slope-bounded input
    (measured worst 2468 over the doc grid — the lattice-tracking
    property; a table/step/clamp bug blows it)."""

    def kernel(doc_id: int) -> Iterator[dict]:
        n = 400 + (doc_id % 5) * 101
        period = 200 + (doc_id % 7) * 40
        amp = 20000 + (doc_id % 11) * 1000
        s = [
            int(amp * (abs(((i % period) / period) * 4 - 2) - 1))
            for i in range(n)
        ]
        dec = decode_audio(encode_wav_ima_adpcm(s, 8000))
        if dec["codec"] != "ima_adpcm" or len(dec["samples"]) < n:
            raise RuntimeError(
                f"ADPCM decode shape mismatch for doc {doc_id}"
            )
        max_err = max(
            abs(a - b) for a, b in zip(s, dec["samples"])
        )
        yield {
            "doc_id": doc_id,
            "codec": "ima_adpcm",
            "n_samples": n,
            "first_sample": dec["samples"][0],
            "max_err_ok": max_err <= 3000,  # measured worst 2468 over the doc grid
        }

    return map_doc_kernel(docs, kernel, ADPCM_FEATURE_SCHEMA, id_col)


PNG16_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("depth", T.LongType()),
        T.StructField("n_pixel_bytes", T.LongType()),
        T.StructField("sample_sum", T.LongType()),
        T.StructField("mean_sample", T.DoubleType()),
    ]
)


def png_16bit_roundtrip_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """16-bit PNG decode exercised for real: deterministic big-endian
    u16 RGB rasters → encode_png(depth=16) (filter distance 6 bytes per
    spec §9.2) → decode_png → features from the DECODED u16 samples,
    bit-exact-roundtrip-guarded; the oracle recomputes them from the
    source formula."""

    def kernel(doc_id: int) -> Iterator[dict]:
        w, h = (doc_id % 5) + 2, (doc_id % 3) + 2
        n = 3 * w * h
        vals = [(doc_id * 257 + j * 4099) % 65536 for j in range(n)]
        px = struct.pack(f">{n}H", *vals)
        decoded = decode_png(
            encode_png(w, h, px, channels=3, depth=16)
        )
        if decoded["pixels"] != px or decoded["depth"] != 16:
            raise RuntimeError(
                f"16-bit PNG roundtrip not bit-exact for doc "
                f"{doc_id}"
            )
        got = struct.unpack(f">{n}H", decoded["pixels"])
        yield {
            "doc_id": doc_id,
            "width": w,
            "height": h,
            "channels": 3,
            "depth": 16,
            "n_pixel_bytes": len(decoded["pixels"]),
            "sample_sum": sum(got),
            "mean_sample": round(sum(got) / n + 1e-9, 4),
        }

    return map_doc_kernel(docs, kernel, PNG16_FEATURE_SCHEMA, id_col)


def png_trns_roundtrip_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Palette-transparency (tRNS) PNG decode exercised for real: a
    deterministic RGBA raster mixing opaque and translucent palette
    entries → encode_png_palette(channels=4) (alpha-ascending palette
    sort, truncated tRNS table) → decode_png (PLTE + tRNS expansion to
    RGBA, entries past the table opaque). Lossless; the oracle
    recomputes features from the source formula."""

    def kernel(doc_id: int) -> Iterator[dict]:
        w, h = (doc_id % 6) + 3, (doc_id % 4) + 3
        px = bytearray()
        for i in range(w * h):
            c = (doc_id + i) % 12
            a = 255 if c % 3 else (40 + 17 * c) % 255
            px += bytes(
                (
                    (40 + 13 * c) % 256,
                    (60 + 29 * c) % 256,
                    (80 + 41 * c) % 256,
                    a,
                )
            )
        decoded = decode_png(
            encode_png_palette(w, h, bytes(px), channels=4)
        )
        raster = decoded["pixels"]
        if raster != bytes(px) or decoded["channels"] != 4:
            raise RuntimeError(
                f"tRNS PNG roundtrip not bit-exact for doc {doc_id}"
            )
        yield {
            "doc_id": doc_id,
            "width": decoded["width"],
            "height": decoded["height"],
            "channels": decoded["channels"],
            "n_pixel_bytes": len(raster),
            "pix_sum": sum(raster),
            "mean_pixel": round(
                sum(raster) / len(raster) + 1e-9, 4
            ),
        }

    return map_doc_kernel(docs, kernel, PNG_FEATURE_SCHEMA, id_col)


JPEG_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pixel_bytes", T.LongType()),
        T.StructField("max_err_ok", T.BooleanType()),
        T.StructField("mean_err_ok", T.BooleanType()),
    ]
)


def _synth_gray(doc_id: int) -> "tuple[int, int, bytes]":
    w, h = (doc_id % 9) + 4, (doc_id % 7) + 4
    px = bytes(
        ((doc_id * 7 + 2 * (i % w) + 3 * (i // w)) % 176) + 40
        for i in range(w * h)
    )
    return w, h, px


def jpeg_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """JPEG decode exercised for real — with the lossy-codec twist:
    deterministic grayscale raster → REAL baseline JPEG bytes (llm.jpeg
    encoder: DCT, quality-90 quantization, huffman bitstream with byte
    stuffing) → decode_jpeg_gray (stream-parsed tables, huffman decode,
    dequant, IDCT) → a TOLERANCE VERDICT per doc. Quantization makes
    decoded != source by design, so unlike the WAV/PPM/PNG kernels the
    oracle cannot recompute pixel features from the source formula;
    instead the exact dims/byte counts are oracle-checked and the error
    bounds (max |err| ≤ 16, mean |err| ≤ 4 at Q90 — measured max 1 on
    smooth rasters, 12 on pure noise) are boolean verdicts (the
    llm_dedup_minhash verdict pattern)."""
    import numpy as np

    from . import jpeg as _jpeg

    def kernel(doc_id: int) -> Iterator[dict]:
        w, h, px = _synth_gray(doc_id)
        dec = _jpeg.decode_jpeg_gray(
            _jpeg.encode_jpeg_gray(w, h, px, quality=90)
        )
        if (dec["width"], dec["height"]) != (w, h):
            # explicit raise, not assert: must survive python -O
            # and surface a typed error (ADVICE r7)
            raise RuntimeError(
                f"JPEG decode dims mismatch for doc {doc_id}"
            )
        a = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
        b = np.frombuffer(dec["pixels"], dtype=np.uint8).astype(
            np.int64
        )
        err = np.abs(a - b)
        yield {
            "doc_id": doc_id,
            "width": w,
            "height": h,
            "n_pixel_bytes": len(dec["pixels"]),
            "max_err_ok": bool(err.max() <= 16),
            "mean_err_ok": bool(err.mean() <= 4.0),
        }

    return map_doc_kernel(docs, kernel, JPEG_FEATURE_SCHEMA, id_col)


JPEG_COLOR_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pixel_bytes", T.LongType()),
        T.StructField("subsampling", T.StringType()),
        T.StructField("max_err_ok", T.BooleanType()),
        T.StructField("mean_err_ok", T.BooleanType()),
    ]
)

_JPEG_SUBSAMPLINGS = ("444", "422", "420")


def _synth_rgb(doc_id: int) -> "tuple[int, int, bytes]":
    """Deterministic smooth RGB raster with per-channel phase shifts
    (the color twin of _synth_gray)."""
    w, h = (doc_id % 9) + 4, (doc_id % 7) + 4
    px = bytearray()
    # coefficients sized so no channel ever wraps mod 256 (w ≤ 12,
    # h ≤ 10): a modulo wrap is a sharp chroma edge, which box-average
    # subsampling legitimately smears — that would test the raster, not
    # the codec
    for i in range(w * h):
        x, y = i % w, i // w
        px.append(40 + 2 * x + 3 * y + (doc_id * 7) % 60)
        px.append(60 + 3 * x + y + (doc_id * 11) % 60)
        px.append(80 + x + 2 * y + (doc_id * 13) % 60)
    return w, h, bytes(px)


def jpeg_color_roundtrip_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """COLOR JPEG decode exercised for real: deterministic smooth RGB
    raster → REAL baseline YCbCr JPEG bytes (llm.jpeg encoder: T.871
    color transform, box-average chroma subsampling cycling
    4:4:4/4:2:2/4:2:0 across the corpus, K.1/K.2 quant tables, huffman
    bitstream) → decode_jpeg (stream-parsed tables AND sampling
    factors, interleaved-MCU decode, chroma replication upsample,
    inverse transform) → a TOLERANCE VERDICT per doc (see
    jpeg_roundtrip_features for why a lossy codec gets a verdict
    oracle). On smooth rasters chroma subsampling is near-lossless, so
    the source-relative bounds stay tight (max |err| ≤ 8, mean ≤ 2 at
    Q90; measured max 2 / mean 0.4); the pure-noise worst case — where
    subsampling loss dominates — is decomposed against the ideal-
    subsampling reference in tests/test_llm.py instead."""
    import numpy as np

    from . import jpeg as _jpeg

    def kernel(doc_id: int) -> Iterator[dict]:
        w, h, px = _synth_rgb(doc_id)
        sub = _JPEG_SUBSAMPLINGS[doc_id % 3]
        dec = _jpeg.decode_jpeg(
            _jpeg.encode_jpeg_color(
                w, h, px, quality=90, subsampling=sub
            )
        )
        if (dec["width"], dec["height"], dec["channels"]) != (
            w,
            h,
            3,
        ):
            raise RuntimeError(
                f"color JPEG decode shape mismatch for doc {doc_id}"
            )
        a = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
        b = np.frombuffer(dec["pixels"], dtype=np.uint8).astype(
            np.int64
        )
        err = np.abs(a - b)
        yield {
            "doc_id": doc_id,
            "width": w,
            "height": h,
            "n_pixel_bytes": len(dec["pixels"]),
            "subsampling": sub,
            "max_err_ok": bool(err.max() <= 8),
            "mean_err_ok": bool(err.mean() <= 2.0),
        }

    return map_doc_kernel(docs, kernel, JPEG_COLOR_FEATURE_SCHEMA, id_col)


JPEG_PROGRESSIVE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pixel_bytes", T.LongType()),
        T.StructField("subsampling", T.StringType()),
        T.StructField("matches_baseline", T.BooleanType()),
        T.StructField("sa_matches_baseline", T.BooleanType()),
        T.StructField("max_err_ok", T.BooleanType()),
    ]
)


def jpeg_progressive_roundtrip_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """PROGRESSIVE JPEG decode exercised for real: the same smooth RGB
    rasters as the color entry, encoded as spectral-selection SOF2
    streams (interleaved DC scan + per-component EOB-run AC scans) and
    decoded through the multi-scan coefficient-accumulation path. The
    strongest verdict a lossy codec allows: progressive and baseline
    encodings share the exact quantized coefficients, so the decode
    must be BIT-IDENTICAL to the baseline decode (`matches_baseline`) —
    any scan-ordering, EOB-run, spectral-band, or component-grid bug
    flips it false."""
    import numpy as np

    from . import jpeg as _jpeg

    def kernel(doc_id: int) -> Iterator[dict]:
        w, h, px = _synth_rgb(doc_id)
        sub = _JPEG_SUBSAMPLINGS[doc_id % 3]
        prog = _jpeg.decode_jpeg(
            _jpeg.encode_jpeg_progressive(
                w, h, px, quality=90, subsampling=sub
            )
        )
        sa = _jpeg.decode_jpeg(
            _jpeg.encode_jpeg_progressive(
                w, h, px, quality=90, subsampling=sub,
                successive=True,
            )
        )
        base = _jpeg.decode_jpeg(
            _jpeg.encode_jpeg_color(
                w, h, px, quality=90, subsampling=sub
            )
        )
        if (prog["width"], prog["height"], prog["channels"]) != (
            w,
            h,
            3,
        ):
            raise RuntimeError(
                f"progressive JPEG shape mismatch for doc {doc_id}"
            )
        a = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
        b = np.frombuffer(prog["pixels"], dtype=np.uint8).astype(
            np.int64
        )
        yield {
            "doc_id": doc_id,
            "width": w,
            "height": h,
            "n_pixel_bytes": len(prog["pixels"]),
            "subsampling": sub,
            "matches_baseline": prog["pixels"]
            == base["pixels"],
            "sa_matches_baseline": sa["pixels"]
            == base["pixels"],
            "max_err_ok": bool(np.abs(a - b).max() <= 8),
        }

    return map_doc_kernel(
        docs, kernel, JPEG_PROGRESSIVE_FEATURE_SCHEMA, id_col
    )


def extract_features(media: DataFrame, head: int = 16) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    mapInPandas: the exact shape a real image/audio featurizer would use
    (batch in, batch out; heavy decode inside the iterator; output schema
    declared up front). Partitioning and batch sizes are inherited from
    the scan — at scale, repartition by payload size bins first to even
    out skew from large media files."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            # A NULL payload (missing/unfetched media) propagates as NULL
            # features — never a task crash: at corpus scale a missing
            # object-store blob is a data condition, not an error.
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(
                        lambda p: len(p) if p is not None else None
                    ).astype("Int64"),
                    "head_sig": payloads.map(
                        lambda p: byte_head_signature(bytes(p), head)
                        if p is not None
                        else None
                    ).astype("Int64"),
                }
            )

    return media.mapInPandas(extract, schema=FEATURE_SCHEMA)


FRAME_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("pix_sum", T.LongType()),
        T.StructField("mean_pixel", T.DoubleType()),
    ]
)


def _synth_frames(doc_id: int) -> "list[tuple[int, int, bytes]]":
    """Deterministic RGB frame sequence per doc id — the formula the
    DuckDB oracle recomputes directly (frame j, byte k:
    (doc_id*7 + j*13 + k) % 256)."""
    w, h = (doc_id % 4) + 2, (doc_id % 3) + 2
    n_frames = (doc_id % 4) + 2
    return [
        (w, h, bytes((doc_id * 7 + j * 13 + k) % 256 for k in range(3 * w * h)))
        for j in range(n_frames)
    ]


def video_roundtrip_features(
    docs: DataFrame, every_n: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """Video frame sampling exercised for real: synthesize a
    deterministic frame sequence per row, ENCODE it to a
    concatenated-PPM stream (ffmpeg image2pipe/ppm bytes), walk it back
    with frame_sample keeping every `every_n`-th frame, and emit
    per-sampled-frame features from the DECODED rasters — one output
    row per sampled frame (row-fanout, like a real frame featurizer)."""

    def kernel(doc_id: int) -> Iterator[dict]:
        stream = encode_ppm_stream(_synth_frames(doc_id))
        for fr in frame_sample(stream, every_n=every_n):
            px = fr["pixels"]
            yield {
                "doc_id": doc_id,
                "frame_idx": fr["frame_idx"],
                "width": fr["width"],
                "height": fr["height"],
                "pix_sum": sum(px),
                "mean_pixel": round(sum(px) / len(px) + 1e-9, 4),
            }

    return map_doc_kernel(docs, kernel, FRAME_FEATURE_SCHEMA, id_col)


RESIZE_FEATURE_SCHEMA = (
    "doc_id LONG, src_width LONG, src_height LONG, out_width LONG, "
    "out_height LONG, resized_sum LONG, resized_mean DOUBLE"
)


def ppm_resize_features(
    docs: DataFrame,
    out_w: int = 4,
    out_h: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Image RESIZE through the engine — the geometric transform every
    vision-data pipeline runs before batching: decode the binary PPM,
    nearest-neighbor resample the decoded raster to (out_w, out_h)
    with numpy index arithmetic (``sx = x·w // out_w`` — the floor
    mapping, vectorized, no Python pixel loop), and emit features of
    the RESIZED raster. Same per-doc kernel shape as the decode
    kernels: fixed-schema features out; swap the numpy body for cv2/PIL
    and the plan is unchanged (those libs aren't in this container —
    nearest-neighbor IS the real kernel here, not a stub)."""
    import numpy as np

    def kernel(doc_id: int) -> Iterator[dict]:
        w, h, pixels = _synth_pixels(doc_id)
        decoded = decode_image(encode_ppm(w, h, pixels))
        raster = np.frombuffer(
            bytes(decoded["pixels"]), dtype=np.uint8
        ).reshape(decoded["height"], decoded["width"], 3)
        sy = (np.arange(out_h) * decoded["height"]) // out_h
        sx = (np.arange(out_w) * decoded["width"]) // out_w
        resized = raster[sy][:, sx, :]
        total = int(resized.sum())
        n = resized.size
        yield {
            "doc_id": doc_id,
            "src_width": decoded["width"],
            "src_height": decoded["height"],
            "out_width": out_w,
            "out_height": out_h,
            "resized_sum": total,
            "resized_mean": round(total / n + 1e-9, 4),
        }

    return map_doc_kernel(docs, kernel, RESIZE_FEATURE_SCHEMA, id_col)


RESAMPLE_FEATURE_SCHEMA = (
    "doc_id LONG, src_rate LONG, out_rate LONG, n_src LONG, n_out LONG, "
    "sum_out LONG, rms_out DOUBLE"
)


def wav_resample_features(
    docs: DataFrame, factor: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """Audio RESAMPLE through the engine — the rate-normalization step
    every audio-training pipeline runs before batching: decode the
    RIFF/WAVE payload, decimate the PCM stream by `factor` (keep every
    factor-th sample — the real integer-factor downsampling kernel;
    swap in a polyphase filter via scipy when available, same plan
    shape), emit features of the RESAMPLED signal. Numpy-vectorized
    slicing, no per-sample Python loop."""
    import math

    import numpy as np

    def kernel(doc_id: int) -> Iterator[dict]:
        rate = 8000 + (doc_id % 5) * 1000
        payload = encode_wav_pcm16(_synth_samples(doc_id), rate)
        decoded = decode_audio(payload)
        src = np.asarray(decoded["samples"], dtype=np.int64)
        out = src[::factor]
        total = int(out.sum())
        yield {
            "doc_id": doc_id,
            "src_rate": decoded["sample_rate"],
            "out_rate": decoded["sample_rate"] // factor,
            "n_src": len(src),
            "n_out": len(out),
            "sum_out": total,
            "rms_out": round(
                math.sqrt(float((out * out).sum()) / len(out))
                + 1e-9,
                4,
            ),
        }

    return map_doc_kernel(docs, kernel, RESAMPLE_FEATURE_SCHEMA, id_col)


FLAC_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("channels", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("first_sample", T.LongType()),
        T.StructField("bit_exact_ok", T.BooleanType()),
        T.StructField("md5_ok", T.BooleanType()),
        T.StructField("compressed_ok", T.BooleanType()),
    ]
)


def flac_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """FLAC (lossless audio) through the engine: deterministic PCM per
    doc — mono/stereo alternating, LPC subframes on every third doc,
    stereo docs cycling all three decorrelations per block — encoded to
    a real FLAC stream (llm.flac) and decoded back. Lossless admits the
    strongest verdicts: `bit_exact_ok` is decode(encode(pcm)) == pcm
    sample-for-sample, `md5_ok` is the decoder's STREAMINFO-MD5 check of the
    reconstructed interleaved PCM, `compressed_ok` asserts the stream
    beat raw PCM16 size (these smooth signals must compress — a rice
    parameter/predictor regression shows up as blowup)."""
    import math

    from . import flac as _flac

    def kernel(doc_id: int) -> Iterator[dict]:
        n = 400 + (doc_id % 5) * 80
        s0 = (doc_id % 9) * 100 - 400
        k = doc_id % 5 + 3
        ch0 = [
            s0
            + (i * k) % 801
            + int(1500 * math.sin(i / 8.0))
            for i in range(n)
        ]
        nch = 1 + doc_id % 2
        channels = [ch0]
        if nch == 2:
            channels.append(
                [ch0[i] - 200 + (i * 3) % 7 for i in range(n)]
            )
        enc = _flac.encode_flac(
            channels,
            sample_rate=8000,
            block_size=256,
            use_lpc=doc_id % 3 == 0,
        )
        dec = _flac.decode_flac(enc)
        yield {
            "doc_id": doc_id,
            "codec": "flac",
            "channels": nch,
            "n_samples": dec["n_samples"],
            "first_sample": dec["samples"][0][0],
            "bit_exact_ok": dec["samples"] == channels,
            "md5_ok": dec["md5_ok"],
            "compressed_ok": len(enc) < 2 * n * nch,
        }

    return map_doc_kernel(docs, kernel, FLAC_FEATURE_SCHEMA, id_col)


MP4_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("dts", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pixel_bytes", T.LongType()),
        T.StructField("matches_single", T.BooleanType()),
    ]
)


def mp4_sample_features(
    docs: DataFrame, id_col: str = "doc_id", every_n: int = 2
) -> DataFrame:
    """MP4 (ISO-BMFF) demux exercised for real: per doc, color JPEG
    frames with cycling subsampling are muxed into a genuine MP4
    (llm.mp4 — ftyp/mdat/moov with real stts/stsc/stsz/stco sample
    tables, multi-sample chunks, varying per-sample durations), then
    box-walk demuxed and sampled every `every_n` samples. The demux
    reads ONLY headers + tables and slices sample bytes by
    offset — skipped samples are never entropy-decoded (demux saves
    DECODE, not parse, the same economics as the MJPEG stream walk).
    One row per SAMPLED frame; `dts` comes from the stts expansion
    (oracle recomputes it from the duration formula) and
    `matches_single` asserts the demuxed sample bytes decode
    bit-identical to the frame encoded alone — any stsz/stco/stsc
    expansion bug shifts an offset and breaks it."""
    from . import jpeg as _jpeg
    from . import mp4 as _mp4

    def synth_frame(doc_id: int, j: int) -> "tuple[int, int, bytes]":
        w, h = 6 + j, 5 + j
        px = bytearray()
        for i in range(w * h):
            x, y = i % w, i // w
            px.append(50 + 3 * x + y + (doc_id * 3 + j * 7) % 50)
            px.append(70 + x + 3 * y + (doc_id * 13 + j * 5) % 50)
            px.append(30 + 2 * x + 2 * y + (doc_id * 17 + j * 19) % 50)
        return w, h, bytes(px)

    def kernel(doc_id: int) -> Iterator[dict]:
        n_frames = 4 + doc_id % 4
        encs = []
        for j in range(n_frames):
            w, h, px = synth_frame(doc_id, j)
            encs.append(
                _jpeg.encode_jpeg_color(
                    w, h, px, 90, _JPEG_SUBSAMPLINGS[j % 3]
                )
            )
        durations = [1000 + 100 * j for j in range(n_frames)]
        stream = _mp4.encode_mp4_samples(
            encs, durations, timescale=30000, width=6, height=5
        )
        demux = _mp4.mp4_demux(stream)
        for s in demux["samples"]:
            j = s["sample_idx"]
            if j % every_n != 0:
                continue  # skipped: sliced by the walk, never decoded
            frame = _jpeg.decode_jpeg(s["data"])
            single = _jpeg.decode_jpeg(encs[j])
            yield {
                "doc_id": doc_id,
                "frame_idx": j,
                "dts": s["dts"],
                "codec": demux["codec"],
                "width": frame["width"],
                "height": frame["height"],
                "n_pixel_bytes": len(frame["pixels"]),
                "matches_single": frame["pixels"]
                == single["pixels"]
                and s["data"] == encs[j],
            }

    return map_doc_kernel(docs, kernel, MP4_FEATURE_SCHEMA, id_col)


WEBM_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("pts_ms", T.LongType()),
        T.StructField("codec_id", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pixel_bytes", T.LongType()),
        T.StructField("matches_single", T.BooleanType()),
    ]
)


def webm_sample_features(
    docs: DataFrame, id_col: str = "doc_id", every_n: int = 2
) -> DataFrame:
    """Matroska/webm demux exercised for real: per doc, color JPEG
    frames with cycling subsampling are muxed into a genuine Matroska
    stream (llm.webm — EBML header, UNKNOWN-size Segment, Info/Tracks,
    a Void element the walk must skip, multi-frame Clusters mixing
    solo SimpleBlocks with Xiph-LACED blocks), then EBML-walk demuxed
    and sampled every `every_n` frames. The walk parses only element
    headers, lacing tables, and block headers — frame bytes are sliced
    by offset, and skipped frames are never entropy-decoded (demux
    saves DECODE, not parse — the mp4/MJPEG economics on the other
    container a crawl actually carries). One row per SAMPLED frame;
    `pts_ms` comes from cluster-timestamp + block-relative expansion
    (laced frames share their block's timestamp — the oracle mirrors
    that formula) and `matches_single` asserts the sliced frame bytes
    equal AND decode bit-identical to the frame encoded alone — any
    vint/lacing/offset bug shifts a boundary and breaks it."""
    from . import jpeg as _jpeg
    from . import webm as _webm

    def synth_frame(doc_id: int, j: int) -> "tuple[int, int, bytes]":
        w, h = 6 + j, 5 + j
        px = bytearray()
        for i in range(w * h):
            x, y = i % w, i // w
            px.append(40 + 2 * x + 3 * y + (doc_id * 5 + j * 11) % 50)
            px.append(80 + 3 * x + y + (doc_id * 7 + j * 3) % 50)
            px.append(20 + x + 2 * y + (doc_id * 11 + j * 13) % 50)
        return w, h, bytes(px)

    def kernel(doc_id: int) -> Iterator[dict]:
        n_frames = 4 + doc_id % 4
        encs = []
        for j in range(n_frames):
            w, h, px = synth_frame(doc_id, j)
            encs.append(
                _jpeg.encode_jpeg_color(
                    w, h, px, 90, _JPEG_SUBSAMPLINGS[j % 3]
                )
            )
        pts = [40 * j + j * (j - 1) for j in range(n_frames)]
        stream = _webm.encode_webm_frames(
            encs, pts, width=6, height=5, cluster_every=3, lace_from=1
        )
        demux = _webm.webm_demux(stream)
        for s in demux["samples"]:
            j = s["sample_idx"]
            if j % every_n != 0:
                continue  # skipped: sliced by the walk, never decoded
            frame = _jpeg.decode_jpeg(s["data"])
            single = _jpeg.decode_jpeg(encs[j])
            yield {
                "doc_id": doc_id,
                "frame_idx": j,
                "pts_ms": s["pts"],
                "codec_id": demux["codec_id"],
                "width": frame["width"],
                "height": frame["height"],
                "n_pixel_bytes": len(frame["pixels"]),
                "matches_single": frame["pixels"]
                == single["pixels"]
                and s["data"] == encs[j],
            }

    return map_doc_kernel(docs, kernel, WEBM_FEATURE_SCHEMA, id_col)


OGG_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("packet_idx", T.LongType()),
        T.StructField("size", T.LongType()),
        T.StructField("head_sig", T.LongType()),
        T.StructField("granule", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("pre_skip", T.LongType()),
        T.StructField("n_pages", T.LongType()),
        T.StructField("matches_original", T.BooleanType()),
        T.StructField("n_pages_spanning", T.LongType()),
        T.StructField("spanning_ok", T.BooleanType()),
    ]
)


def ogg_packet_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Ogg (RFC 3533) container demux exercised for real: per doc, two
    genuine Ogg-Opus-shaped streams (llm.ogg — OpusHead/OpusTags
    header packets, segment-lacing tables, BOS/EOS/continued flags,
    the real unreflected Ogg CRC-32 verified on every page):

    stream A — sub-255-byte packets, two per page, whose per-packet
    `size`, `head_sig` (first-16-bytes checksum of the deterministic
    payload), page-completion `granule` (RFC 3533: packets completing
    on one page share its granule — the oracle reproduces the pairing
    formula), OpusHead `channels`/`pre_skip`, and page count are each
    recomputed independently by the SQL oracle;

    stream B — oversized packets under a 3-segment page cap, so
    packets SPAN pages via 255-run lacing + continued flags:
    `spanning_ok` asserts every reassembled packet is byte-identical
    to its original and `n_pages_spanning` checks the page count
    against the lacing arithmetic (2 header pages + ceil(total
    segments / 3)). Opus payload DECODE (SILK/CELT) remains the
    declared perceptual-codec stub — the container is what a 100 TB
    crawl shard needs to slice without paying a codec."""
    from . import ogg as _ogg

    def kernel(doc_id: int) -> Iterator[dict]:
        n = 5 + doc_id % 4
        pkts = [
            bytes(
                (doc_id * 7 + j * 11 + 3 * i) % 256
                for i in range(100 + 10 * j)
            )
            for j in range(n)
        ]
        grans = [960 * (j + 1) for j in range(n)]
        stream_a = _ogg.encode_ogg_opus(
            pkts,
            grans,
            channels=1 + doc_id % 2,
            pre_skip=312 + doc_id % 7,
            max_segments_per_page=2,
        )
        da = _ogg.ogg_demux(stream_a)
        # stream B: 300/555-byte packets (2/3 lacing segments)
        # under a 3-segment page cap => guaranteed spanning
        pkts_b = [
            bytes((doc_id * 3 + j * 5 + i) % 256 for i in range(300 + 255 * (j % 2)))
            for j in range(n)
        ]
        db = _ogg.ogg_demux(
            _ogg.encode_ogg_opus(
                pkts_b, grans, max_segments_per_page=3
            )
        )
        spanning_ok = [p["data"] for p in db["packets"][2:]] == pkts_b
        for j, p in enumerate(da["packets"][2:]):
            yield {
                "doc_id": doc_id,
                "packet_idx": j,
                "size": p["size"],
                "head_sig": sum(p["data"][:16]) % 997,
                "granule": p["granule"],
                "channels": da["channels"],
                "pre_skip": da["pre_skip"],
                "n_pages": da["n_pages"],
                "matches_original": p["data"] == pkts[j],
                "n_pages_spanning": db["n_pages"],
                "spanning_ok": spanning_ok,
            }

    return map_doc_kernel(docs, kernel, OGG_FEATURE_SCHEMA, id_col)


OGG_FLAC_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("channels", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("first_sample", T.LongType()),
        T.StructField("n_frame_packets", T.LongType()),
        T.StructField("last_granule", T.LongType()),
        T.StructField("bit_exact_ok", T.BooleanType()),
        T.StructField("md5_ok", T.BooleanType()),
    ]
)


def ogg_flac_roundtrip_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """FLAC-in-Ogg (RFC 5334 mapping) through the engine: the same
    deterministic PCM as flac_roundtrip_features is encoded, its
    frames packetized into CRC'd Ogg pages (one frame per packet,
    frame-last-sample granules, STREAMINFO riding the BOS mapping
    packet), then demuxed and decoded back. `bit_exact_ok` asserts PCM
    identity through BOTH layers — any paging/lacing bug corrupts a
    frame and the FLAC CRCs or MD5 catch it; `last_granule` must equal
    the sample count and `n_frame_packets` the block arithmetic, both
    oracle-recomputed."""
    import math

    from . import ogg as _ogg

    def kernel(doc_id: int) -> Iterator[dict]:
        n = 400 + (doc_id % 5) * 80
        s0 = (doc_id % 9) * 100 - 400
        k = doc_id % 5 + 3
        ch0 = [
            s0 + (i * k) % 801 + int(1500 * math.sin(i / 8.0))
            for i in range(n)
        ]
        nch = 1 + doc_id % 2
        channels = [ch0]
        if nch == 2:
            channels.append(
                [ch0[i] - 200 + (i * 3) % 7 for i in range(n)]
            )
        enc = _ogg.encode_ogg_flac(
            channels,
            sample_rate=8000,
            block_size=256,
            use_lpc=doc_id % 3 == 0,
        )
        dec = _ogg.decode_ogg_flac(enc)
        yield {
            "doc_id": doc_id,
            "codec": "ogg-flac",
            "channels": nch,
            "n_samples": dec["n_samples"],
            "first_sample": dec["samples"][0][0],
            "n_frame_packets": dec["n_frame_packets"],
            "last_granule": dec["last_granule"],
            "bit_exact_ok": dec["samples"] == channels,
            "md5_ok": dec["md5_ok"],
        }

    return map_doc_kernel(docs, kernel, OGG_FLAC_FEATURE_SCHEMA, id_col)
