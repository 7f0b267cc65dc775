"""Pure-stdlib WebDataset shard (POSIX ustar) writer + reader — the
tar-of-grouped-samples layout PyTorch training loaders stream
(key.jpg + key.json + key.txt members per sample, samples
concatenated). A 100 TB multimodal corpus ships as exactly these
shards, so the engine must be able to open them without a loader
library.

The writer emits genuine ustar: 512-byte headers (name, octal
mode/uid/gid/size/mtime, checksum computed over the header with the
checksum field blanked to spaces, typeflag '0', "ustar\\x00" magic),
512-aligned member bodies, and the two terminating zero blocks. The
reader walks headers by offset — checksum verified, octal sizes
parsed, bodies sliced, padding skipped — and regroups members into
WebDataset samples by their dot-split key prefix, preserving member
order within a sample. Truncations, checksum mismatches, and missing
terminators raise NotImplementedError per this package's declared
error contract.

(stdlib `tarfile` exists, but it reads from file objects and hides
framing errors this reader must surface as data-quality signals; the
512-byte header walk is ~40 lines and keeps the error contract ours.)

Reference parity: the reference ships rows opaquely (Kafka producer
scripts); shard ingestion is upstream of it. Runs engine-side through
the codec family's per-document kernel harness
(webdataset_scan_features → multimodal.map_doc_kernel).
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_BLOCK = 512


def _octal(v: int, width: int) -> bytes:
    return f"{v:0{width - 1}o}".encode() + b"\x00"


def _parse_octal(raw: bytes, what: str, blank_is_zero: bool = False) -> int:
    """STRICT tar numeral parse. Python's int(x, 8) also accepts a
    minus sign (a crafted -0o1000 size advanced the walk by exactly
    zero — an infinite loop, r11 anti-hang pass), '+', '0o' prefixes,
    and '_' separators — none of which is a tar numeral; strict octal
    digits also make negative values unrepresentable. A blank field is
    only legal where historical tar writers emit one (checksum-style
    fields, opt-in) — a blank SIZE field stays the declared reject, as
    it always was."""
    tok = raw.split(b"\x00")[0].strip()
    if not tok:
        if blank_is_zero:
            return 0
        raise NotImplementedError(f"blank tar {what} field")
    if not all(0x30 <= b <= 0x37 for b in tok):
        raise NotImplementedError(f"non-octal tar {what} field")
    return int(tok, 8)


def encode_tar(members: "list[tuple[str, bytes]]") -> bytes:
    """Serialize (name, body) members into a POSIX ustar archive."""
    out = bytearray()
    for name, body in members:
        nb = name.encode()
        if len(nb) > 100:
            raise ValueError("member name exceeds ustar 100-byte field")
        header = bytearray(_BLOCK)
        header[0 : len(nb)] = nb
        header[100:108] = _octal(0o644, 8)  # mode
        header[108:116] = _octal(0, 8)  # uid
        header[116:124] = _octal(0, 8)  # gid
        header[124:136] = _octal(len(body), 12)  # size
        header[136:148] = _octal(0, 12)  # mtime (0 → deterministic)
        header[148:156] = b" " * 8  # chksum blanked for the sum
        header[156] = ord("0")  # typeflag: regular file
        header[257:263] = b"ustar\x00"
        header[263:265] = b"00"
        chk = sum(header)
        header[148:156] = f"{chk:06o}".encode() + b"\x00 "
        out += header + body
        pad = (-len(body)) % _BLOCK
        out += b"\x00" * pad
    out += b"\x00" * (2 * _BLOCK)
    return bytes(out)


def tar_members(payload: bytes) -> "list[dict]":
    """Walk ustar headers by offset: checksum-verified, sizes parsed
    from octal, bodies sliced, padding skipped. Returns
    [{name, size, data}]."""
    out = []
    pos = 0
    n = len(payload)
    while True:
        if pos + _BLOCK > n:
            raise NotImplementedError("truncated tar: header past EOF")
        header = payload[pos : pos + _BLOCK]
        if header == b"\x00" * _BLOCK:
            # end-of-archive: two zero blocks
            if payload[pos + _BLOCK : pos + 2 * _BLOCK] != b"\x00" * _BLOCK:
                raise NotImplementedError("tar missing second zero block")
            break
        # Untrusted shard input: strict octal grammar (see _parse_octal).
        # checksum keeps its historical blank-means-zero tolerance; a
        # blank SIZE field stays the declared reject it always was.
        stored = _parse_octal(header[148:156], "checksum", blank_is_zero=True)
        blanked = header[:148] + b" " * 8 + header[156:]
        if sum(blanked) != stored:
            raise NotImplementedError("tar header checksum mismatch")
        if header[257:262] != b"ustar":
            raise NotImplementedError("not a ustar header")
        name = header[0:100].split(b"\x00")[0].decode()
        size = _parse_octal(header[124:136], "size")
        body_start = pos + _BLOCK
        if body_start + size > n:
            raise NotImplementedError("truncated tar: body past EOF")
        out.append(
            {
                "name": name,
                "size": size,
                "data": payload[body_start : body_start + size],
            }
        )
        pos = body_start + size + ((-size) % _BLOCK)
    return out


def webdataset_samples(payload: bytes) -> "list[dict]":
    """Group tar members into WebDataset samples by dot-split key
    prefix: a.ppm + a.json + a.txt → {'__key__': 'a', 'ppm': ...,
    'json': ..., 'txt': ...}. Member order defines sample order."""
    samples: "list[dict]" = []
    current: "dict | None" = None
    for m in tar_members(payload):
        key, _, ext = m["name"].partition(".")
        if current is None or current["__key__"] != key:
            current = {"__key__": key}
            samples.append(current)
        current[ext] = m["data"]
    return samples


WDS_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_idx", T.LongType()),
        T.StructField("key", T.StringType()),
        T.StructField("n_members", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("pix_sum", T.LongType()),
        T.StructField("caption_len", T.LongType()),
        T.StructField("meta_label", T.LongType()),
        T.StructField("image_exact", T.BooleanType()),
    ]
)


def webdataset_scan_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """WebDataset ingestion exercised for real: per doc, a 2-sample
    shard (key.ppm raster + key.json metadata + key.txt caption per
    sample) is written as genuine ustar and read back — header walk
    with checksum verification, sample regrouping by key, PPM decode of
    the image member, JSON parse of the metadata member. `image_exact` asserts the decoded raster is
    byte-identical to the one packed (any 512-block arithmetic bug
    shifts an offset and breaks it); dims/pixel-sum/caption-length/
    label are recomputed independently by the SQL oracle."""
    from . import multimodal

    def synth_raster(doc_id: int, j: int) -> "tuple[int, int, bytes]":
        w, h = 4 + j, 3 + j
        px = bytes(
            (doc_id * 5 + j * 17 + i) % 256 for i in range(3 * w * h)
        )
        return w, h, px

    def kernel(doc_id: int) -> Iterator[dict]:
        members = []
        rasters = []
        for j in range(2):
            w, h, px = synth_raster(doc_id, j)
            rasters.append(px)
            key = f"{doc_id:09d}_{j}"
            members += [
                (key + ".ppm", multimodal.encode_ppm(w, h, px)),
                (
                    key + ".json",
                    json.dumps(
                        {"label": (doc_id * 3 + j) % 10},
                        sort_keys=True,
                    ).encode(),
                ),
                (key + ".txt", b"c" * (20 + 7 * j + doc_id % 5)),
            ]
        shard = encode_tar(members)
        for j, s in enumerate(webdataset_samples(shard)):
            frame = multimodal.decode_image(s["ppm"])
            meta = json.loads(s["json"])
            yield {
                "doc_id": doc_id,
                "sample_idx": j,
                "key": s["__key__"],
                "n_members": len(s) - 1,
                "width": frame["width"],
                "height": frame["height"],
                "pix_sum": sum(frame["pixels"]),
                "caption_len": len(s["txt"]),
                "meta_label": meta["label"],
                "image_exact": frame["pixels"] == rasters[j],
            }

    return multimodal.map_doc_kernel(docs, kernel, WDS_FEATURE_SCHEMA, id_col)
