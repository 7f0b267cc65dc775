"""Pure-stdlib WARC/1.0 (ISO 28500) writer + reader with the
Common-Crawl gzip layout — the container a real 100 TB crawl corpus
actually arrives in.

The writer produces genuine WARC: records framed as a version line,
CRLF-separated named headers (WARC-Type / WARC-Record-ID /
WARC-Date / WARC-Target-URI / Content-Type / Content-Length), a blank
line, `Content-Length` body bytes, and the mandatory CRLF CRLF record
terminator. Response records carry a real HTTP/1.1 message (status
line + headers + entity body) as their block, exactly like a crawler's
capture. The gzip form compresses EACH RECORD AS ITS OWN GZIP MEMBER
and concatenates — the Common Crawl layout that makes byte-offset
random access possible (a reader can start at any member boundary
without decompressing the shard prefix; mtime=0 keeps the bytes
deterministic).

The reader walks members with a raw zlib inflater (stdlib `gzip`
refuses trailing garbage; `zlib.decompressobj(wbits=31)` exposes
`unused_data`, which IS the next member), parses record headers,
slices bodies by Content-Length (never by scanning — bodies may
contain anything, including "WARC/1.0"), verifies the record
terminator, and parses the inner HTTP message of response records.
Truncations, bad version lines, and missing Content-Length raise
NotImplementedError per this package's declared error contract.

Reference parity: the reference ships documents as opaque rows
(Kafka producer scripts); crawl-shard ingestion is upstream of it.
Here it runs engine-side through the codec family's per-document
kernel harness (warc_scan_features → multimodal.map_doc_kernel).
"""

from __future__ import annotations

import gzip
import zlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .multimodal import map_doc_kernel

_CRLF = b"\r\n"


def encode_warc_records(records: "list[dict]") -> bytes:
    """Serialize records ({type, record_id, date, uri?, content_type,
    body}) into uncompressed WARC/1.0 bytes."""
    out = bytearray()
    for r in records:
        body = r["body"]
        headers = [
            ("WARC-Type", r["type"]),
            ("WARC-Record-ID", r["record_id"]),
            ("WARC-Date", r["date"]),
        ]
        if r.get("uri"):
            headers.append(("WARC-Target-URI", r["uri"]))
        headers.append(("Content-Type", r["content_type"]))
        headers.append(("Content-Length", str(len(body))))
        out += b"WARC/1.0" + _CRLF
        for k, v in headers:
            out += k.encode() + b": " + str(v).encode() + _CRLF
        out += _CRLF + body + _CRLF + _CRLF
    return bytes(out)


def encode_warc_gz(records: "list[dict]") -> bytes:
    """Common-Crawl layout: one gzip member PER RECORD, concatenated.
    mtime=0 → deterministic bytes."""
    return b"".join(
        gzip.compress(encode_warc_records([r]), mtime=0) for r in records
    )


def encode_http_response(
    status: int, reason: str, content_type: str, body: bytes
) -> bytes:
    return (
        f"HTTP/1.1 {status} {reason}".encode()
        + _CRLF
        + f"Content-Type: {content_type}".encode()
        + _CRLF
        + f"Content-Length: {len(body)}".encode()
        + _CRLF
        + _CRLF
        + body
    )


def _gunzip_members(payload: bytes) -> "tuple[bytes, int]":
    """Inflate a concatenated-member gzip stream. Returns (joined
    plaintext, member count); warc_records exposes the count."""
    out = bytearray()
    rest = payload
    members = 0
    while rest:
        d = zlib.decompressobj(wbits=31)
        try:
            out += d.decompress(rest)
        except zlib.error as ex:
            raise NotImplementedError(f"bad gzip member: {ex}") from None
        if not d.eof:
            raise NotImplementedError("truncated gzip member")
        rest = d.unused_data
        members += 1
    return bytes(out), members


def parse_http_response(block: bytes) -> dict:
    """Split a captured HTTP/1.1 message into status/headers/body."""
    head_end = block.find(_CRLF + _CRLF)
    if head_end < 0:
        raise NotImplementedError("HTTP block without header terminator")
    head_lines = block[:head_end].split(_CRLF)
    status_parts = head_lines[0].split(b" ", 2)
    if not status_parts[0].startswith(b"HTTP/") or len(status_parts) < 2:
        raise NotImplementedError("not an HTTP response block")
    headers = {}
    for line in head_lines[1:]:
        k, _, v = line.partition(b":")
        headers[k.strip().decode().lower()] = v.strip().decode()
    return {
        "status": int(status_parts[1]),
        "headers": headers,
        "body": block[head_end + 4 :],
    }


def warc_records(payload: bytes) -> dict:
    """Parse a WARC shard (gzip multi-member or plain). Returns
    {gzip_members, records: [{type, record_id, date, uri, content_type,
    body}]}. Bodies are sliced by Content-Length — never by scanning."""
    members = 0
    if payload[:2] == b"\x1f\x8b":
        payload, members = _gunzip_members(payload)
    records = []
    pos = 0
    n = len(payload)
    while pos < n:
        line_end = payload.find(_CRLF, pos)
        if line_end < 0:
            raise NotImplementedError("truncated WARC version line")
        version = payload[pos:line_end]
        if version not in (b"WARC/1.0", b"WARC/1.1"):
            raise NotImplementedError(f"unsupported WARC version {version!r}")
        pos = line_end + 2
        headers: dict = {}
        while True:
            line_end = payload.find(_CRLF, pos)
            if line_end < 0:
                raise NotImplementedError("truncated WARC headers")
            line = payload[pos:line_end]
            pos = line_end + 2
            if not line:
                break
            k, _, v = line.partition(b":")
            headers[k.strip().decode().lower()] = v.strip().decode()
        if "content-length" not in headers:
            raise NotImplementedError("WARC record without Content-Length")
        # Untrusted crawl input: a non-numeric or negative Content-Length
        # must fail the declared contract, not raise ValueError or move
        # the parse position backwards (which loops forever).
        try:
            clen = int(headers["content-length"])
        except ValueError:
            raise NotImplementedError(
                f"non-numeric WARC Content-Length "
                f"{headers['content-length']!r}"
            ) from None
        if clen < 0:
            raise NotImplementedError(
                f"negative WARC Content-Length {clen}"
            )
        if pos + clen + 4 > n:
            raise NotImplementedError("truncated WARC record body")
        body = payload[pos : pos + clen]
        pos += clen
        if payload[pos : pos + 4] != _CRLF + _CRLF:
            raise NotImplementedError("missing WARC record terminator")
        pos += 4
        records.append(
            {
                "type": headers.get("warc-type", ""),
                "record_id": headers.get("warc-record-id", ""),
                "date": headers.get("warc-date", ""),
                "uri": headers.get("warc-target-uri"),
                "content_type": headers.get("content-type", ""),
                "body": body,
            }
        )
    return {"gzip_members": members, "records": records}


WARC_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("record_idx", T.LongType()),
        T.StructField("gzip_members", T.LongType()),
        T.StructField("uri", T.StringType()),
        T.StructField("http_status", T.LongType()),
        T.StructField("body_len", T.LongType()),
        T.StructField("body_sig", T.LongType()),
        T.StructField("body_exact", T.BooleanType()),
    ]
)


def _synth_body(doc_id: int, j: int) -> bytes:
    return bytes(
        (doc_id * 7 + j * 13 + i * 3) % 256 for i in range(120 + 10 * j)
    )


def warc_scan_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """WARC ingestion exercised for real: per doc, a deterministic
    2-response crawl shard in the Common-Crawl gzip layout (one gzip
    member per record: warcinfo + 2 HTTP responses) is written and
    read back — member walk, header parse, Content-Length body slicing,
    record-terminator check, inner HTTP parse. One row per RESPONSE record; `body_exact` asserts the
    sliced HTTP entity equals the synthesized body byte-for-byte (any
    framing bug shifts an offset and breaks it), `body_sig` and the
    rest are recomputed independently by the SQL oracle."""

    def kernel(doc_id: int) -> Iterator[dict]:
        recs = [
            {
                "type": "warcinfo",
                "record_id": f"<urn:uuid:{doc_id:032x}>",
                "date": "2024-01-01T00:00:00Z",
                "content_type": "application/warc-fields",
                "body": b"software: trino_demo_spark.llm.warc\r\n",
            }
        ]
        bodies = []
        for j in range(2):
            body = _synth_body(doc_id, j)
            bodies.append(body)
            recs.append(
                {
                    "type": "response",
                    "record_id": f"<urn:uuid:{doc_id:028x}{j:04x}>",
                    "date": "2024-01-01T00:00:00Z",
                    "uri": f"https://site{doc_id % 7}.example/d{doc_id}/p{j}",
                    "content_type": (
                        "application/http; msgtype=response"
                    ),
                    "body": encode_http_response(
                        200 + 4 * (j % 2),
                        "OK" if j % 2 == 0 else "No Content",
                        "application/octet-stream",
                        body,
                    ),
                }
            )
        shard = encode_warc_gz(recs)
        parsed = warc_records(shard)
        resp_idx = 0
        for rec in parsed["records"]:
            if rec["type"] != "response":
                continue
            http = parse_http_response(rec["body"])
            yield {
                "doc_id": doc_id,
                "record_idx": resp_idx,
                "gzip_members": parsed["gzip_members"],
                "uri": rec["uri"],
                "http_status": http["status"],
                "body_len": len(http["body"]),
                "body_sig": sum(http["body"][:16]) % 997,
                "body_exact": http["body"]
                == bodies[resp_idx],
            }
            resp_idx += 1

    return map_doc_kernel(docs, kernel, WARC_FEATURE_SCHEMA, id_col)
