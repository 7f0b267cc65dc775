"""LLM-pipeline operator tests: cross-checks between the approximate
(MinHash/SimHash/LSH) and exact (n-gram Jaccard / brute-force cosine)
paths, plus determinism and the multimodal plumbing contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trino_demo_spark.llm import dedup, multimodal, similarity
from trino_demo_spark.registry import load_table

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, "documents", SF_SMOKE)


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "embeddings", SF_SMOKE)


def test_exact_dedup_finds_planted_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb"), (3, "cc dd"), (4, "aa bb")], "doc_id long, text string"
    )
    out = {r.keep_id: r.n_copies for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 3, 3: 1}


def test_minhash_recall_vs_exact_jaccard(spark, docs):
    """MinHash-LSH must recover the high-Jaccard pairs the exact op finds
    (the planted near-dups have jaccard ≥ 0.5 → S-curve recall ~1)."""
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.3).collect()
    }
    assert exact, "expected planted near-dup pairs at jaccard >= 0.5"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall} over {len(exact)} true pairs"


def test_minhash_verified_pairs_exact_precision(spark, docs):
    """The two-stage production op (LSH candidates + exact shingle-set
    verification, VERDICT r6 §next-round-6b): every emitted pair must be
    a TRUE exact-Jaccard pair with the identical jaccard value
    (precision 1.0 by construction), and recall vs the exact op must be
    the candidate-stage recall (≥ 0.8 on the planted near-dups)."""
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    verified = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_verified_pairs(
            docs, threshold=0.5, candidate_threshold=0.35
        ).collect()
    }
    assert exact and verified
    # precision 1.0: verified ⊆ exact, with bit-identical jaccard values
    for pair, j in verified.items():
        assert pair in exact and exact[pair] == j, (pair, j)
    recall = len(verified) / len(exact)
    assert recall >= 0.8, f"verified recall {recall} over {len(exact)} true pairs"


def test_minhash_estimate_tracks_jaccard(spark, docs):
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.0).collect()
    }
    diffs = [abs(est[k] - v) for k, v in exact.items() if k in est]
    assert diffs and sum(diffs) / len(diffs) < 0.25  # 32 perms → coarse but unbiased


def test_simhash_properties(spark, docs):
    s1 = {r.id: r.simhash for r in dedup.simhash(docs).collect()}
    s2 = {r.id: r.simhash for r in dedup.simhash(docs).collect()}
    assert s1 == s2  # deterministic
    # near-identical docs (the planted dups) have small hamming distance
    pairs = dedup.simhash_near_pairs(docs, max_hamming=12).collect()
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    found = {(r.id_a, r.id_b) for r in pairs}
    if exact:
        assert len(exact & found) / len(exact) >= 0.5


def test_simhash_near_pairs_skip_null_text(spark):
    """simhash gives every NULL text fingerprint 0; those documents must
    not come back as Hamming-0 duplicates of each other (minhash drops
    their empty signatures the same way)."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (4, "the quick brown fox"), (5, "the quick brown fox")],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_near_pairs(df).collect()
    assert [tuple(r) for r in pairs] == [(4, 5, 0)]


def test_bucket_pairs_multiplicity_and_carry(spark):
    """One row per (pair, shared bucket): no self pairs (id 4 sits in
    its bucket twice), id_a < id_b, a pair sharing two buckets appears
    twice, rows agreeing on only some keys never pair (5 vs 3), and
    each carried column comes from its own side of the pair."""
    df = spark.createDataFrame(
        [
            (2, 0, 10, "b2"), (1, 0, 10, "a1"),
            (2, 1, 20, "b2"), (1, 1, 20, "a1"), (3, 1, 20, "c3"),
            (5, 0, 20, "e5"),
            (4, 2, 30, "d4"), (4, 2, 30, "d4"),
        ],
        "id long, band int, bh long, c string",
    )
    out = dedup.bucket_pairs(df, ["band", "bh"], "id", "x", "c")
    assert out.columns == ["x_a", "x_b", "c_a", "c_b"]
    assert sorted(map(tuple, out.collect())) == [
        (1, 2, "a1", "b2"), (1, 2, "a1", "b2"), (1, 3, "a1", "c3"), (2, 3, "b2", "c3")
    ]


@pytest.mark.parametrize("num_planes", [4, 8])
def test_lsh_bucketed_topk_keeps_whole_plane_buckets(spark, emb, num_planes):
    """lsh_bucketed_topk's bucket is the one-band sign key; its rows equal
    those of the earlier whole-plane-array formula, built here with the
    same vectors, cosine and rank tail."""
    S = similarity
    planes = S._array_lit(S._hyperplanes(64, num_planes))

    def bucketed(df, prefix):
        bits = F.expr(
            "aggregate(transform(__planes, p -> CASE WHEN "
            + S.DOT.format(a="p", b=prefix + "emb")
            + " >= 0 THEN 1 ELSE 0 END), 0, (acc, b) -> acc * 2 + b)"
        )
        v = S._vectors(df, "vec_id", "embedding", 64, prefix)
        return v.withColumn("__planes", planes).withColumn("bucket", bits).drop("__planes")

    queries = emb.filter(F.col("vec_id") < 20)
    pairs = (
        bucketed(emb, "n_")
        .join(F.broadcast(bucketed(queries, "q_")), "bucket")
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", S._rounded_cosine("q_emb", "n_emb", "q_norm", "n_norm", 4))
    )
    want = sorted(map(tuple, S._rank_top_k(pairs, 3).collect()))
    got = sorted(
        map(tuple, S.lsh_bucketed_topk(emb, queries, k=3, num_planes=num_planes).collect())
    )
    assert got == want and len(got) > 0


def test_lsh_topk_recall_vs_brute_force(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.q_id, r.n_id) for r in similarity.brute_force_topk(emb, queries, k=3).collect()
    }
    # LSH with few planes: buckets are coarse; measure top-1 recall
    approx = similarity.lsh_bucketed_topk(emb, queries, k=3, num_planes=4).collect()
    got_q = {r.q_id for r in approx}
    assert len(got_q) >= 15  # most queries land in a non-empty bucket
    top1_exact = {
        (r.q_id, r.n_id)
        for r in similarity.brute_force_topk(emb, queries, k=1).collect()
    }
    top_by_q = {}
    for r in approx:
        if r.rank == 1:
            top_by_q[(r.q_id, r.n_id)] = r.sim
    overlap = len(top1_exact & set(top_by_q)) / len(top1_exact)
    # sign-LSH with 4 planes on random-ish vectors is approximate — just
    # require it beats chance by a wide margin
    assert overlap >= 0.2, overlap


def test_cosine_bounds(spark, emb):
    out = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)
    sims = [r.sim for r in out.collect()]
    assert all(-1.0001 <= s <= 1.0001 for s in sims)


def test_multimodal_stub_contract(spark, docs):
    media = multimodal.attach_payload(docs)
    assert [f.name for f in media.schema.fields] == ["doc_id", "payload", "meta"]
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == docs.count()
    assert all(0 <= r.head_sig < 997 for r in rows)
    # unsupported formats stay declared stubs (PNG graduated to a real
    # kernel in r7 — a bare 4-byte prefix is now a TRUNCATED signature,
    # same declared error, different reason)
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        # JPEG graduated to a real grayscale kernel in r7 — a bare SOI +
        # APP0 prefix is now a TRUNCATED header, same declared error
        multimodal.decode_image(b"\xff\xd8\xff\xe0")
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"RIFF")  # truncated/containerless
    # corrupt chunk header declaring more bytes than the payload carries
    # must surface the declared contract error, never a raw struct.error:
    # a full-length payload whose trailing fmt chunk declares 16 bytes
    # but carries only 4 (the slice clamps to what exists)
    corrupt = (
        b"RIFF" + (44).to_bytes(4, "little") + b"WAVE"
        + b"data" + (20).to_bytes(4, "little") + b"\x00" * 20
        + b"fmt " + (16).to_bytes(4, "little") + b"\x01\x00\x01\x00"
    )
    assert len(corrupt) >= 44
    with pytest.raises(NotImplementedError, match="truncated WAV fmt"):
        multimodal.decode_audio(corrupt)


def test_map_doc_kernel_harness(spark):
    """The one per-document kernel harness of the codec family: 0, 1 or
    3 rows per doc (a whole input batch may yield zero rows), a None
    field lands as SQL NULL, the output carries exactly the declared
    Spark types, and a kernel exception fails the action."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("k", T.LongType()),
            T.StructField("label", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("ok", T.BooleanType()),
        ]
    )

    def kernel(doc_id):
        if doc_id < 3:  # the whole first partition of ids 0..8
            return
        for k in range(1 if doc_id % 2 else 3):
            yield {
                "doc_id": doc_id,
                "k": k,
                "label": None if doc_id % 2 else f"d{doc_id}",
                "score": doc_id / 2,
                "ok": k == 0,
            }

    # three partitions of three ids; the INT key exercises the long cast
    docs = spark.range(0, 9, 1, 3).select(F.col("id").cast("int").alias("key"))
    out = multimodal.map_doc_kernel(docs, kernel, schema, id_col="key")
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in schema.fields
    ]
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == sorted(
        (d, k, None if d % 2 else f"d{d}", d / 2, k == 0)
        for d in range(3, 9)
        for k in range(1 if d % 2 else 3)
    )
    assert out.filter(F.col("label").isNull()).count() == 3  # docs 3, 5, 7
    # the same harness takes a DDL schema
    ddl = multimodal.map_doc_kernel(
        docs, kernel, "doc_id LONG, k LONG, label STRING, score DOUBLE, ok BOOLEAN", "key"
    )
    assert ddl.schema == out.schema and ddl.count() == len(rows)

    def failing(doc_id):
        if doc_id == 4:
            raise RuntimeError(f"kernel failed on doc {doc_id}")
        yield {"doc_id": doc_id}

    with pytest.raises(Exception, match="kernel failed on doc 4"):
        multimodal.map_doc_kernel(docs, failing, schema, "key").collect()


def test_ship_package_failure_is_logged(spark, monkeypatch, caplog):
    """A package zip that cannot be shipped to the Python workers is a
    logged warning carrying the cause, not a silent pass: the kernels
    unpickle by module reference, so a failed ship otherwise shows up
    only later as an opaque worker ImportError."""
    import logging

    from trino_demo_spark import session

    def refuse(path):
        raise OSError(f"refused {path}")

    monkeypatch.setattr(session, "_PYFILES_ADDED", set())
    monkeypatch.setattr(spark.sparkContext, "addPyFile", refuse)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session._ship_package(spark)
    assert any(
        r.levelno == logging.WARNING and "refused" in r.getMessage()
        for r in caplog.records
    )


def test_ship_package_without_application_id_is_logged(caplog):
    """A session whose SparkContext cannot be read (stopped, or not a
    classic session) ships nothing; that is a logged warning carrying
    the exception, not a silent early return."""
    import logging

    from trino_demo_spark import session

    class NoContext:
        @property
        def sparkContext(self):
            raise RuntimeError("context is stopped")

    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session._ship_package(NoContext())
    assert any(
        r.levelno == logging.WARNING and "context is stopped" in r.getMessage()
        for r in caplog.records
    )


def test_static_runtime_conf_is_logged(spark, monkeypatch, caplog):
    """apply_runtime_confs keeps the session's value of a conf it cannot
    set (a static conf on this build) and logs a warning naming the
    key, instead of passing silently."""
    import logging

    from trino_demo_spark import session

    key = "spark.sql.globalTempDatabase"
    before = spark.conf.get(key)
    monkeypatch.setitem(session.RUNTIME_CONFS, key, before + "_other")
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.apply_runtime_confs(spark)
    assert spark.conf.get(key) == before
    assert any(
        r.levelno == logging.WARNING and key in r.getMessage()
        for r in caplog.records
    )


def test_g711_telephony_wav():
    """G.711 µ-law/A-law WAV: decode tables hit the canonical ITU
    extrema (±32124 / ±32256, code 0xFF → 0), companding error stays
    inside the top-segment half-step (+clip), decode∘encode is
    idempotent, and malformed G.711 streams surface contracts."""
    import random

    import pytest as _pytest

    assert multimodal._ULAW_TABLE[0xFF] == 0
    assert (min(multimodal._ULAW_TABLE), max(multimodal._ULAW_TABLE)) == (
        -32124,
        32124,
    )
    assert (min(multimodal._ALAW_TABLE), max(multimodal._ALAW_TABLE)) == (
        -32256,
        32256,
    )
    random.seed(9)
    samples = [random.randrange(-32768, 32768) for _ in range(2000)]
    for law, bound in (("ulaw", 650), ("alaw", 520)):
        wav = multimodal.encode_wav_g711(samples, 8000, 1, law)
        dec = multimodal.decode_audio(wav)
        assert dec["codec"] == law and dec["sample_rate"] == 8000
        assert max(
            abs(s - d) for s, d in zip(samples, dec["samples"])
        ) <= bound
        # companding is idempotent once on the codec lattice
        wav2 = multimodal.encode_wav_g711(dec["samples"], 8000, 1, law)
        assert multimodal.decode_audio(wav2)["samples"] == dec["samples"]
    # PCM16 keeps its codec tag
    pcm = multimodal.encode_wav_pcm16([0, 100, -100])
    assert multimodal.decode_audio(pcm)["codec"] == "pcm16"
    # G.711 with a wrong bits-per-sample declaration
    bad = bytearray(multimodal.encode_wav_g711(samples[:8], 8000, 1, "ulaw"))
    bad[34] = 16  # bits field inside fmt
    with _pytest.raises(NotImplementedError, match="8 bits"):
        multimodal.decode_audio(bytes(bad))
    with _pytest.raises(ValueError, match="ulaw.*alaw|'ulaw' or 'alaw'"):
        multimodal.encode_wav_g711([0], law="mp3")


def test_ima_adpcm_wav():
    """IMA/DVI ADPCM (WAV format 0x11, 4-bit, 4:1): block headers carry
    the exact first sample, the forward-adaptive encoder and decoder
    track the same predictor lattice (slope-bounded signals stay within
    a small band), multi-block streams decode, and malformed headers
    surface contracts."""
    import math

    import pytest as _pytest

    def tri(n, amp=30000, period=400):
        return [
            int(amp * (abs(((i % period) / period) * 4 - 2) - 1))
            for i in range(n)
        ]

    for n in (505, 1200, 37):  # exact block, multi-block + tail, short
        s = tri(n)
        dec = multimodal.decode_audio(multimodal.encode_wav_ima_adpcm(s))
        assert dec["codec"] == "ima_adpcm"
        assert len(dec["samples"]) >= n  # tail block may pad one sample
        assert dec["samples"][0] == s[0]  # header sample is exact
        assert max(abs(a - b) for a, b in zip(s, dec["samples"])) <= 1200
    s = [int(25000 * math.sin(i / 30)) for i in range(1500)]
    dec = multimodal.decode_audio(multimodal.encode_wav_ima_adpcm(s))
    assert max(abs(a - b) for a, b in zip(s, dec["samples"])) <= 5000
    # corrupt block header index
    wav = bytearray(multimodal.encode_wav_ima_adpcm(tri(37)))
    data_at = bytes(wav).index(b"data") + 8
    wav[data_at + 2] = 99  # step index > 88
    with _pytest.raises(NotImplementedError, match="corrupt IMA ADPCM"):
        multimodal.decode_audio(bytes(wav))
    with _pytest.raises(ValueError, match="odd"):
        multimodal.encode_wav_ima_adpcm([0], block_samples=4)


def test_wav_decode_roundtrip():
    samples = [0, 1000, -1000, 32767, -32768, 17]
    payload = multimodal.encode_wav_pcm16(samples, sample_rate=16000)
    out = multimodal.decode_audio(payload)
    assert out == {
        "sample_rate": 16000,
        "channels": 1,
        "samples": samples,
        "codec": "pcm16",
    }
    # extra chunk before data (LIST) is walked over, odd-size word-aligned
    import struct as st

    extra = b"LIST" + st.pack("<I", 3) + b"abc\x00"
    patched = payload[:36] + extra + payload[36:]
    patched = patched[:4] + st.pack("<I", len(patched) - 8) + patched[8:]
    assert multimodal.decode_audio(patched)["samples"] == samples
    with pytest.raises(NotImplementedError):
        # float32 WAV (format 3) needs a codec lib path
        bad = payload[:20] + st.pack("<H", 3) + payload[22:]
        multimodal.decode_audio(bad)


def test_ppm_decode_roundtrip():
    pixels = bytes(range(24))  # 2x4 RGB
    out = multimodal.decode_image(multimodal.encode_ppm(2, 4, pixels))
    assert (out["width"], out["height"], out["channels"]) == (2, 4, 3)
    assert out["pixels"] == pixels
    # comment-tolerant header
    with_comment = b"P6\n# synthetic\n2 4\n255\n" + pixels
    assert multimodal.decode_image(with_comment)["pixels"] == pixels
    # P5 grayscale
    g = multimodal.decode_image(b"P5\n3 2\n255\n" + bytes(6))
    assert (g["width"], g["height"], g["channels"]) == (3, 2, 1)
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"P3\n1 1\n255\n0 0 0")  # ASCII ppm


def test_png_decode_roundtrip():
    """decode_png reverses every PNG filter bit-exactly for gray/RGB/RGBA
    at heights that collectively cover filter types 0-4 (the encoder
    picks (y + height) % 5 per scanline)."""
    for channels in (1, 3, 4):
        for w, h in ((1, 1), (2, 3), (3, 5), (5, 7), (4, 2)):
            pixels = bytes((i * 37 + channels * 11) % 256 for i in range(w * h * channels))
            out = multimodal.decode_png(multimodal.encode_png(w, h, pixels, channels))
            assert (out["width"], out["height"], out["channels"]) == (w, h, channels)
            assert out["pixels"] == pixels
    # decode_image dispatches on the PNG signature
    pixels = bytes(range(12))
    assert multimodal.decode_image(multimodal.encode_png(2, 2, pixels))["pixels"] == pixels


def test_png_palette_roundtrip_and_contracts():
    """Indexed-color (PLTE) PNG: bit-exact roundtrip through palette
    build → filtered index scanlines (bpp=1) → PLTE expansion; the
    palette-specific declared stubs surface NotImplementedError."""
    import struct as st
    import zlib as zl

    import pytest as _pytest

    for doc_id in range(25):  # covers all (w, h) combos and filters
        w, h, px = multimodal._synth_indexed(doc_id)
        out = multimodal.decode_png(multimodal.encode_png_palette(w, h, px))
        assert (out["width"], out["height"], out["channels"]) == (w, h, 3)
        assert out["pixels"] == px
    # >256 unique colors is an encoder input error
    big = bytearray()
    for i in range(300):
        big += bytes((i % 256, (i // 256) * 50 + (i % 50), (i * 7) % 251))
    with _pytest.raises(ValueError, match="256 unique colors"):
        multimodal.encode_png_palette(30, 10, bytes(big))

    good = multimodal.encode_png_palette(*multimodal._synth_indexed(1))

    def find_chunk(b, name):
        pos = 8
        while pos < len(b):
            (ln,) = st.unpack(">I", b[pos : pos + 4])
            if b[pos + 4 : pos + 8] == name:
                return pos, ln
            pos += 12 + ln

    pos, ln = find_chunk(good, b"PLTE")
    # palette stream without its PLTE
    with _pytest.raises(NotImplementedError, match="missing PLTE"):
        multimodal.decode_png(good[:pos] + good[pos + 12 + ln :])
    # tRNS transparency is a declared stub
    trns = (
        st.pack(">I", 1)
        + b"tRNS\x80"
        + st.pack(">I", zl.crc32(b"tRNS\x80") & 0xFFFFFFFF)
    )
    with _pytest.raises(NotImplementedError, match="tRNS"):
        multimodal.decode_png(good[:pos] + trns + good[pos:])
    # PLTE shrunk to one entry -> raster indices overflow it
    entry = good[pos + 8 : pos + 11]
    small = (
        good[:pos]
        + st.pack(">I", 3)
        + b"PLTE"
        + entry
        + st.pack(">I", zl.crc32(b"PLTE" + entry) & 0xFFFFFFFF)
        + good[pos + 12 + ln :]
    )
    with _pytest.raises(NotImplementedError, match="out of PLTE range"):
        multimodal.decode_png(small)
    # malformed PLTE length (not a multiple of 3)
    bad = (
        good[:pos]
        + st.pack(">I", 2)
        + b"PLTE"
        + entry[:2]
        + st.pack(">I", zl.crc32(b"PLTE" + entry[:2]) & 0xFFFFFFFF)
        + good[pos + 12 + ln :]
    )
    with _pytest.raises(NotImplementedError, match="malformed PNG PLTE"):
        multimodal.decode_png(bad)


def test_png_16bit_roundtrip():
    """16-bit PNG (big-endian u16 samples, filter distance 2·channels
    bytes per spec §9.2): bit-exact roundtrip for gray/RGB/RGBA, plain
    and Adam7; 16-bit palette stays rejected (not spec-legal)."""
    import struct as st
    import zlib as zl

    import pytest as _pytest

    for channels in (1, 3, 4):
        for w, h in ((1, 1), (3, 5), (8, 8), (9, 10)):
            n = w * h * channels
            vals = [(i * 4099 + channels * 7919) % 65536 for i in range(n)]
            px = st.pack(f">{n}H", *vals)
            for inter in (False, True):
                out = multimodal.decode_png(
                    multimodal.encode_png(
                        w, h, px, channels, interlace=inter, depth=16
                    )
                )
                assert out["pixels"] == px and out["depth"] == 16
    assert multimodal.decode_png(multimodal.encode_png(2, 2, bytes(12)))[
        "depth"
    ] == 8
    ihdr = st.pack(">II5B", 2, 2, 16, 3, 0, 0, 0)
    bad = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", zl.compress(b"\x00"))
        + multimodal._png_chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError, match="not spec-legal"):
        multimodal.decode_png(bad)


def test_png_trns_palette_alpha_roundtrip_and_contracts():
    """tRNS palette transparency: RGBA-in → PLTE + truncated tRNS
    (non-opaque entries sorted first, trailing 255s dropped per the
    spec default-opaque rule) → decode expands to RGBA bit-exactly;
    all-opaque input emits no tRNS and decodes as plain RGB; malformed
    tRNS and gray/RGB color-key transparency surface contracts."""
    import struct as st
    import zlib as zl

    import pytest as _pytest

    for seed in range(12):
        w, h = (seed % 6) + 3, (seed % 4) + 3
        px = bytearray()
        for i in range(w * h):
            c = (seed + i) % 12
            a = 255 if c % 3 else (40 + 17 * c) % 255
            px += bytes(
                (
                    (40 + 13 * c) % 256,
                    (60 + 29 * c) % 256,
                    (80 + 41 * c) % 256,
                    a,
                )
            )
        for inter in (False, True):
            out = multimodal.decode_png(
                multimodal.encode_png_palette(
                    w, h, bytes(px), interlace=inter, channels=4
                )
            )
            assert out["pixels"] == bytes(px) and out["channels"] == 4
    # all-opaque RGBA palette: no tRNS emitted, decodes as RGB
    px = bytes(
        b
        for i in range(9)
        for b in ((i * 10) % 256, (i * 20) % 256, (i * 30) % 256, 255)
    )
    assert (
        multimodal.decode_png(
            multimodal.encode_png_palette(3, 3, px, channels=4)
        )["channels"]
        == 3
    )
    # tRNS longer than the palette
    w, h, px3 = multimodal._synth_indexed(5)
    good = multimodal.encode_png_palette(w, h, px3)
    pos = 8
    while pos < len(good):
        (ln,) = st.unpack(">I", good[pos : pos + 4])
        if good[pos + 4 : pos + 8] == b"PLTE":
            break
        pos += 12 + ln
    bad_trns = bytes([7] * (ln // 3 + 1))
    chunk = (
        st.pack(">I", len(bad_trns))
        + b"tRNS"
        + bad_trns
        + st.pack(">I", zl.crc32(b"tRNS" + bad_trns) & 0xFFFFFFFF)
    )
    with _pytest.raises(NotImplementedError, match="malformed PNG tRNS"):
        multimodal.decode_png(
            good[: pos + 12 + ln] + chunk + good[pos + 12 + ln :]
        )
    # color-key transparency on an RGB frame stays a declared stub
    rgb = multimodal.encode_png(3, 3, bytes(27), 3)
    ck = (
        st.pack(">I", 6)
        + b"tRNS"
        + bytes(6)
        + st.pack(">I", zl.crc32(b"tRNS" + bytes(6)) & 0xFFFFFFFF)
    )
    ihdr_end = 8 + 12 + 13
    with _pytest.raises(NotImplementedError, match="color-key"):
        multimodal.decode_png(rgb[:ihdr_end] + ck + rgb[ihdr_end:])


def test_png_adam7_roundtrip_and_contracts():
    """Adam7 interlace: bit-exact roundtrip for gray/RGB/RGBA and
    palette across sizes that exercise empty passes (w or h < pass
    offsets) and all filters; a raster that does not match the declared
    pass layout surfaces the declared contract error."""
    import pytest as _pytest

    for channels in (1, 3, 4):
        for w, h in ((1, 1), (2, 3), (3, 5), (5, 7), (8, 8), (9, 10), (1, 9)):
            px = bytes(
                (i * 37 + channels * 11) % 256
                for i in range(w * h * channels)
            )
            out = multimodal.decode_png(
                multimodal.encode_png(w, h, px, channels, interlace=True)
            )
            assert out["pixels"] == px and out["channels"] == channels
    # palette + Adam7 compose
    w, h, px = multimodal._synth_indexed(7)
    out = multimodal.decode_png(
        multimodal.encode_png_palette(w, h, px, interlace=True)
    )
    assert out["pixels"] == px and out["channels"] == 3
    # interlaced stream whose IDAT is the NON-interlaced layout: the
    # pass walk must reject the length mismatch, not mis-scatter
    import struct as st
    import zlib as zl

    plain = multimodal.encode_png(5, 7, bytes(105), 3)  # interlace=0 stream
    # flip the IHDR interlace byte to 1 and fix the chunk CRC
    ihdr_at = plain.index(b"IHDR") - 4
    ihdr_data = bytearray(plain[ihdr_at + 8 : ihdr_at + 8 + 13])
    ihdr_data[12] = 1
    patched = (
        plain[: ihdr_at + 4]
        + b"IHDR"
        + bytes(ihdr_data)
        + st.pack(">I", zl.crc32(b"IHDR" + bytes(ihdr_data)) & 0xFFFFFFFF)
        + plain[ihdr_at + 8 + 13 + 4 :]
    )
    with _pytest.raises(
        NotImplementedError, match="truncated PNG raster|Adam7 pass layout"
    ):
        multimodal.decode_png(patched)


def test_png_error_contracts():
    """Corrupt/unsupported PNG streams surface the module's declared
    NotImplementedError contract — never a raw struct/zlib error (the
    WAV-truncation discipline, commit 3afd278)."""
    import struct as st
    import zlib

    good = multimodal.encode_png(3, 4, bytes(36), channels=3)

    with pytest.raises(NotImplementedError, match="truncated PNG signature|not a PNG"):
        multimodal.decode_png(b"\x89PNG")
    # chunk header declares more bytes than the payload carries
    with pytest.raises(NotImplementedError, match="truncated PNG chunk"):
        multimodal.decode_png(good[:20])
    # flip one IDAT byte -> CRC mismatch, not a zlib traceback
    idat_at = good.index(b"IDAT") + 4
    corrupt = good[:idat_at] + bytes([good[idat_at] ^ 0xFF]) + good[idat_at + 1 :]
    with pytest.raises(NotImplementedError, match="CRC mismatch"):
        multimodal.decode_png(corrupt)
    # IDAT inflates to fewer bytes than height*(1+stride): re-chunk a
    # raster that drops the last scanline (filter bytes intact)
    short_raw = zlib.compress(bytes((1 + 9) * 3))  # 3 of 4 scanlines
    sig_ihdr = good[: good.index(b"IDAT") - 4]
    rebuilt = (
        sig_ihdr
        + multimodal._png_chunk(b"IDAT", short_raw)
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="truncated PNG raster"):
        multimodal.decode_png(rebuilt)
    # unsupported/incomplete shapes: 16-bit depth stays a declared stub;
    # palette (now supported) without its PLTE and Adam7 (now supported)
    # with a raster that doesn't match the pass layout surface their own
    # contracts
    for field_off, val, msg in (
        (8, 4, "sub-byte"),     # bit depth 4 (sub-byte) stays a stub
        (9, 3, "missing PLTE"),  # color type 3 but no PLTE chunk
        (12, 1, "truncated PNG raster|Adam7 pass layout"),  # interlace
    ):
        ihdr = st.pack(">II5B", 3, 4, 8, 2, 0, 0, 0)
        ihdr = ihdr[:field_off] + bytes([val]) + ihdr[field_off + 1 :]
        bad = (
            multimodal._PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"IDAT", zlib.compress(b"\x00"))
            + multimodal._png_chunk(b"IEND", b"")
        )
        with pytest.raises(NotImplementedError, match=msg):
            multimodal.decode_png(bad)
    # missing IEND
    with pytest.raises(NotImplementedError, match="missing IHDR/IDAT/IEND"):
        multimodal.decode_png(good[: good.index(b"IEND") - 4])
    # review-pass contract (r7): a 12-byte IHDR with a VALID CRC must
    # surface the declared error, not a raw struct.error (the CRC check
    # passes because the attacker computes it over the short data)
    short_ihdr = st.pack(">II4B", 3, 4, 8, 2, 0, 0)  # 12 bytes, no interlace
    bad = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", short_ihdr)
        + multimodal._png_chunk(b"IDAT", zlib.compress(b"\x00"))
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="malformed PNG IHDR"):
        multimodal.decode_png(bad)


def test_jpeg_codec_roundtrip_bounds():
    """Baseline grayscale JPEG codec: encode→decode stays inside the
    documented Q90 error bounds on both smooth and pure-noise rasters,
    dims/crop exact, and decode_image dispatches on the SOI marker. A
    wrong zigzag/huffman/stuffing/IDCT blows these bounds or fails the
    parse — the bounds ARE the correctness oracle for a lossy codec."""
    import random

    import numpy as np

    from trino_demo_spark.llm import jpeg

    def err_stats(w, h, px, quality=90):
        dec = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray(w, h, px, quality))
        assert (dec["width"], dec["height"], dec["channels"]) == (w, h, 1)
        assert len(dec["pixels"]) == w * h
        a = np.frombuffer(px, dtype=np.uint8).astype(int)
        b = np.frombuffer(dec["pixels"], dtype=np.uint8).astype(int)
        return np.abs(a - b).max(), np.abs(a - b).mean()

    # smooth gradients: near-lossless at Q90
    for seed, (w, h) in enumerate([(8, 8), (5, 7), (16, 12), (1, 1), (23, 17)]):
        px = bytes(
            ((seed * 7 + 2 * (i % w) + 3 * (i // w)) % 176) + 40
            for i in range(w * h)
        )
        mx, mn = err_stats(w, h, px)
        assert mx <= 3, (w, h, mx)
    # pure noise: the documented worst case
    random.seed(7)
    w, h = 24, 16
    px = bytes(random.randrange(256) for _ in range(w * h))
    mx, mn = err_stats(w, h, px)
    assert mx <= 16 and mn <= 4.0, (mx, mn)
    # decode_image dispatch on the SOI marker
    payload = jpeg.encode_jpeg_gray(4, 4, bytes(range(16)))
    assert multimodal.decode_image(payload)["channels"] == 1


def test_jpeg_color_roundtrip_bounds():
    """Baseline COLOR JPEG codec: encode→decode at 4:4:4/4:2:2/4:2:0
    stays inside the documented Q90 bounds. Smooth rasters compare to
    the SOURCE (chroma subsampling is near-lossless there); pure noise
    — where subsampling loss dominates by design — compares the decode
    to the IDEAL-SUBSAMPLING reference so the bound isolates codec
    error (DCT/quant/huffman) from the declared lossy downsample."""
    import random

    import numpy as np

    from trino_demo_spark.llm import jpeg

    # smooth gradients per subsampling mode: tight source-relative bound
    for sub in ("444", "422", "420"):
        for seed, (w, h) in enumerate([(8, 8), (5, 7), (16, 12), (1, 1), (23, 17)]):
            px = bytes(
                min(255, 40 + c * 20 + 2 * (i % w) + 3 * (i // w) + seed)
                for i in range(w * h)
                for c in range(3)
            )
            dec = jpeg.decode_jpeg(jpeg.encode_jpeg_color(w, h, px, 90, sub))
            assert (dec["width"], dec["height"], dec["channels"]) == (w, h, 3)
            assert len(dec["pixels"]) == w * h * 3
            a = np.frombuffer(px, dtype=np.uint8).astype(int)
            b = np.frombuffer(dec["pixels"], dtype=np.uint8).astype(int)
            assert np.abs(a - b).max() <= 8, (sub, w, h)

    # pure noise: decompose vs the ideal-subsampling reference
    def subsample_reference(w, h, px, hy, vy):
        rgb = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3).astype(float)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
        cr = 128 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
        lh = (h + 8 * vy - 1) // (8 * vy) * (8 * vy)
        lw = (w + 8 * hy - 1) // (8 * hy) * (8 * hy)
        pad = lambda p: np.pad(p, ((0, lh - h), (0, lw - w)), mode="edge")
        yp, cbp, crp = pad(y), pad(cb), pad(cr)
        if (hy, vy) != (1, 1):
            ds = lambda p: p.reshape(lh // vy, vy, lw // hy, hy).mean(axis=(1, 3))
            us = lambda p: np.repeat(np.repeat(p, vy, axis=0), hy, axis=1)
            cbp, crp = us(ds(cbp)), us(ds(crp))
        y2, cb2, cr2 = yp[:h, :w], cbp[:h, :w], crp[:h, :w]
        r2 = y2 + 1.402 * (cr2 - 128)
        g2 = y2 - 0.344136286 * (cb2 - 128) - 0.714136286 * (cr2 - 128)
        b2 = y2 + 1.772 * (cb2 - 128)
        return np.clip(
            np.round(np.stack([r2, g2, b2], -1)), 0, 255
        ).astype(int)

    random.seed(7)
    w, h = 24, 16
    px = bytes(random.randrange(256) for _ in range(w * h * 3))
    for sub, (hy, vy) in [("444", (1, 1)), ("422", (2, 1)), ("420", (2, 2))]:
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg_color(w, h, px, 90, sub))
        got = (
            np.frombuffer(dec["pixels"], dtype=np.uint8)
            .astype(int)
            .reshape(h, w, 3)
        )
        ref = subsample_reference(w, h, px, hy, vy)
        e = np.abs(got - ref)
        # measured 34 / 6.3 at Q90 (chroma table coarser than luma)
        assert e.max() <= 48 and e.mean() <= 9.0, (sub, e.max(), e.mean())

    # decode_image dispatch: color JPEG now decodes (3 channels)
    assert multimodal.decode_image(
        jpeg.encode_jpeg_color(6, 5, bytes(90), 90, "420")
    )["channels"] == 3


def test_jpeg_header_walk_fill_bytes_and_standalone_markers():
    """T.81 B.1.1.2 (ADVICE r7): 0xFF fill bytes before a marker and
    standalone length-less markers (TEM 0x01) in the header must not be
    misparsed as length-prefixed segments — decode still succeeds."""
    import numpy as np

    from trino_demo_spark.llm import jpeg

    px = bytes(range(54))
    good = jpeg.encode_jpeg_gray(9, 6, px)
    base = jpeg.decode_jpeg_gray(good)["pixels"]

    sof_at = good.index(b"\xff\xc0")
    # (a) fill bytes: pad 0xFF 0xFF 0xFF before the SOF0 marker
    filled = good[:sof_at] + b"\xff\xff\xff" + good[sof_at:]
    assert jpeg.decode_jpeg_gray(filled)["pixels"] == base
    # (b) standalone TEM marker injected between header segments
    tem = good[:sof_at] + b"\xff\x01" + good[sof_at:]
    assert jpeg.decode_jpeg_gray(tem)["pixels"] == base
    # (c) both, on the color path
    color = jpeg.encode_jpeg_color(6, 5, bytes(90), 90, "444")
    sof_at = color.index(b"\xff\xc0")
    messy = color[:sof_at] + b"\xff\xff\x01" + color[sof_at:]
    assert (
        jpeg.decode_jpeg(messy)["pixels"]
        == jpeg.decode_jpeg(color)["pixels"]
    )


def test_jpeg_color_error_contracts():
    """Color-specific declared stubs surface NotImplementedError."""
    import struct as st

    import pytest as _pytest

    from trino_demo_spark.llm import jpeg

    color = jpeg.encode_jpeg_color(6, 5, bytes(90), 90, "420")
    sof_at = color.index(b"\xff\xc0")
    sof_end = sof_at + 2 + st.unpack(">H", color[sof_at + 2 : sof_at + 4])[0]

    def with_sof(payload: bytes) -> bytes:
        return (
            color[:sof_at]
            + b"\xff\xc0"
            + st.pack(">H", len(payload) + 2)
            + payload
            + color[sof_end:]
        )

    # 4-component (CMYK-shaped) frame
    cmyk = with_sof(
        st.pack(">BHHB", 8, 5, 6, 4)
        + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1, 4, 0x11, 0])
    )
    with _pytest.raises(NotImplementedError, match="CMYK|4-component"):
        jpeg.decode_jpeg(cmyk)
    # sampling factor above 2
    big = with_sof(
        st.pack(">BHHB", 8, 5, 6, 3)
        + bytes([1, 0x31, 0, 2, 0x11, 1, 3, 0x11, 1])
    )
    with _pytest.raises(NotImplementedError, match="sampling factors"):
        jpeg.decode_jpeg(big)
    # non-interleaved scan: SOS covering 1 of 3 components
    sos_at = color.index(b"\xff\xda")
    partial = (
        color[:sos_at]
        + b"\xff\xda"
        + st.pack(">H", 8)
        + bytes([1, 1, 0x00, 0, 63, 0])
        + color[sos_at + 2 + st.unpack(">H", color[sos_at + 2 : sos_at + 4])[0] :]
    )
    with _pytest.raises(NotImplementedError, match="non-interleaved"):
        jpeg.decode_jpeg(partial)
    # grayscale path still rejects color streams by declared contract
    with _pytest.raises(NotImplementedError, match="color JPEG"):
        jpeg.decode_jpeg_gray(color)
    # truncation contracts hold on the color path too
    with _pytest.raises(NotImplementedError, match="truncated JPEG"):
        jpeg.decode_jpeg(color[:15])  # chop mid-header
    with _pytest.raises(NotImplementedError, match="truncated JPEG entropy"):
        jpeg.decode_jpeg(color[:-4])  # chop mid-bitstream
    # encoder input validation
    with _pytest.raises(ValueError, match="width\\*height\\*3"):
        jpeg.encode_jpeg_color(4, 4, bytes(10))
    with _pytest.raises(ValueError, match="subsampling"):
        jpeg.encode_jpeg_color(4, 4, bytes(48), 90, "411")


def test_mjpeg_demux_and_sampling():
    """MJPEG: the no-decode boundary walk finds every frame end exactly
    across a hostile mixed stream (gray/color/progressive/SA frames,
    one with restart markers), sampled frames decode bit-identical to
    their standalone encodings, and truncation surfaces the contract."""
    import random

    import pytest as _pytest

    from trino_demo_spark.llm import jpeg

    random.seed(4)
    frames = []
    stream = b""
    for i in range(7):
        w, h = 8 + i, 6 + i
        if i % 3 == 0:
            px = bytes(random.randrange(256) for _ in range(w * h))
            enc = jpeg.encode_jpeg_gray(
                w, h, px, restart_interval=2 if i == 3 else 0
            )
        elif i % 3 == 1:
            px = bytes(random.randrange(256) for _ in range(w * h * 3))
            enc = jpeg.encode_jpeg_color(w, h, px, 90, "422")
        else:
            px = bytes(random.randrange(256) for _ in range(w * h * 3))
            enc = jpeg.encode_jpeg_progressive(
                w, h, px, 90, "420", successive=(i == 5)
            )
        frames.append(enc)
        stream += enc
    pos = 0
    for i, enc in enumerate(frames):
        end = jpeg.jpeg_stream_end(stream, pos)
        assert end - pos == len(enc), i
        pos = end
    assert pos == len(stream)
    out = multimodal.frame_sample(stream, 2)
    assert [f["frame_idx"] for f in out] == [0, 2, 4, 6]
    for f in out:
        single = jpeg.decode_jpeg(frames[f["frame_idx"]])
        assert f["pixels"] == single["pixels"]
    assert len(multimodal.frame_sample(stream, 1)) == 7
    with _pytest.raises(NotImplementedError, match="truncated JPEG"):
        jpeg.jpeg_stream_end(stream[:-3], pos - len(frames[-1]))
    with _pytest.raises(NotImplementedError, match="PPM, MJPEG"):
        multimodal.frame_sample(b"\x00\x00RIFF", 1)


def test_jpeg_restart_intervals():
    """DRI/RSTn: streams with restart markers decode identically to the
    restart-less encoding of the same raster (DC predictors reset per
    interval), for baseline gray/color and progressive; an
    out-of-sequence RSTn and a missing RSTn surface contracts."""
    import random

    import pytest as _pytest

    from trino_demo_spark.llm import jpeg

    random.seed(11)
    w, h = 24, 16
    gpx = bytes(random.randrange(256) for _ in range(w * h))
    cpx = bytes(random.randrange(256) for _ in range(w * h * 3))
    base_g = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(w, h, gpx))["pixels"]
    base_c = jpeg.decode_jpeg(jpeg.encode_jpeg_color(w, h, cpx, 90, "420"))[
        "pixels"
    ]
    base_p = jpeg.decode_jpeg(jpeg.encode_jpeg_progressive(w, h, cpx, 90, "420"))[
        "pixels"
    ]
    for ri in (1, 2, 5):
        assert (
            jpeg.decode_jpeg(
                jpeg.encode_jpeg_gray(w, h, gpx, restart_interval=ri)
            )["pixels"]
            == base_g
        )
        assert (
            jpeg.decode_jpeg(
                jpeg.encode_jpeg_color(
                    w, h, cpx, 90, "420", restart_interval=ri
                )
            )["pixels"]
            == base_c
        )
        assert (
            jpeg.decode_jpeg(
                jpeg.encode_jpeg_progressive(
                    w, h, cpx, 90, "420", restart_interval=ri
                )
            )["pixels"]
            == base_p
        )
    # out-of-modulo-sequence RSTn: flip the first RST0 to RST5
    ristream = jpeg.encode_jpeg_gray(w, h, gpx, restart_interval=1)
    rst_at = ristream.index(b"\xff\xd0")
    bad = ristream[:rst_at] + b"\xff\xd5" + ristream[rst_at + 2 :]
    with _pytest.raises(NotImplementedError, match="modulo-8"):
        jpeg.decode_jpeg(bad)


def test_jpeg_progressive_roundtrip_and_contracts():
    """Spectral-selection progressive JPEG: the decode must be
    BIT-IDENTICAL to the baseline decode of the same raster (same
    quantized coefficients, different scan layout); EOB-runs > 1 decode
    correctly; successive approximation and in-frame baseline scans
    surface their declared contracts."""
    import struct as st

    import pytest as _pytest

    from trino_demo_spark.llm import jpeg

    # gray + color, every subsampling: bit-identity with baseline
    for w, h in ((8, 8), (5, 7), (16, 12), (1, 1), (23, 17)):
        px = bytes(((7 + 2 * (i % w) + 3 * (i // w)) % 176) + 40 for i in range(w * h))
        assert (
            jpeg.decode_jpeg(jpeg.encode_jpeg_progressive(w, h, px))["pixels"]
            == jpeg.decode_jpeg(jpeg.encode_jpeg_gray(w, h, px))["pixels"]
        )
    for sub in ("444", "422", "420"):
        w, h = 9, 6
        px = bytes(
            min(255, 40 + c * 20 + 2 * (i % w) + 3 * (i // w))
            for i in range(w * h)
            for c in range(3)
        )
        assert (
            jpeg.decode_jpeg(jpeg.encode_jpeg_progressive(w, h, px, 90, sub))[
                "pixels"
            ]
            == jpeg.decode_jpeg(jpeg.encode_jpeg_color(w, h, px, 90, sub))[
                "pixels"
            ]
        )

    # EOBRUN > 1: hand-code an AC scan that ends 4 blocks with one EOB4
    # (category 2 + 2 extra bits = 3 + 1). A flat raster has zero ACs,
    # so the coefficient outcome must equal the encoder's per-block-EOB
    # stream.
    w, h = 16, 16  # 4 blocks
    px = bytes([77]) * (w * h)
    ref = jpeg.encode_jpeg_progressive(w, h, px)
    sos_positions = []
    p = 2
    while p < len(ref):
        p = ref.find(b"\xff\xda", p)
        if p < 0:
            break
        sos_positions.append(p)
        p += 2
    ac_sos = sos_positions[1]  # DC scan first, AC scan second
    (ac_len,) = st.unpack(">H", ref[ac_sos + 2 : ac_sos + 4])
    head = ref[: ac_sos + 2 + ac_len]  # headers + DC scan + AC SOS
    wtr = jpeg._BitWriter()
    code, length = jpeg._AC_CODES[0x20]  # EOBn, category 2
    wtr.write(code, length)
    wtr.write(1, 2)  # EOBRUN = (1<<2) - 1 + 1 = 4
    wtr.flush()
    crafted = head + bytes(wtr.buf) + b"\xff\xd9"
    assert (
        jpeg.decode_jpeg(crafted)["pixels"]
        == jpeg.decode_jpeg(ref)["pixels"]
    )

    # SUCCESSIVE APPROXIMATION: the full ladder (DC Al=1 + refine, AC
    # Al=1 + refine with correction-bit buffering) must land exactly on
    # the baseline coefficients — bit-identical pixels
    import random as _random

    _random.seed(5)
    for sub in ("444", "420"):
        for q in (25, 90):
            w, h = 24, 16
            px = bytes(_random.randrange(256) for _ in range(w * h * 3))
            assert (
                jpeg.decode_jpeg(
                    jpeg.encode_jpeg_progressive(
                        w, h, px, q, sub, successive=True
                    )
                )["pixels"]
                == jpeg.decode_jpeg(jpeg.encode_jpeg_color(w, h, px, q, sub))[
                    "pixels"
                ]
            ), (sub, q)
    gpx = bytes(_random.randrange(256) for _ in range(23 * 17))
    assert (
        jpeg.decode_jpeg(
            jpeg.encode_jpeg_progressive(23, 17, gpx, successive=True)
        )["pixels"]
        == jpeg.decode_jpeg(jpeg.encode_jpeg_gray(23, 17, gpx))["pixels"]
    )
    # SA + restart intervals compose
    px = bytes(_random.randrange(256) for _ in range(24 * 16 * 3))
    assert (
        jpeg.decode_jpeg(
            jpeg.encode_jpeg_progressive(
                24, 16, px, 90, "420", restart_interval=2, successive=True
            )
        )["pixels"]
        == jpeg.decode_jpeg(jpeg.encode_jpeg_color(24, 16, px, 90, "420"))[
            "pixels"
        ]
    )
    # a refinement scan skipping a bit plane (Ah=2, Al=0) is rejected
    approx = bytearray(ref)
    approx[ac_sos + 2 + ac_len - 1] = 0x20  # AhAl byte of the AC SOS
    with _pytest.raises(NotImplementedError, match="Ah != Al"):
        jpeg.decode_jpeg(bytes(approx))
    # a full-spectrum (baseline-shaped) scan inside a progressive frame
    gray = jpeg.encode_jpeg_gray(9, 6, bytes(54))
    sof_at = gray.index(b"\xff\xc0")
    prog_framed = gray[:sof_at] + b"\xff\xc2" + gray[sof_at + 2 :]
    with _pytest.raises(NotImplementedError, match="baseline"):
        jpeg.decode_jpeg(prog_framed)
    # truncation contracts hold across scan boundaries
    with _pytest.raises(NotImplementedError, match="truncated JPEG"):
        jpeg.decode_jpeg(ref[: ac_sos + 4])


def test_jpeg_error_contracts():
    """Unsupported/corrupt JPEG streams surface the declared
    NotImplementedError contract, never a raw struct/index error."""
    import pytest as _pytest

    from trino_demo_spark.llm import jpeg

    good = jpeg.encode_jpeg_gray(9, 6, bytes(54))

    with _pytest.raises(NotImplementedError, match="missing SOI"):
        jpeg.decode_jpeg_gray(b"\x89PNG")
    with _pytest.raises(NotImplementedError, match="truncated JPEG"):
        jpeg.decode_jpeg_gray(good[:20])
    with _pytest.raises(NotImplementedError, match="truncated JPEG entropy"):
        jpeg.decode_jpeg_gray(good[:-4])  # chop mid-bitstream
    # progressive frame marker: flip SOF0 (0xC0) to SOF2 (0xC2)
    sof_at = good.index(b"\xff\xc0")
    prog = good[:sof_at] + b"\xff\xc2" + good[sof_at + 2 :]
    with _pytest.raises(NotImplementedError, match="baseline"):
        jpeg.decode_jpeg_gray(prog)
    # DRI declaring interval 1 on a restart-less stream: the decoder
    # must miss the RST marker at the first boundary, not misdecode
    sos_at = prog.index(b"\xff\xda")
    dri = b"\xff\xdd\x00\x04\x00\x01"
    with_dri = good[:sos_at] + dri + good[sos_at:]
    with _pytest.raises(NotImplementedError, match="restart marker expected"):
        jpeg.decode_jpeg_gray(with_dri)
    # color (3-component) SOF0 is a declared stub
    import struct as st

    sof_payload = st.pack(">BHHB", 8, 6, 9, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    color = (
        good[:sof_at]
        + b"\xff\xc0"
        + st.pack(">H", len(sof_payload) + 2)
        + sof_payload
        + good[good.index(b"\xff\xc4") :]
    )
    with _pytest.raises(NotImplementedError, match="color JPEG"):
        jpeg.decode_jpeg_gray(color)
    # review-pass contracts (r7): malformed-but-length-consistent
    # segments must also surface the declared error, never a raw
    # struct.error/IndexError
    # (a) SOF0 whose declared segment length carries only 2 payload bytes
    bad_sof = b"\xff\xd8" + b"\xff\xc0" + st.pack(">H", 4) + b"\x08\x00"
    with _pytest.raises(NotImplementedError, match="truncated JPEG SOF0"):
        jpeg.decode_jpeg_gray(bad_sof)
    # (b) DHT whose BITS counts promise more vals than the segment holds
    dht_at = good.index(b"\xff\xc4")
    bits17 = bytes([0x00]) + bytes([0, 0, 0, 12] + [0] * 12)  # 12 vals promised
    bad_dht = (
        good[:dht_at]
        + b"\xff\xc4"
        + st.pack(">H", len(bits17) + 2 + 3)  # only 3 of 12 vals present
        + bits17
        + b"\x00\x01\x02"
        + good[good.index(b"\xff\xda") :]
    )
    with _pytest.raises(NotImplementedError, match="truncated JPEG DHT"):
        jpeg.decode_jpeg_gray(bad_dht)
    # (c) SOS segment shorter than one component spec
    sos_at2 = good.index(b"\xff\xda")
    bad_sos = good[:sos_at2] + b"\xff\xda" + st.pack(">H", 4) + b"\x01\x01"
    with _pytest.raises(NotImplementedError, match="truncated JPEG SOS"):
        jpeg.decode_jpeg_gray(bad_sos)


def test_ngram_empty_guard(spark):
    df = spark.createDataFrame([(1, "one two"), (2, "a b c d")], "doc_id long, text string")
    out = dedup.ngram_shingles(df, "doc_id", "text", n=3).collect()
    ids = {r.id for r in out}
    assert ids == {2}  # doc 1 has < 3 tokens → no shingles, no crash


def test_ivf_topk_recall(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact1 = {
        (r.q_id, r.n_id)
        for r in similarity.brute_force_topk(emb, queries, k=1).collect()
    }
    ivf = similarity.ivf_topk(emb, queries, k=3, num_centroids=8, nprobe=4, iters=2)
    rows = ivf.collect()
    assert {r.q_id for r in rows} == {r[0] for r in queries.select("vec_id").collect()}
    top1_ivf = {(r.q_id, r.n_id) for r in rows if r.rank == 1}
    overlap = len(exact1 & top1_ivf) / len(exact1)
    # probing half the lists on near-random vectors: require well above chance
    assert overlap >= 0.3, overlap


def test_kmeans_deterministic(spark, emb):
    c1 = similarity.kmeans_fit(emb, k=4, iters=2)
    c2 = similarity.kmeans_fit(emb, k=4, iters=2)
    assert c1 == c2
    assert len(c1) == 4 and len(c1[0]) == 64


def test_dedup_clusters_transitive(spark):
    ids = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    out = {r.doc_id: (r.cluster_id, r.is_canonical) for r in dedup.dedup_clusters(ids, pairs).collect()}
    assert out[1] == (1, True) and out[2] == (1, False) and out[3] == (1, False)
    assert out[5] == (5, True) and out[6] == (5, False)
    assert out[4] == (4, True) and out[7] == (7, True)


def test_dedup_clusters_on_documents(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    clusters = dedup.dedup_clusters(docs, pairs)
    n_docs = docs.count()
    n_canonical = clusters.filter("is_canonical").count()
    n_dups = clusters.filter("NOT is_canonical").count()
    assert n_canonical + n_dups == n_docs
    assert n_dups == pairs.select("id_b").distinct().join(
        pairs.select(F.col("id_a").alias("id_b")), "id_b", "left_anti"
    ).count() or n_dups > 0  # at least the planted dups collapse


def test_capped_jaccard_subset_of_exact(spark, docs):
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs_capped(docs, threshold=0.5, df_max=50).collect()
    }
    assert capped <= exact or len(capped - exact) == 0
    # planted high-jaccard dups survive a generous cap
    high = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    if high:
        assert len(high & capped) / len(high) >= 0.9


def test_neardup_lsh_matches_brute_force_on_planted(spark, emb):
    """Banded sign-LSH near-dup pairs must exactly recover the brute-force
    pairs at sim >= 0.95 on data with planted near-duplicates (recall -> 1
    as sim -> 1; exact-cosine re-check removes all false positives)."""
    orig = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    planted = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CAST(x AS DOUBLE) * "
            "(CAST(1.0 AS DOUBLE) + CAST(0.001 AS DOUBLE) * CAST(i % 7 AS DOUBLE)))"
        ).alias("embedding"),
    )
    aug = orig.unionByName(planted)
    brute = {
        (r.id_a, r.id_b, r.sim)
        for r in similarity.cosine_near_dup_pairs(aug, threshold=0.95).collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.sim)
        for r in similarity.cosine_near_dup_pairs_lsh(
            aug, threshold=0.95, num_planes=16, bands=4
        ).collect()
    }
    # all 25 planted (v, v+10000) pairs present, and LSH == brute force
    assert {(i, i + 10000) for i in range(25)} <= {(a, b) for a, b, _ in lsh}
    assert lsh == brute


_PAIR_OPS = {
    "cosine_near_dup_pairs": similarity.cosine_near_dup_pairs,
    "cosine_near_dup_pairs_arrow": similarity.cosine_near_dup_pairs_arrow,
    "cosine_near_dup_pairs_lsh": similarity.cosine_near_dup_pairs_lsh,
    "cosine_near_dup_edges_lsh": similarity.cosine_near_dup_edges_lsh,
    "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs,
    "ngram_jaccard_pairs_capped": dedup.ngram_jaccard_pairs_capped,
    "minhash_lsh_pairs": dedup.minhash_lsh_pairs,
    "ngram_jaccard_edges": dedup.ngram_jaccard_edges,
}


@pytest.mark.parametrize("op", sorted(_PAIR_OPS))
def test_identical_pair_obeys_threshold(spark, op):
    """Two identical rows have similarity exactly 1.0, so every pair and
    edge op emits their pair at threshold 1.0 and nothing at 1.5 (the
    value >= threshold contract; the within-group pairs and stars of
    the collapsed ops used to ignore it). The third row shares nothing
    with them."""
    if op.startswith("cosine"):
        vec = [1.0] * 64
        df = spark.createDataFrame(
            [(1, vec), (2, vec), (3, [1.0, -1.0] * 32)],
            "vec_id long, embedding array<float>",
        )
    else:
        txt = "the quick brown fox jumps over the lazy dog"
        df = spark.createDataFrame(
            [(1, txt), (2, txt), (3, "lorem ipsum dolor sit amet consectetur")],
            "doc_id long, text string",
        )
    want = (1, 2) if "edges" in op else (1, 2, 1.0)
    assert [tuple(r) for r in _PAIR_OPS[op](df, threshold=1.0).collect()] == [want]
    assert _PAIR_OPS[op](df, threshold=1.5).collect() == []


def test_pack_sequences_invariants(spark, docs):
    from trino_demo_spark.llm import packing

    budget = 256
    out = packing.pack_sequences(docs, budget=budget, group_col="lang").toPandas()
    assert len(out) == docs.count()  # every doc assigned exactly once
    for (g, b), grp in out.groupby(["group_key", "bin_id"]):
        grp = grp.sort_values("offset")
        # offsets are the running fill: contiguous, start at 0
        assert grp["offset"].iloc[0] == 0
        assert (
            grp["offset"].iloc[1:].to_numpy()
            == (grp["offset"] + grp["n_tokens"]).iloc[:-1].to_numpy()
        ).all()
        # budget respected unless the bin is a single oversized doc
        total = int((grp["offset"] + grp["n_tokens"]).iloc[-1])
        assert total <= budget or (len(grp) == 1 and grp["oversized"].iloc[0])
    # bins are contiguous from 0 within each group
    for g, grp in out.groupby("group_key"):
        bins = sorted(grp["bin_id"].unique())
        assert bins == list(range(len(bins)))
    # order preserved: doc order within a group == bin-then-offset order
    for g, grp in out.groupby("group_key"):
        by_doc = grp.sort_values("doc_id")[["bin_id", "offset"]].to_numpy()
        assert (by_doc == grp.sort_values(["bin_id", "offset"])[["bin_id", "offset"]].to_numpy()).all()


def test_pack_sequences_oversized_alone(spark):
    from trino_demo_spark.llm import packing

    df = spark.createDataFrame(
        [(1, "g", 10), (2, "g", 300), (3, "g", 10), (4, "g", 10)],
        "doc_id long, lang string, nt long",
    )
    out = (
        packing.pack_sequences(df, budget=256, group_col="lang", token_count_col="nt")
        .toPandas()
        .sort_values("doc_id")
    )
    assert list(out["bin_id"]) == [0, 1, 2, 2]
    assert list(out["oversized"]) == [False, True, False, False]
    assert list(out["offset"]) == [0, 0, 0, 10]


def test_temperature_resample_rebalances(spark, docs):
    from trino_demo_spark.llm import mixing

    natural = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    total = sum(natural.values())
    out = mixing.temperature_resample(docs, alpha=0.5, strata_col="lang")
    mixed = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # total size approximately preserved (hash-fraction realization)
    assert abs(sum(mixed.values()) - total) / total < 0.1
    # every stratum's share moves from natural toward uniform
    k = len(natural)
    for lang, n in natural.items():
        nat_share, mix_share, uni = n / total, mixed[lang] / sum(mixed.values()), 1 / k
        if abs(nat_share - uni) > 0.02:
            assert abs(mix_share - uni) < abs(nat_share - uni), (lang, nat_share, mix_share)
    # deterministic under repartitioning
    out2 = mixing.temperature_resample(docs.repartition(7), alpha=0.5, strata_col="lang")
    a = sorted((r.doc_id, r.copy_idx) for r in out.select("doc_id", "copy_idx").collect())
    b = sorted((r.doc_id, r.copy_idx) for r in out2.select("doc_id", "copy_idx").collect())
    assert a == b


def test_chunk_documents_reconstructs(spark, docs):
    from trino_demo_spark.llm import text as t

    out = t.chunk_documents(docs, chunk_size=120, overlap=20).toPandas()
    orig = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    for doc_id, grp in out.groupby("doc_id"):
        grp = grp.sort_values("chunk_id")
        # stride-100 prefixes of consecutive chunks + final chunk == text
        rebuilt = "".join(c[:100] for c in grp["chunk"][:-1]) + grp["chunk"].iloc[-1]
        assert rebuilt == orig[doc_id], doc_id
        # consecutive chunks overlap by exactly `overlap` chars
        chunks = list(grp["chunk"])
        for a, b in zip(chunks, chunks[1:]):
            if len(a) == 120:
                assert a[100:] == b[: len(a) - 100]
        assert (grp["chunk_len"] == grp["chunk"].str.len()).all()


def test_chunk_documents_no_shuffle(spark, docs):
    from trino_demo_spark.llm import text as t

    plan = t.chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_repetition_score_bounds(spark, docs):
    from trino_demo_spark.llm import text as t

    out = t.repetition_score(docs).toPandas()
    assert (out["n_unique_words"] <= out["n_words"]).all()
    assert out["dup_word_ratio"].between(0, 1).all()
    # hand-computed check on a known row
    df = spark.createDataFrame([(1, "a b a c a")], "doc_id long, text string")
    r = t.repetition_score(df).collect()[0]
    assert (r.n_words, r.n_unique_words, float(r.dup_word_ratio)) == (5, 3, 0.4)


def test_gopher_ngram_repetition_hand_computed(spark):
    """Gopher n-gram repetition signals on hand-computable docs: a
    pathological repeater must fail the thresholds, a clean doc must
    pass, short/NULL docs follow the documented edge policies."""
    from trino_demo_spark.llm import text as t

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),          # "a b" ×3 of 5 bigrams
            (2, "one two three four five six"),  # all distinct
            (3, "solo"),                 # no n-grams at all
            (4, None),                   # dropped at ingest
            (5, "x y x y x y x y x y x y"),  # heavy 5-gram repetition
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in t.gopher_ngram_repetition(df).collect()}
    assert set(out) == {1, 2, 3, 5}
    # doc 1: n_chars=11; top bigram "a b" cnt=3, len 3 -> 9/11
    r1 = out[1]
    assert r1.n_chars == 11
    assert float(r1.top2_char_frac) == round(9 / 11 + 1e-9, 4)
    # 5-grams: "a b a b a", "b a b a b" -> both distinct -> 0.0
    assert float(r1.dup_5gram_frac) == 0.0
    assert r1.gopher_pass is False
    # doc 2: every bigram unique (count-1 ties) -> the tie-break picks
    # the lexicographically smallest gram, "five six" (len 8), of the
    # 27 normalized chars -> 8/27
    r2 = out[2]
    assert r2.n_chars == 27
    assert float(r2.top2_char_frac) == round(8 / 27 + 1e-9, 4)
    # doc 3: no 2/3/4/5-grams -> all fractions 0.0, passes vacuously
    r3 = out[3]
    assert (
        float(r3.top2_char_frac),
        float(r3.top3_char_frac),
        float(r3.top4_char_frac),
        float(r3.dup_5gram_frac),
    ) == (0.0, 0.0, 0.0, 0.0)
    assert r3.gopher_pass is True
    # doc 5: 12 tokens of period 2 -> 8 5-grams, only 2 distinct -> 6/8
    r5 = out[5]
    assert float(r5.dup_5gram_frac) == round(6 / 8 + 1e-9, 4)
    assert r5.gopher_pass is False


def test_gopher_arrow_matches_fold(spark, docs):
    """r12: the shipped gopher_ngram_repetition (mapInArrow counting
    kernel) must be ROW-IDENTICAL to the retained JVM sorted-run fold
    reference on (a) the docs fixture and (b) an adversarial frame —
    count ties resolved by gram order, grams made of empty tokens,
    single-token and empty-after-trim texts, unicode tokens, and a doc
    whose top gram differs between n=2/3/4."""
    from trino_demo_spark.llm import text as t

    adv = spark.createDataFrame(
        [
            (1, "b a b a b a"),            # tie "a b"(2) vs "b a"(3)
            (2, "z z z z z z"),            # degenerate: one gram repeated
            (3, "  x   y  "),              # multi-space runs collapse
            (4, "único café único café único"),  # unicode + tie-break
            (5, "q w e r t y u i o p a s d f"),  # all-distinct, count-1 ties
            (6, ""),                        # trim -> [''] single empty token
            (7, "one two"),                 # bigram only, no 3/4/5-grams
            (8, "a a b b a a b b a a b b a a"),  # period-4 heavy repetition
        ],
        "doc_id long, text string",
    )
    for frame in (docs, adv):
        a = sorted(map(tuple, t.gopher_ngram_repetition(frame).collect()))
        b = sorted(map(tuple, t.gopher_ngram_repetition_fold(frame).collect()))
        assert a == b and len(a) > 0


def test_gopher_quality_hand_computed(spark):
    """Non-repetition Gopher quality rules on hand-computable docs:
    a passing doc, a too-short doc, and a symbol-heavy doc; NULL text
    dropped at ingest."""
    from trino_demo_spark.llm import text as t

    passing = (
        "the be to of and that have with " + "word " * 42 + "end"
    )
    df = spark.createDataFrame(
        [
            (1, passing),                      # 51 words, all rules pass
            (2, "the cat sat on the mat with a hat and more"),  # 11 words
            (3, "x1 ## ... ..... num42 … ok"),  # symbol-heavy
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in t.gopher_quality(df).collect()}
    assert set(out) == {1, 2, 3}
    r1 = out[1]
    assert r1.n_words == 51
    assert float(r1.mean_word_len) == round(195 / 51 + 1e-9, 4)
    assert r1.n_required_words == 8
    assert r1.gopher_quality_pass is True
    r2 = out[2]
    assert r2.n_words == 11
    assert float(r2.mean_word_len) == round(32 / 11 + 1e-9, 4)  # < 3 -> fail
    assert r2.n_required_words == 3  # the, and, with
    assert r2.gopher_quality_pass is False
    r3 = out[3]
    # symbols: 2×'#', '...' + one inside '.....' (left-to-right,
    # non-overlapping), 1×'…' -> 5 symbols over 7 words
    assert float(r3.symbol_word_ratio) == round(5 / 7 + 1e-9, 4)
    assert float(r3.alpha_word_frac) == round(3 / 7 + 1e-9, 4)
    assert r3.gopher_quality_pass is False


def test_vocab_topk_matches_pandas(spark, docs):
    from collections import Counter

    from trino_demo_spark.llm import text as t

    out = [(r.word, r.n) for r in t.vocab_topk(docs, k=10).collect()]
    cnt = Counter()
    for r in docs.select("text").collect():
        cnt.update(r.text.strip().split())
    expected = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert out == expected


def test_contamination_planted_and_broadcast(spark, docs):
    from trino_demo_spark.llm import text as t

    bench = docs.filter(F.col("doc_id") % 97 == 3)
    out = t.contamination(docs, bench, n=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    pdf = out.toPandas().set_index("doc_id")
    # benchmark members are fully contaminated against themselves
    for r in bench.select("doc_id").collect():
        if r.doc_id in pdf.index:
            assert pdf.loc[r.doc_id, "contamination"] == 1.0
    assert pdf["contamination"].between(0, 1).all()
    assert (pdf["n_hits"] <= pdf["n_shingles"]).all()


def test_incremental_dedup_bloom_prune_exact(spark, docs):
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter((F.col("doc_id") % 6).isin(0, 1))
    pruned = dedup.incremental_dedup(batch, corpus, prune=True)
    plain = dedup.incremental_dedup(batch, corpus, prune=False)
    a = sorted((r.doc_id, r.content_hash) for r in pruned.collect())
    b = sorted((r.doc_id, r.content_hash) for r in plain.collect())
    assert a == b
    # every batch doc whose text is in the corpus (doc_id%6==0 by
    # construction) is dropped; the others survive
    ids = {i for i, _ in a}
    for r in batch.select("doc_id").collect():
        assert (r.doc_id in ids) == (r.doc_id % 6 == 1)


def test_incremental_dedup_bloom_no_false_negatives(spark):
    # tiny bitmap forces false positives: results must STILL be exact
    # (fps only widen the candidate subset that takes the exact join)
    rows = [(i, f"doc number {i}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = df.filter(F.col("doc_id") < 100)
    batch = df.filter(F.col("doc_id") >= 50)
    out = dedup.incremental_dedup(batch, corpus, m_bits=64, k=2)
    got = sorted(r.doc_id for r in out.collect())
    assert got == list(range(100, 200))


def test_bloom_bitmap_membership(spark):
    import numpy as np

    df = spark.createDataFrame([(f"key-{i}",) for i in range(50)], "k string")
    m, k = 1 << 12, 4
    bitmap = dedup.bloom_bitmap(df, "k", m, k)
    # recompute positions with the engine and assert every corpus key's
    # bits are set (bloom guarantees no false negatives)
    pos = df.select(
        *[F.pmod(F.xxhash64(F.col("k"), F.lit(s)), F.lit(m)).alias(f"p{s}") for s in range(k)]
    ).collect()
    for r in pos:
        for s in range(k):
            p = r[f"p{s}"]
            assert (int(bitmap[p >> 6]) >> (p & 63)) & 1 == 1


def test_tfidf_topk_ranks_rare_terms_first(spark):
    """Same tf → the RARER term (lower df) must rank higher; ranking is
    integer-only so the boundary is deterministic."""
    from trino_demo_spark.llm import text

    df = spark.createDataFrame(
        [
            (1, "apple apple zebra common common common"),
            (2, "common zebra"),
            (3, "common apple"),
        ],
        "doc_id long, text string",
    )
    out = text.tfidf_topk(df, k=2).collect()
    doc1 = sorted((r.rnk, r.term) for r in out if r.doc_id == 1)
    # doc1: common tf=3 > apple tf=2; both beat zebra tf=1
    assert [t for _, t in doc1] == ["common", "apple"]
    # idf ordering: zebra (df=2) scores above common (df=3) at equal tf
    doc2 = {r.term: r.rnk for r in out if r.doc_id == 2}
    assert doc2["zebra"] < doc2["common"]


def test_quality_filter_keeps_ceil_fraction_per_group(spark, docs):
    from trino_demo_spark.llm import text

    kept = text.quality_filter_pct(docs, keep_frac=0.5)
    grp = {r.lang: r.cnt for r in kept.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    src = {r.lang: r.cnt for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    import math

    for lang, n in src.items():
        assert grp.get(lang, 0) == math.ceil(n * 0.5)


def test_pca_fit_matches_numpy(spark, emb):
    import numpy as np
    from trino_demo_spark.llm import similarity as sim

    mean, comps, evar = sim.pca_fit(emb, k=4)
    x = np.vstack(
        [np.asarray(r[0], dtype=np.float64) for r in emb.select("embedding").collect()]
    )
    assert np.allclose(mean, x.mean(axis=0), atol=1e-9)
    cov = np.cov(x, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:4]
    # explained variance: descending, matches numpy eigenvalues
    assert all(a >= b for a, b in zip(evar, evar[1:]))
    assert np.allclose(evar, evals[order], rtol=1e-6)
    c = np.asarray(comps)
    # orthonormal components
    assert np.allclose(c @ c.T, np.eye(4), atol=1e-8)
    # same subspace as numpy's eigenvectors (up to sign)
    ref = evecs[:, order].T
    assert np.allclose(np.abs(c @ ref.T), np.eye(4), atol=1e-6)


def test_pca_project_matches_driver_math(spark, emb):
    import numpy as np
    from trino_demo_spark.llm import similarity as sim

    mean, comps, _ = sim.pca_fit(emb, k=2)
    out = sim.pca_project(emb, mean, comps, round_to=6).orderBy("vec_id").collect()
    x = np.vstack(
        [
            np.asarray(r[1], dtype=np.float64)
            for r in emb.select("vec_id", "embedding").orderBy("vec_id").collect()
        ]
    )
    proj = (x - np.asarray(mean)) @ np.asarray(comps).T
    got = np.asarray([[r.pc1, r.pc2] for r in out])
    assert np.allclose(got, proj, atol=1e-5)


def test_logreg_matches_numpy_trainer(spark, emb):
    """The distributed GD trainer must match an identical numpy
    full-batch trainer (same init/lr/iters) to float tolerance, and the
    loss must decrease."""
    import numpy as np
    from trino_demo_spark import ml

    df = emb.withColumn("y", (F.col("label") == 0).cast("double"))
    w, b, losses = ml.logreg_fit(df, dims=8, lr=0.5, iters=10)
    assert losses[-1] < losses[0]

    rows = df.select("embedding", "y").collect()
    x = np.vstack([np.asarray(r[0][:8], dtype=np.float64) for r in rows])
    y = np.asarray([r[1] for r in rows])
    n = len(y)
    wn = np.zeros(8)
    bn = 0.0
    for _ in range(10):
        p = 1.0 / (1.0 + np.exp(-(x @ wn + bn)))
        err = p - y
        wn -= 0.5 * (x.T @ err) / n
        bn -= 0.5 * err.sum() / n
    assert np.allclose(w, wn, atol=1e-8)
    assert abs(b - bn) < 1e-8

    scored = ml.logreg_predict(df, w, b).collect()
    pred = {r.vec_id: r.predicted for r in scored}
    p_np = 1.0 / (1.0 + np.exp(-(x @ wn + bn)))
    ids = [r["vec_id"] for r in df.select("vec_id").collect()]
    for i, vid in enumerate(ids):
        assert pred[vid] == bool(p_np[i] >= 0.5)


def test_pq_topk_recall(spark, emb):
    """PQ/ADC with exact re-rank: recall@3 vs brute force must be high
    even on near-random vectors (m=16 subspaces, refine=64) — the
    re-rank makes recall the only approximation."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.q_id, r.n_id)
        for r in similarity.brute_force_topk(emb, queries, k=3).collect()
    }
    pq = similarity.pq_topk(emb, queries, k=3, m=16, refine=64).collect()
    got = {(r.q_id, r.n_id) for r in pq}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.8, recall
    # contract: exactly k rows per query, ranks 1..k
    per_q = {}
    for r in pq:
        per_q.setdefault(r.q_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())


def test_pq_codebooks_shape_and_determinism(spark, emb):
    b1 = similarity.pq_codebooks(emb, m=4, ksub=8, iters=1)
    b2 = similarity.pq_codebooks(emb, m=4, ksub=8, iters=1)
    assert b1 == b2
    assert len(b1) == 4 and len(b1[0]) == 8 and len(b1[0][0]) == 16


def test_nearest_kernel_matches_brute_l2():
    """The one nearest-centroid kernel: on integer-valued data (exact
    float64 arithmetic, so dropping the row-constant ‖x‖² cannot move a
    comparison) _nearest equals a brute Σ(x−c)² argmin and top-n, exact
    ties pick the lowest centroid index, and _codes quantizes each
    slice against its own codebook."""
    import numpy as np

    rng = np.random.default_rng(17)
    X = rng.integers(-6, 7, size=(300, 5)).astype(np.float64)
    C = rng.integers(-6, 7, size=(9, 5)).astype(np.float64)
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    for n in (1, 3, 9):
        want = [sorted(range(len(C)), key=lambda i: (row[i], i))[:n] for row in d2]
        assert similarity._nearest(X, C, n).tolist() == want
    assert similarity._nearest(X, C)[:, 0].tolist() == d2.argmin(axis=1).tolist()
    # planted exact ties: x=(1,0) is at squared distance 4 from (3,0),
    # (1,2) and (-1,0), whose ‖c‖² differ; duplicate centroids 3 and 4
    ties = np.asarray([[3.0, 0.0], [1.0, 2.0], [-1.0, 0.0], [9.0, 9.0], [9.0, 9.0]])
    got = similarity._nearest(np.asarray([[1.0, 0.0], [9.0, 9.0]]), ties, 3)
    assert got.tolist() == [[0, 1, 2], [3, 4, 1]]
    books = np.stack([C[:, :2], C[:, 2:4]])
    codes = similarity._codes(X, books, 2)
    assert codes[:, :2].tolist() == similarity._nearest(X[:, :2], C[:, :2], 2).tolist()
    assert codes[:, 2:].tolist() == similarity._nearest(X[:, 2:4], C[:, 2:4], 2).tolist()


def test_pq_codebooks_one_pass_per_iteration(spark, emb):
    """Every subspace codebook shares one Lloyd loop: pq_codebooks runs
    as many Spark jobs for m=16 as for m=1, and at most 2 + iters (one
    init collect, then one corpus pass per iteration)."""
    sc = spark.sparkContext
    jobs = {}
    for m in (1, 16):
        group = f"pq_codebooks_m{m}"
        sc.setJobGroup(group, group)
        try:
            similarity.pq_codebooks(emb, m=m, iters=2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[m] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[1] == jobs[16] <= 2 + 2, jobs


def test_ivfpq_topk_recall(spark, emb):
    """IVF-PQ composition: coarse-list pruning caps recall (nprobe/k
    lists probed), PQ+re-rank must not degrade it further — require
    well above the IVF-alone bound on near-random vectors."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.q_id, r.n_id)
        for r in similarity.brute_force_topk(emb, queries, k=3).collect()
    }
    got = {
        (r.q_id, r.n_id)
        for r in similarity.ivfpq_topk(
            emb, queries, k=3, m=16, refine=48
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.6, recall


def test_ann_stages_exact_when_nothing_is_pruned(spark, emb):
    """Probing every IVF list and refining over the whole corpus leaves
    nothing approximate: ivf_topk, pq_topk and ivfpq_topk must equal
    brute_force_topk row for row. The recall tests above only bound
    these paths; this pins their shared probe, ADC, refine and rank
    stages exactly."""
    queries = emb.filter(F.col("vec_id") < 20)
    n = emb.count()
    exact = sorted(
        map(tuple, similarity.brute_force_topk(emb, queries, k=3).collect())
    )
    assert len(exact) == 60
    for got in (
        similarity.ivf_topk(emb, queries, k=3, num_centroids=8, nprobe=8, iters=2),
        similarity.pq_topk(emb, queries, k=3, refine=n),
        similarity.ivfpq_topk(emb, queries, k=3, nprobe=8, m=4, refine=n),
    ):
        assert sorted(map(tuple, got.collect())) == exact


def test_bpe_matches_reference(spark, docs):
    """The distributed merge sequence must EXACTLY equal an independent
    pure-Python BPE on the same word-frequency dict — order, pairs,
    and greedy-left merge application semantics."""
    from trino_demo_spark.llm import bpe

    merges = bpe.bpe_train(docs, n_merges=6)
    wf = {r.w: r.freq for r in bpe.word_freqs(docs).collect()}
    ref = bpe.bpe_reference(wf, 6)
    assert [(x, y) for x, y, _ in merges] == ref
    # merge table artifact is well-formed
    tbl = bpe.bpe_merge_table(docs, n_merges=4).collect()
    assert [r.rank for r in tbl] == [1, 2, 3, 4]
    assert all(r.merged == r.left + r.right for r in tbl)


def test_bpe_train_crosses_lineage_truncation_boundary(spark):
    """r12 (ADVICE r11 bpe.py item): bpe_train_words truncates lineage
    via iterutil.materialize every 32 merge rounds. Train PAST that
    boundary on a vocabulary rich enough to sustain 40 merges and pin
    the merge sequence against the pure-Python reference — the
    truncation must be invisible to the learned merges (and to the
    persisted-frame bookkeeping around it)."""
    from trino_demo_spark.llm import bpe

    words = [
        "abracadabra", "alakazam", "hocuspocus", "presto", "shazam",
        "mississippi", "tennessee", "alabama", "okefenokee", "chattanooga",
        "bookkeeper", "committee", "millennium", "possession", "aggressive",
    ]
    wf = {w: i + 1 for i, w in enumerate(words)}
    df = spark.createDataFrame(sorted(wf.items()), "w string, freq long")
    merges = bpe.bpe_train_words(df, n_merges=40)
    ref = bpe.bpe_reference(wf, 40)
    assert len(merges) == len(ref) >= 36
    assert [(x, y) for x, y, _ in merges] == ref


def test_bpe_seg_replace_matches_fold(spark):
    """r11 optimization round: the shipped segmentation is the
    padded-string replace chain (bpe.seg_col); _merge_fold is kept as
    the reference carry-fold. The two must agree symbol-for-symbol on
    an adversarial vocabulary — overlapping merge sites ('aaaa' under
    (a,a) then (aa,aa)), merges whose product feeds a later merge,
    quote/backslash symbols (no SQL splicing in the replace path), and
    single-symbol words."""
    import random

    from pyspark.sql import functions as F

    from trino_demo_spark.llm import bpe

    random.seed(11)
    alphabet = ["a", "b", "c", "'", "\\", "%", "_"]
    words = {"a", "aa", "aaa", "aaaa", "aaaaa", "ab", "ba", "\\'", "'\\"}
    while len(words) < 400:
        words.add(
            "".join(
                random.choice(alphabet)
                for _ in range(random.randint(1, 12))
            )
        )
    df = spark.createDataFrame([(w,) for w in sorted(words)], "w STRING")
    merges = [
        ("a", "a"),
        ("b", "c"),
        ("aa", "b"),
        ("aa", "aa"),
        ("\\", "'"),
        ("bc", "c"),
        ("aab", "a"),
    ]
    fold = df.withColumn("syms", F.expr("transform(split(w,''), c -> c)"))
    for x, y in merges:
        fold = fold.withColumn("syms", bpe._merge_fold(x, y))
    rep = df.select(
        "w", bpe.seg_syms(bpe.seg_col(F.col("w"), merges)).alias("syms2")
    )
    joined = fold.join(rep, "w").select("w", "syms", "syms2").collect()
    assert len(joined) == len(words)
    for r in joined:
        assert list(r.syms) == list(r.syms2), (r.w, r.syms, r.syms2)
        # and the count shortcut agrees with the array length
    n = df.select(
        F.sum(
            (
                bpe.seg_n_subtokens(bpe.seg_col(F.col("w"), merges))
                != F.size(bpe.seg_syms(bpe.seg_col(F.col("w"), merges)))
            ).cast("int")
        )
    ).first()[0]
    assert n == 0


def test_pagerank_matches_numpy(spark):
    """Distributed power iteration must match a dense numpy PageRank on
    the same graph (same damping, dangling redistribution) to float
    tolerance."""
    import numpy as np

    from trino_demo_spark import ml
    from trino_demo_spark.registry import load_table

    SF = "/root/testdata/sf0.001"
    li = load_table(spark, "lineitem", SF).select("l_orderkey", "l_suppkey")
    o = load_table(spark, "orders", SF).select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    got = {r.node: r.rank for r in ml.pagerank(edges, iters=4).collect()}

    e = edges.collect()
    nodes = sorted({r.src for r in e} | {r.dst for r in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for r in e:
        out_deg[idx[r.src]] += 1
    rank = np.full(n, 1.0 / n)
    d = 0.85
    adj = [(idx[r.src], idx[r.dst]) for r in e]
    for _ in range(4):
        contrib = np.zeros(n)
        for s, t in adj:
            contrib[t] += rank[s] / out_deg[s]
        dm = rank[out_deg == 0].sum()
        rank = (1 - d) / n + d * (contrib + dm / n)
    for v in nodes:
        assert abs(got[v] - rank[idx[v]]) < 1e-6, v
    assert abs(sum(got.values()) - 1.0) < 1e-3


def test_nb_classifier_argmax_sane(spark):
    """NB scores must produce a deterministic argmax classification and
    assign every scored doc exactly |classes| scores; accuracy on the
    self-trained corpus must beat the majority-class prior."""
    import trino_demo_spark.parity_llm  # noqa: F401  (registers llm entries)
    from trino_demo_spark.parity import PARITY

    SF = "/root/testdata/sf0.001"
    scores = PARITY["llm_classify_nb"].fn(spark, SF).collect()
    by_doc = {}
    for r in scores:
        by_doc.setdefault(r.doc_id, []).append((r.nb_score, r.lang))
    n_cls = {len(v) for v in by_doc.values()}
    assert n_cls == {len({r.lang for r in scores})}
    pred = {d: max(v)[1] for d, v in by_doc.items()}
    from trino_demo_spark.registry import load_table

    truth = {
        r.doc_id: r.lang
        for r in load_table(spark, "documents", SF)
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "lang")
        .collect()
    }
    acc = sum(pred[d] == truth[d] for d in pred) / len(pred)
    langs = list(truth.values())
    prior = max(langs.count(x) for x in set(langs)) / len(langs)
    assert acc >= prior, (acc, prior)


def test_bpe_apply_matches_reference(spark, docs):
    """Applying the learned merges in-engine must give the same
    per-word segmentation lengths as the pure-Python reference apply."""
    from trino_demo_spark.llm import bpe

    merges = [(x, y) for x, y, _ in bpe.bpe_train(docs, n_merges=5)]
    got = {r.doc_id: (r.n_words, r.n_bpe_tokens)
           for r in bpe.bpe_apply(docs, merges).collect()}

    # python reference segmentation
    wf_rows = docs.select("doc_id", "text").collect()
    def seg_len(word):
        syms = list(word)
        for x, y in merges:
            new, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                    new.append(x + y); i += 2
                else:
                    new.append(syms[i]); i += 1
            syms = new
        return len(syms)
    for r in wf_rows[:50]:
        words = [w.lower() for w in r.text.strip().split()]
        exp = (len(words), sum(seg_len(w) for w in words))
        assert got[r.doc_id] == exp, (r.doc_id, got[r.doc_id], exp)


def test_bpe_backslash_symbols_survive_sql_splicing(spark):
    """Corpus symbols are spliced into an F.expr literal; a token whose
    characters include a backslash must round-trip (backslashes escaped
    before quotes), not crash or corrupt the merge."""
    from trino_demo_spark.llm import bpe

    df = spark.createDataFrame(
        [(0, "a\\ a\\ a\\ a\\"), (1, "a\\ b' b'")], "doc_id long, text string"
    )
    merges = bpe.bpe_train(df, n_merges=2)
    wf = {r.w: r.freq for r in bpe.word_freqs(df).collect()}
    assert [(x, y) for x, y, _ in merges] == bpe.bpe_reference(wf, 2)
    applied = {r.doc_id: r.n_bpe_tokens for r in bpe.bpe_apply(df, [(x, y) for x, y, _ in merges]).collect()}
    # 'a\' fully merges to one token after ('a','\') — doc 0 has 4 words
    assert applied[0] == 4


def test_epoch_shuffle_deterministic_permutation(spark, docs):
    """Same seed → identical placement regardless of partitioning; a
    different seed produces a different order; every doc appears exactly
    once with contiguous per-shard positions."""
    from trino_demo_spark.llm import mixing

    a = mixing.epoch_shuffle(docs, seed=7, n_shards=4).collect()
    b = mixing.epoch_shuffle(docs.repartition(13), seed=7, n_shards=4).collect()
    key = lambda rows: sorted((r.doc_id, r.shard, r.pos) for r in rows)
    assert key(a) == key(b)

    n = docs.count()
    assert len(a) == n and len({r.doc_id for r in a}) == n
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard

    c = mixing.epoch_shuffle(docs, seed=8, n_shards=4).collect()
    assert key(a) != key(c)  # reshuffled epoch


def test_length_buckets_equal_frequency(spark, docs):
    """Buckets are 1..n per group, sizes within 1 of each other, and
    bucket id is monotone in (n_tokens, doc_id) order."""
    from trino_demo_spark.llm import packing

    out = packing.length_buckets(docs, n_buckets=4).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        sizes = {}
        for r in rows:
            sizes[r.bucket] = sizes.get(r.bucket, 0) + 1
        assert set(sizes) == set(range(1, min(4, len(rows)) + 1)), lang
        assert max(sizes.values()) - min(sizes.values()) <= 1, lang
        ordered = sorted(rows, key=lambda r: (r.n_tokens, r.doc_id))
        buckets = [r.bucket for r in ordered]
        assert buckets == sorted(buckets), lang


def test_cms_estimates_never_underestimate(spark):
    """CMS point estimates must be >= the true count for EVERY probed
    key (the one-sided sketch guarantee), and exact when the sketch is
    wide enough to avoid collisions."""
    from pyspark.sql import functions as F

    from trino_demo_spark.operators import aggregates as agg

    rows = [("g", f"u{i % 37}") for i in range(500)] + [("h", f"u{i % 11}") for i in range(200)]
    df = spark.createDataFrame(rows, "grp string, val string")
    truth = df.groupBy("grp", "val").agg(F.count("*").alias("true_cnt"))

    wide = agg.cms_estimates(df, "grp", "val", truth, depth=4, width=2048)
    j = truth.join(wide, ["grp", "val"]).collect()
    assert len(j) == 48
    assert all(r.cms_est == r.true_cnt for r in j)  # no collisions at this width

    narrow = agg.cms_estimates(df, "grp", "val", truth, depth=3, width=8)
    j2 = truth.join(narrow, ["grp", "val"]).collect()
    assert all(r.cms_est >= r.true_cnt for r in j2)  # lower bound always holds


def test_format_sft_dpo_json_escaping_parity(spark, tmp_path):
    """The sft/dpo oracles reproduce Spark's to_json escaping for
    documents containing backslashes, quotes, newlines, CRs, and tabs
    — characters absent from the generated corpus, which would
    otherwise mask an escape-chain regression (a Python-level
    string-literal mangling bug hid here once)."""
    import duckdb
    import pandas as pd

    from trino_demo_spark.parity import PARITY

    texts = [
        'plain words only here to satisfy the length filter okay',
        'has "quotes" and a back\\slash plus more filler words here',
        'line\nbreak and\ttab and\rcarriage filler words to pass n',
        'trailing backslash \\ and "mix\\" of\n everything\t here ok',
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en", "de", "en", "de"],
            "source": ["s0"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    d = tmp_path / "docs"
    d.mkdir()
    pdf.to_parquet(d / "documents.parquet")
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    for name in ("llm_format_sft", "llm_format_dpo"):
        p = PARITY[name]
        spdf = p.fn(spark, str(d)).toPandas()
        dpdf = con.sql(p.sql).df()
        cols = sorted(spdf.columns)
        srows = sorted(map(tuple, spdf[cols].astype(str).itertuples(index=False)))
        drows = sorted(map(tuple, dpdf[cols].astype(str).itertuples(index=False)))
        assert srows == drows, (name, srows, drows)
        assert len(srows) > 0, name


def test_als_fit_reduces_rmse_and_matches_numpy_solve(spark):
    """ALS on a synthetic low-rank matrix: reconstruction RMSE must
    beat the global-mean baseline by a wide margin (the planted matrix
    IS rank-2), and the engine-side closed-form 2x2 user solve must
    equal numpy's ridge solve against the same item factors."""
    import numpy as np

    from trino_demo_spark.ml import als_fit, als_rmse

    rng = np.random.RandomState(3)
    U = rng.rand(12, 2) + 0.5
    Q = rng.rand(2, 4) + 0.5
    R = U @ Q
    rows = [
        (u, f"item{i}", float(R[u, i]))
        for u in range(12)
        for i in range(4)
        if (u + i) % 5 != 0  # holes: not fully observed
    ]
    ratings = spark.createDataFrame(
        rows, "user_id int, item string, rating double"
    )
    q, users = als_fit(ratings, iters=8, lamb=0.01)
    rmse = als_rmse(ratings, q, users)
    vals = np.array([r[2] for r in rows])
    baseline = float(vals.std())
    assert rmse < 0.15 * baseline  # rank-2 data: near-exact recovery
    # engine user-solve equals numpy ridge solve for a sample user
    uid = 3
    rated = [(it, r) for (u, it, r) in rows if u == uid]
    A = np.eye(2) * 0.01
    b = np.zeros(2)
    for it, r in rated:
        qv = np.array(q[it])
        A += np.outer(qv, qv)
        b += qv * r
    want = np.linalg.solve(A, b)
    got = users.filter(F.col("user_id") == uid).collect()[0]
    assert [got["u1"], got["u2"]] == pytest.approx(want.tolist(), rel=1e-9)


def test_minhash_short_docs_never_pair(spark):
    """Docs shorter than the shingle width carry NULL signatures and
    must produce ZERO candidate pairs — not spurious est_jaccard=1.0
    matches via NULL<=>NULL signature agreement (regression pin for
    the array-signature estimate join)."""
    from trino_demo_spark.llm.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [
            (1, "hi there"),
            (2, "buy gold"),
            (3, "totally unrelated pair of words here indeed yes"),
            (4, "totally unrelated pair of words here indeed yes"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(df, n=3, threshold=0.5).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) not in ids  # both sub-n docs: no signature, no pair
    assert (3, 4) in ids  # identical long docs still pair


def test_filter_funnel_reconciles_with_e2e_pipeline(spark):
    """The funnel's after_dedup must equal e2e_llm_data_pipeline's
    actual output row count — same stages, same order, same dedup
    rule."""
    import trino_demo_spark.parity_llm  # noqa: F401  (registers entries)
    from trino_demo_spark.parity import PARITY

    sf = "/root/testdata/sf0.001"
    funnel = PARITY["llm_filter_funnel"].fn(spark, sf).first()
    e2e_rows = PARITY["e2e_llm_data_pipeline"].fn(spark, sf).count()
    assert funnel["after_dedup"] == e2e_rows


def test_span_dedup_planted_duplicate_block(spark):
    """A 10-word block repeated across docs (and twice within one doc)
    survives only at its globally first (doc, position) occurrence;
    unique spans are untouched and re-assembled in position order."""
    block = " ".join(f"w{i}" for i in range(10))        # repeated span
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    tail = "t0 t1 t2"                                    # partial span
    df = spark.createDataFrame(
        [
            (1, f"{block} {uniq_a} {block}"),            # dup within doc
            (2, f"{uniq_b} {block}"),                    # dup across docs
            (3, block),                                  # fully removed
            (4, tail),                                   # short doc, kept
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.span_dedup(df).collect()}
    assert out[1].clean_text == f"{block} {uniq_a}"
    assert (out[1].n_spans, out[1].n_kept) == (3, 2)
    assert out[2].clean_text == uniq_b
    assert (out[2].n_spans, out[2].n_kept) == (2, 1)
    assert out[3].clean_text == "" and out[3].n_kept == 0
    assert out[4].clean_text == tail and out[4].n_kept == 1


def test_rrf_fuse_semantics(spark):
    """RRF: a doc ranked in BOTH legs beats single-leg docs of similar
    rank; single-leg docs carry rank 0 in the missing leg (never NULL);
    final ordering is (score desc, id)."""
    lex = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rank long"
    )
    vec = spark.createDataFrame(
        [(20, 1), (40, 2), (50, 3)], "doc_id long, rank long"
    )
    out = similarity.rrf_fuse(lex, vec, topk=10).collect()
    by_id = {r.doc_id: r for r in out}
    # doc 20 is in both legs -> highest fused score, rank 1
    assert out[0].doc_id == 20 and out[0].rank == 1
    assert by_id[20].lex_rank == 2 and by_id[20].vec_rank == 1
    # single-leg docs: missing leg surfaces 0, score is the single term
    assert by_id[10].vec_rank == 0 and by_id[40].lex_rank == 0
    assert abs(by_id[10].rrf_score - 1 / 61) < 1e-5
    # equal single-leg scores tie-break by doc_id: lex rank1 (10) before
    # vec rank1 would tie only with same rank; 10 (1/61) > 40 (1/62)
    ids = [r.doc_id for r in out]
    assert ids == [20, 10, 40, 30, 50]


def test_minhash_collapse_matches_brute_reference(spark):
    """Semantic pin for the identical-signature collapse: the pair set
    (and every est_jaccard value) must equal a brute-force reference
    computed directly from the signatures — all pairs that fully agree
    on some band, estimated as matching-component fraction. Exercises
    exact-dup clusters (within-group 1.0 pairs), near-dup cross-group
    pairs, unique docs, and sub-n-token docs (excluded entirely)."""
    base = [
        "the quick brown fox jumps over the lazy dog tonight",
        "pack my box with five dozen quality liquor jugs now",
        "how vexingly quick daft zebras jump around the field",
    ]
    rows = []
    did = 0
    for t in base:
        for _ in range(4):  # exact-dup cluster of 4
            rows.append((did, t)); did += 1
        rows.append((did, t + " extra trailing words appended here")); did += 1
    rows.append((did, "completely different unrelated content about engines and parquet files")); did += 1
    rows.append((did, "too short")); did += 1  # < n tokens: no signature
    df = spark.createDataFrame(rows, "doc_id long, text string")

    num_perm, bands, thr = 32, 8, 0.3
    r = num_perm // bands
    sig = {
        row["id"]: tuple(row[f"mh_{i}"] for i in range(num_perm))
        for row in dedup.minhash_signatures(df, "doc_id", "text", 3, num_perm).collect()
        if row["mh_0"] is not None
    }
    expect = {}
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = sig[a], sig[b]
            if any(
                sa[k * r:(k + 1) * r] == sb[k * r:(k + 1) * r]
                for k in range(bands)
            ):
                est = round(
                    sum(x == y for x, y in zip(sa, sb)) / num_perm + 1e-9, 4
                )
                if est >= thr:
                    expect[(a, b)] = est
    rows = dedup.minhash_lsh_pairs(
        df, num_perm=num_perm, bands=bands, threshold=thr
    ).collect()
    # row-count first: a duplicate emission (same pair from the within
    # AND cross paths) would vanish inside the dict comprehension
    assert len(rows) == len(expect)
    got = {(p.id_a, p.id_b): p.est_jaccard for p in rows}
    assert got == expect
    # exact-dup clusters must contribute all C(4,2) within pairs at 1.0
    for c in range(3):
        lo = c * 5
        for x in range(lo, lo + 4):
            for y in range(x + 1, lo + 4):
                assert got[(x, y)] == 1.0


def test_span_dedup_rank_decode_edges(spark):
    """Decode-shape edges: empty doc (0 spans, empty clean_text), doc
    shorter than one span (trailing partial kept), duplicate span owned
    by the earliest (doc, position), and intra-doc repeated spans."""
    k = 3
    df = spark.createDataFrame(
        [
            (10, "a b c d e f"),          # spans: "a b c", "d e f"
            (11, "a b c x"),              # "a b c" dup (loses to doc 10), "x" partial kept
            (12, ""),                     # empty -> 0 spans
            (13, "d e f"),                # dup of doc 10's 2nd span
            (14, "z z z z z z"),          # intra-doc repeat: 2nd "z z z" dropped
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.span_dedup(df, span_words=k).collect()}
    assert (out[10].clean_text, out[10].n_spans, out[10].n_kept) == ("a b c d e f", 2, 2)
    assert (out[11].clean_text, out[11].n_spans, out[11].n_kept) == ("x", 2, 1)
    # split(trim(''), '\s+') yields [''] — one empty token → one empty
    # span, unique in this corpus, so it survives (same as the original
    # fold formulation).
    assert (out[12].clean_text, out[12].n_spans, out[12].n_kept) == ("", 1, 1)
    assert (out[13].clean_text, out[13].n_spans, out[13].n_kept) == ("", 1, 0)
    assert (out[14].clean_text, out[14].n_spans, out[14].n_kept) == ("z z z", 2, 1)


def test_brute_force_topk_arrow_row_identical(spark, emb):
    """The Arrow/matmul brute force must be ROW-identical to the
    expression-fold brute force (same EPS-round, same tie-break) — it
    shares the expr version's DuckDB oracle on that basis."""
    q = emb.filter(F.col("vec_id") < 20)
    a = sorted(map(tuple, similarity.brute_force_topk(emb, q, k=3).collect()))
    b = sorted(
        map(tuple, similarity.brute_force_topk_arrow(emb, q, k=3).collect())
    )
    assert a == b and len(a) > 0
    # empty query set -> empty frame with the contract schema
    none = similarity.brute_force_topk_arrow(
        emb, emb.filter(F.col("vec_id") < 0), k=3
    )
    assert none.columns == ["q_id", "n_id", "sim", "rank"]
    assert none.count() == 0


def test_cosine_near_dup_arrow_row_identical(spark, emb):
    """Blocked-matmul all-pairs must be ROW-identical to the expression
    fold (shared oracle contract), including the chunk boundaries."""
    a = sorted(
        map(tuple, similarity.cosine_near_dup_pairs(emb, threshold=0.4).collect())
    )
    b = sorted(
        map(
            tuple,
            similarity.cosine_near_dup_pairs_arrow(emb, threshold=0.4).collect(),
        )
    )
    assert a == b and len(a) > 0
    empty = similarity.cosine_near_dup_pairs_arrow(emb.filter("vec_id < 0"))
    assert empty.columns == ["id_a", "id_b", "sim"] and empty.count() == 0


def test_dedup_clusters_long_chain_converges(spark):
    """Large-star/small-star must close a path graph whose diameter far
    exceeds the round budget in O(log n) rounds (plain label
    propagation needs O(diameter) rounds and raised a convergence
    error on exactly this shape in the sf1-equivalent scaling study;
    a 200-node path closes in 9 alternation rounds)."""
    n = 200
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = dedup.dedup_clusters(ids, chain, max_iters=10).collect()
    assert all(r.cluster_id == 0 for r in out)
    assert sum(r.is_canonical for r in out) == 1


def test_spread_few_splits_conditional(spark):
    """r12 (VERDICT r11 item 5): the parallelism repartition in
    doc_shingle_sets / minhash_signatures must fire ONLY when the input
    has fewer partitions than defaultParallelism — on an already-ample
    input the full-corpus round-robin shuffle bought nothing at scale.
    Also pins result identity across both branches."""
    par = spark.sparkContext.defaultParallelism
    few = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(20)],
        "doc_id long, text string",
    ).coalesce(1)
    spread = dedup._spread_few_splits(few)
    assert spread.rdd.getNumPartitions() == par
    assert "Exchange" in spread._jdf.queryExecution().executedPlan().toString()

    ample = few.repartition(par + 4)
    kept = dedup._spread_few_splits(ample)
    assert kept.rdd.getNumPartitions() == par + 4
    assert kept is ample  # no extra Exchange appended

    a = sorted(map(tuple, dedup.doc_shingle_sets(few, "doc_id", "text", 3).collect()))
    b = sorted(map(tuple, dedup.doc_shingle_sets(ample, "doc_id", "text", 3).collect()))
    assert a == b and len(a) == 20


def test_observed_fingerprint_matches_agg(spark):
    """r12 regression pin for the CC-loop convergence fusion: the
    observed (in-action) fingerprint _observe_fingerprint collects
    during iterutil.materialize's eager checkpoint must equal the
    reference _edge_fingerprint aggregate on the same frame — count AND
    xor-of-xxhash64 — including on an EMPTY edge frame (bit_xor over
    zero rows is NULL; both paths must coalesce it to 0). If a Spark
    upgrade stops eager checkpoints firing observed metrics, the getter
    would block — pytest-level hang — or convergence would break; this
    test is the early tripwire."""
    from trino_demo_spark.iterutil import materialize

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (1, 2)], "u long, v long"
    ).distinct()
    observed, get = dedup._observe_fingerprint(e)
    ck = materialize(observed)
    assert get(ck) == dedup._edge_fingerprint(ck)

    empty = spark.createDataFrame([], "u long, v long")
    observed0, get0 = dedup._observe_fingerprint(empty)
    ck0 = materialize(observed0)
    assert get0(ck0) == dedup._edge_fingerprint(ck0) == (0, 0)


def test_observed_fingerprint_bounded_when_metrics_never_fire(
    spark, monkeypatch, caplog
):
    """Observation.get blocks forever when the observed metrics never
    fire. The getter must instead give up after _OBSERVE_WAIT_S, log a
    warning, and return the aggregate fingerprint of the frame it is
    handed — here the observed frame's action is never run at all."""
    import logging
    import time

    monkeypatch.setattr(dedup, "_OBSERVE_WAIT_S", 0.5)
    e = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "u long, v long")
    _observed, get = dedup._observe_fingerprint(e)
    t0 = time.monotonic()
    with caplog.at_level(logging.WARNING, logger=dedup.__name__):
        got = get(e)
    assert time.monotonic() - t0 < 30
    assert got == dedup._edge_fingerprint(e)
    assert got[0] == 3
    assert any("did not arrive" in r.getMessage() for r in caplog.records)


def test_capped_jaccard_keeps_exact_dup_clusters(spark):
    """df capping must never drop exact-duplicate clusters: under
    raw-document df, a 100-copy cluster with df_max=5 lost every
    shingle and produced ZERO pairs. df is now counted over distinct
    shingle-sets and identical-set pairs bypass the posting lists, so
    all C(100,2) pairs survive at Jaccard exactly 1.0."""
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.ngram_jaccard_pairs_capped(docs, df_max=5)
    assert out.count() == 100 * 99 // 2
    assert out.filter("jaccard != 1.0").count() == 0


def test_dedup_clusters_adversarial_shapes_converge(spark):
    """Convergence-margin gate for the shapes that stress large-star/
    small-star differently (the random union-find property test rarely
    generates them): a 1000-node path with the component MINIMUM at the
    far end (labels must traverse the whole diameter — worst case for
    propagation-style algorithms and 5× the existing 200-node gate), a
    1000-leaf star centered at the HIGHEST id (one giant duplicate
    cluster, the common real-corpus shape), and two 100-cliques joined
    by a single bridge edge (dense locals + one global merge). All must
    close well inside dedup_clusters' max_iters=25 default — asserted
    at 15 to pin the safety margin — with cluster id = component min
    and exactly one canonical per component."""
    n = 1000
    # path i—i+1 but RELABELED so node i carries id (n-1-i): the min id
    # (0) sits at the far end of the diameter
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    path = spark.createDataFrame(
        [(n - 1 - i, n - 1 - (i + 1)) for i in range(n - 1)],
        "id_a long, id_b long",
    )
    out = dedup.dedup_clusters(ids, path, max_iters=15).collect()
    assert all(r.cluster_id == 0 for r in out)
    assert sum(r.is_canonical for r in out) == 1

    star = spark.createDataFrame(
        [(n - 1, i) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = dedup.dedup_clusters(ids, star, max_iters=15).collect()
    assert all(r.cluster_id == 0 for r in out)
    assert sum(r.is_canonical for r in out) == 1

    m = 100
    ids2 = spark.createDataFrame([(i,) for i in range(2 * m)], "doc_id long")
    cliq = (
        [(a, b) for a in range(m) for b in range(a + 1, m)]
        + [(m + a, m + b) for a in range(m) for b in range(a + 1, m)]
        + [(m - 1, m)]  # the bridge
    )
    pairs2 = spark.createDataFrame(cliq, "id_a long, id_b long")
    out2 = dedup.dedup_clusters(ids2, pairs2, max_iters=15).collect()
    assert all(r.cluster_id == 0 for r in out2)
    assert sum(r.is_canonical for r in out2) == 1


def test_flac_roundtrip_all_shapes():
    """FLAC: bit-exact decode(encode(pcm)) across mono/stereo, all
    three stereo decorrelations, LPC and fixed subframes, constant
    blocks, full-scale extremes, odd tail blocks; STREAMINFO MD5 and
    both CRCs verified by the decoder on every path."""
    import math

    from trino_demo_spark.llm import flac

    mono = [
        int(1800 * math.sin(i / 7.0)) + (i * 5) % 97 - 48 for i in range(1000)
    ]
    dec = flac.decode_flac(flac.encode_flac([mono], 8000))
    assert dec["samples"][0] == mono
    assert dec["md5_ok"] and dec["n_samples"] == 1000 and dec["channels"] == 1

    left = [int(3000 * math.sin(i / 11.0)) for i in range(997)]
    right = [int(2000 * math.cos(i / 5.0)) + (i % 7) for i in range(997)]
    for use_lpc in (False, True):
        dec = flac.decode_flac(
            flac.encode_flac([left, right], 44100, use_lpc=use_lpc)
        )
        assert dec["samples"] == [left, right]
        assert dec["md5_ok"] and dec["sample_rate"] == 44100
        # 4 blocks of 256 over 997 samples -> cycles ms/ls/rs/indep
        assert dec["n_frames"] == 4

    flat = flac.decode_flac(flac.encode_flac([[42] * 512], 8000))
    assert flat["samples"][0] == [42] * 512 and flat["md5_ok"]

    ext = [32767, -32768] * 300
    dec = flac.decode_flac(flac.encode_flac([ext], 8000))
    assert dec["samples"][0] == ext and dec["md5_ok"]

    # rice efficiency pin: smooth signals must beat raw PCM16
    assert len(flac.encode_flac([mono], 8000)) < 2 * len(mono)


def test_flac_error_contracts():
    """FLAC contracts: truncation at every structural boundary, CRC
    corruption, non-FLAC payloads, unsupported encode shapes."""
    import pytest as _pytest

    from trino_demo_spark.llm import flac

    enc = flac.encode_flac([list(range(500))], 8000)
    for cut in (3, 10, 30, 44, len(enc) - 2):
        with _pytest.raises(NotImplementedError):
            flac.decode_flac(enc[:cut])
    with _pytest.raises(NotImplementedError, match="not a FLAC"):
        flac.decode_flac(b"RIFF" + enc[4:])
    # flip a bit in the first frame header -> CRC-8 catches it
    hdr_pos = 4 + 4 + 34  # magic + metadata header + STREAMINFO
    bad = bytearray(enc)
    bad[hdr_pos + 2] ^= 0x04
    with _pytest.raises(NotImplementedError):
        flac.decode_flac(bytes(bad))
    # flip a bit deep in a frame body -> CRC-16 catches it
    bad = bytearray(enc)
    bad[len(enc) // 2] ^= 0x10
    with _pytest.raises(NotImplementedError):
        flac.decode_flac(bytes(bad))
    with _pytest.raises(NotImplementedError, match="mono/stereo"):
        flac.encode_flac([[0], [0], [0]], 8000)
    with _pytest.raises(NotImplementedError, match="16-bit"):
        flac.encode_flac([[0]], 8000, bps=24)
    with _pytest.raises(ValueError, match="length mismatch"):
        flac.encode_flac([[0, 1], [0]], 8000)


def test_mp4_mux_demux_tables():
    """MP4: the box walk expands stts/stsc/stsz/stco exactly — every
    sample slices back byte-identical with the right dts across
    multi-sample chunks and varying durations; largesize (64-bit)
    boxes walk; truncations and table inconsistencies surface."""
    import struct

    import pytest as _pytest

    from trino_demo_spark.llm import mp4

    samples = [bytes([i]) * (10 + 7 * i) for i in range(7)]
    durs = [1000 + 100 * i for i in range(7)]
    enc = mp4.encode_mp4_samples(samples, durs, timescale=30000)
    d = mp4.mp4_demux(enc)
    assert d["codec"] == "jpeg" and d["timescale"] == 30000
    assert d["n_samples"] == 7 and d["duration"] == sum(durs)
    assert d["n_chunks"] == 3  # 3,2 pattern over 7 -> 3+2+2
    for i, s in enumerate(d["samples"]):
        assert s["data"] == samples[i]
        assert s["dts"] == sum(durs[:i])

    # uniform durations compress to one stts run and still expand
    d2 = mp4.mp4_demux(mp4.encode_mp4_samples(samples, [500] * 7))
    assert [s["dts"] for s in d2["samples"]] == [500 * i for i in range(7)]

    # 64-bit largesize ftyp box: the walk handles it (offsets shift,
    # so rebuild stco by +8 to keep slices valid)
    ft_len = struct.unpack(">I", enc[:4])[0]
    large = (
        struct.pack(">I", 1) + b"ftyp" + struct.pack(">Q", ft_len + 8)
        + enc[8:ft_len]
    )
    shifted = bytearray(large + enc[ft_len:])
    stco_at = bytes(shifted).find(b"stco")
    n = struct.unpack(">I", bytes(shifted[stco_at + 8 : stco_at + 12]))[0]
    for i in range(n):
        p = stco_at + 12 + 4 * i
        off = struct.unpack(">I", bytes(shifted[p : p + 4]))[0]
        shifted[p : p + 4] = struct.pack(">I", off + 8)
    d3 = mp4.mp4_demux(bytes(shifted))
    assert [s["data"] for s in d3["samples"]] == samples

    for cut in (4, 30, len(enc) // 2, len(enc) - 3):
        with _pytest.raises(NotImplementedError):
            mp4.mp4_demux(enc[:cut])
    bad = bytearray(enc)
    p = bytes(bad).find(b"stco") + 12
    bad[p : p + 4] = struct.pack(">I", len(enc))
    with _pytest.raises(NotImplementedError, match="past EOF"):
        mp4.mp4_demux(bytes(bad))
    with _pytest.raises(NotImplementedError, match="without moov"):
        mp4.mp4_demux(enc[: struct.unpack(">I", enc[:4])[0]])
    with _pytest.raises(ValueError):
        mp4.encode_mp4_samples([], [])


def test_mp4_frame_sample_route():
    """frame_sample routes ftyp payloads through the MP4 demux: sampled
    frames decode bit-identical to standalone encodings."""
    from trino_demo_spark.llm import jpeg, mp4

    encs = []
    for j in range(5):
        w, h = 6 + j, 5 + j
        px = bytes(
            (40 + 3 * x + 5 * y + j * 11) % 256
            for y in range(h)
            for x in range(w)
        )
        encs.append(jpeg.encode_jpeg_gray(w, h, px))
    stream = mp4.encode_mp4_samples(encs, [100] * 5)
    out = multimodal.frame_sample(stream, 2)
    assert [f["frame_idx"] for f in out] == [0, 2, 4]
    for f in out:
        assert f["pixels"] == jpeg.decode_jpeg(encs[f["frame_idx"]])["pixels"]


def test_webm_mux_demux_lacing():
    """Matroska: the EBML walk expands clusters and Xiph lacing exactly
    — every frame slices back byte-identical, laced frames share their
    block timestamp, the unknown-size Segment walks to EOF, the Void
    element is skipped, and truncations surface as the declared
    contract."""
    import pytest as _pytest

    from trino_demo_spark.llm import webm

    frames = [bytes([i]) * (50 + 37 * i) for i in range(7)]
    pts = [40 * j + j * (j - 1) for j in range(7)]
    enc = webm.encode_webm_frames(frames, pts, width=6, height=5)
    d = webm.webm_demux(enc)
    assert d["codec_id"] == "V_MJPEG"
    assert d["timestamp_scale"] == 1_000_000
    assert (d["width"], d["height"]) == (6, 5)
    assert [s["data"] for s in d["samples"]] == frames
    # lacing pts rule: cluster positions 1.. share the first laced pts
    expect_pts = [
        pts[j] if j % 3 != 2 else pts[j - 1] for j in range(7)
    ]
    assert [s["pts"] for s in d["samples"]] == expect_pts
    assert all(s["keyframe"] for s in d["samples"])

    # a frame whose length needs multiple 255-run lacing bytes
    big = [bytes(600), b"x" * 255, b"y" * 10]
    d2 = webm.webm_demux(
        webm.encode_webm_frames(big, [0, 10, 20], cluster_every=3)
    )
    assert [s["data"] for s in d2["samples"]] == big

    # every frame solo (lace path off): same expansion
    d3 = webm.webm_demux(
        webm.encode_webm_frames(frames, pts, cluster_every=1)
    )
    assert [s["data"] for s in d3["samples"]] == frames
    assert [s["pts"] for s in d3["samples"]] == pts

    for cut in (2, 20, len(enc) // 2, len(enc) - 3):
        with _pytest.raises(NotImplementedError):
            webm.webm_demux(enc[:cut])
    with _pytest.raises(NotImplementedError, match="DocType"):
        webm.webm_demux(
            enc.replace(b"matroska", b"notroska", 1)
        )
    with _pytest.raises(NotImplementedError, match="EBML"):
        webm.webm_demux(b"\x00\x01\x02\x03" + enc)
    with _pytest.raises(ValueError):
        webm.encode_webm_frames([], [])


def test_webm_frame_sample_route():
    """frame_sample routes EBML payloads through the Matroska demux:
    sampled frames decode bit-identical to standalone encodings, and
    non-MJPEG codec ids raise the declared VPx stub."""
    import pytest as _pytest

    from trino_demo_spark.llm import jpeg, webm

    encs = []
    for j in range(5):
        w, h = 6 + j, 5 + j
        px = bytes(
            (40 + 3 * x + 5 * y + j * 11) % 256
            for y in range(h)
            for x in range(w)
        )
        encs.append(jpeg.encode_jpeg_gray(w, h, px))
    stream = webm.encode_webm_frames(encs, [40 * j for j in range(5)])
    out = multimodal.frame_sample(stream, 2)
    assert [f["frame_idx"] for f in out] == [0, 2, 4]
    for f in out:
        assert f["pixels"] == jpeg.decode_jpeg(encs[f["frame_idx"]])["pixels"]

    vpx = webm.encode_webm_frames(encs, [0, 1, 2, 3, 4], codec_id="V_VP9")
    with _pytest.raises(NotImplementedError, match="V_VP9"):
        multimodal.frame_sample(vpx, 2)


def test_ogg_mux_demux_spanning_crc():
    """Ogg: pages verify the real unreflected CRC-32, packets
    reassemble byte-identical across page boundaries (255-run lacing +
    continued flags), granule positions follow RFC 3533
    page-completion semantics, and framing violations surface."""
    import struct

    import pytest as _pytest

    from trino_demo_spark.llm import ogg

    # known-vector check pins the polynomial/reflection choice: the
    # Ogg CRC of "OggS" must differ from zlib's reflected crc32
    import zlib

    assert ogg.ogg_crc(b"OggS") != zlib.crc32(b"OggS")
    assert ogg.ogg_crc(b"") == 0

    pkts = [
        bytes((7 * i + 11 * j) % 256 for i in range(100 + 300 * (j % 3)))
        for j in range(8)
    ]
    grans = [960 * (j + 1) for j in range(8)]
    enc = ogg.encode_ogg_opus(
        pkts, grans, channels=1, pre_skip=99, max_segments_per_page=3
    )
    d = ogg.ogg_demux(enc)
    assert (d["channels"], d["pre_skip"], d["input_sample_rate"]) == (1, 99, 48000)
    audio = d["packets"][2:]
    assert [p["data"] for p in audio] == pkts
    # a page that completes no packet never donates a granule; ones
    # that do carry the LAST completed packet's granule
    for p in audio:
        assert p["granule"] in grans

    # exact multiple of 255 ends with an explicit 0 lacing value
    d2 = ogg.ogg_demux(ogg.encode_ogg_opus([bytes(510)], [960]))
    assert d2["packets"][2]["size"] == 510

    # corrupt one body byte -> CRC mismatch
    bad = bytearray(enc)
    bad[-1] ^= 0xFF
    with _pytest.raises(NotImplementedError, match="CRC"):
        ogg.ogg_demux(bytes(bad))
    # bad capture pattern
    with _pytest.raises(NotImplementedError, match="capture"):
        ogg.ogg_demux(b"NotO" + enc[4:])
    # drop a whole middle page -> sequence gap (find page 2's offset
    # by walking lengths from the demuxer's own framing)
    p2 = enc.find(b"OggS", 4)
    p3 = enc.find(b"OggS", p2 + 4)
    with _pytest.raises(NotImplementedError, match="sequence|continued"):
        ogg.ogg_demux(enc[:p2] + enc[p3:])
    # truncations
    for cut in (3, 20, len(enc) // 2 + 1):
        with _pytest.raises(NotImplementedError):
            ogg.ogg_demux(enc[:cut])
    # content tampering breaks the CRC before anything else (the CRC
    # guard outranks content checks — framing first)
    with _pytest.raises(NotImplementedError, match="CRC"):
        ogg.ogg_demux(
            ogg.encode_ogg_opus(pkts[:1], grans[:1]).replace(
                b"OpusHead", b"Vorbis!!", 1
            )
        )
    # a VALIDLY-framed stream whose first packet isn't OpusHead is
    # rejected by the content check
    not_opus = b"Vorbis!!rest"
    with _pytest.raises(NotImplementedError, match="OpusHead"):
        ogg.ogg_demux(
            ogg._page(0x02, 0, 1, 0, bytes(ogg._lacing(not_opus)), not_opus)
        )
    with _pytest.raises(ValueError):
        ogg.encode_ogg_opus([], [])


def test_warc_roundtrip_and_contracts():
    """WARC: the Common-Crawl gzip layout (one member per record)
    round-trips byte-identically, bodies are sliced by Content-Length
    (a body containing 'WARC/1.0' must not confuse the reader), the
    inner HTTP message parses, and framing violations surface."""
    import pytest as _pytest

    from trino_demo_spark.llm import warc

    # a body that CONTAINS a WARC version line: slicing by length must
    # carry it through untouched
    hostile_body = b"prefix\r\nWARC/1.0\r\nContent-Length: 0\r\n\r\nsuffix"
    recs = [
        {
            "type": "warcinfo",
            "record_id": "<urn:uuid:1>",
            "date": "2024-01-01T00:00:00Z",
            "content_type": "application/warc-fields",
            "body": b"software: test\r\n",
        },
        {
            "type": "response",
            "record_id": "<urn:uuid:2>",
            "date": "2024-01-01T00:00:00Z",
            "uri": "https://a.example/x",
            "content_type": "application/http; msgtype=response",
            "body": warc.encode_http_response(
                200, "OK", "text/plain", hostile_body
            ),
        },
        {
            "type": "response",
            "record_id": "<urn:uuid:3>",
            "date": "2024-01-01T00:00:00Z",
            "uri": "https://b.example/y",
            "content_type": "application/http; msgtype=response",
            "body": warc.encode_http_response(404, "Not Found", "text/plain", b""),
        },
    ]
    gz = warc.encode_warc_gz(recs)
    d = warc.warc_records(gz)
    assert d["gzip_members"] == 3
    assert [r["type"] for r in d["records"]] == ["warcinfo", "response", "response"]
    http = warc.parse_http_response(d["records"][1]["body"])
    assert http["status"] == 200 and http["body"] == hostile_body
    assert warc.parse_http_response(d["records"][2]["body"])["status"] == 404
    # plain (uncompressed) form parses identically
    d2 = warc.warc_records(warc.encode_warc_records(recs))
    assert [r["body"] for r in d2["records"]] == [r["body"] for r in d["records"]]
    assert d2["gzip_members"] == 0
    # determinism: gzip members carry mtime=0
    assert gz == warc.encode_warc_gz(recs)

    plain = warc.encode_warc_records(recs)
    for cut in (3, 25, len(plain) - 2):
        with _pytest.raises(NotImplementedError):
            warc.warc_records(plain[:cut])
    with _pytest.raises(NotImplementedError, match="version"):
        warc.warc_records(b"HTTP/1.0\r\n\r\n")
    with _pytest.raises(NotImplementedError, match="gzip"):
        warc.warc_records(gz[: len(gz) // 2])
    # record without Content-Length
    bad = plain.replace(b"Content-Length", b"X-Content-Length", 1)
    with _pytest.raises(NotImplementedError, match="Content-Length"):
        warc.warc_records(bad)


def test_webdataset_tar_contracts():
    """ustar: checksum verified, 512-block padding exact, dot-key
    regrouping ordered, and framing violations surface."""
    import pytest as _pytest

    from trino_demo_spark.llm import webdataset as wds

    members = [
        ("000_0.ppm", b"P6\n2 1\n255\n" + bytes(6)),
        ("000_0.json", b'{"label": 3}'),
        ("000_0.txt", b"caption"),
        ("000_1.txt", bytes(512)),   # exactly one block: zero padding
        ("000_1.json", b"{}"),
    ]
    enc = wds.encode_tar(members)
    assert len(enc) % 512 == 0
    out = wds.tar_members(enc)
    assert [(m["name"], m["data"]) for m in out] == members
    samples = wds.webdataset_samples(enc)
    assert [s["__key__"] for s in samples] == ["000_0", "000_1"]
    assert samples[0]["txt"] == b"caption"
    assert set(samples[1]) == {"__key__", "txt", "json"}

    # corrupt one header byte -> checksum mismatch
    bad = bytearray(enc)
    bad[0] ^= 0xFF
    with _pytest.raises(NotImplementedError, match="checksum"):
        wds.tar_members(bytes(bad))
    # truncations: mid-header, mid-body, missing terminator blocks
    for cut in (100, 600, len(enc) - 700, len(enc) - 512):
        with _pytest.raises(NotImplementedError):
            wds.tar_members(enc[:cut])
    with _pytest.raises(ValueError):
        wds.encode_tar([("x" * 101, b"")])


def test_ogg_flac_mapping():
    """Ogg-FLAC (RFC 5334): BOS mapping packet parsed, frames
    packetized with frame-last-sample granules, PCM bit-exact through
    both layers, and a corrupted page surfaces via the Ogg CRC before
    FLAC ever sees the frame."""
    import math

    import pytest as _pytest

    from trino_demo_spark.llm import ogg

    ch0 = [int(900 * math.sin(i / 7.0)) + (i * 3) % 101 for i in range(600)]
    ch1 = [c - 50 for c in ch0]
    enc = ogg.encode_ogg_flac([ch0, ch1], 8000, block_size=256, use_lpc=True)
    d = ogg.decode_ogg_flac(enc)
    assert d["samples"] == [ch0, ch1] and d["md5_ok"]
    assert d["n_frame_packets"] == 3  # ceil(600/256)
    assert d["last_granule"] == 600

    meta = ogg.ogg_demux(enc)
    assert meta["codec"] == "flac"
    assert meta["mapping_version"] == (1, 0)
    assert meta["header_packets"] == 0

    bad = bytearray(enc)
    bad[-3] ^= 0xFF
    with _pytest.raises(NotImplementedError, match="CRC"):
        ogg.decode_ogg_flac(bytes(bad))
    # an Opus stream routed to the FLAC decode path is rejected
    opus = ogg.encode_ogg_opus([bytes(10)], [960])
    with _pytest.raises(NotImplementedError, match="Ogg-FLAC"):
        ogg.decode_ogg_flac(opus)


def test_zip_shard_cross_verified_with_stdlib():
    """ZIP: the central-directory walk is cross-verified BOTH
    directions against stdlib zipfile — our writer's archives read
    under zipfile, zipfile-written archives read under our walker —
    and framing violations (CRC, signatures, truncation, name
    mismatch, unknown method) surface as the declared contract."""
    import io
    import struct
    import zipfile

    import pytest as _pytest

    from trino_demo_spark.llm import zipshard as z

    members = [
        ("a.bin", bytes(range(80)), False),
        ("b.bin", bytes((7 * i) % 256 for i in range(513)), True),
        ("c.bin", b"", True),  # empty member
    ]
    enc = z.encode_zip(members)
    out = z.zip_members(enc)
    assert [(m["name"], m["data"]) for m in out] == [
        (n, d) for n, d, _ in members
    ]
    # our writer -> stdlib reader
    zf = zipfile.ZipFile(io.BytesIO(enc))
    assert [(i.filename, zf.read(i.filename)) for i in zf.infolist()] == [
        (n, d) for n, d, _ in members
    ]
    # stdlib writer -> our reader
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zw:
        zw.writestr("x.txt", b"hello world" * 30)
        zw.writestr("y.bin", bytes(500))
    got = z.zip_members(buf.getvalue())
    assert [(m["name"], m["data"]) for m in got] == [
        ("x.txt", b"hello world" * 30),
        ("y.bin", bytes(500)),
    ]

    # contracts
    bad = bytearray(enc)
    bad[40] ^= 0xFF
    with _pytest.raises(NotImplementedError, match="CRC|deflate"):
        z.zip_members(bytes(bad))
    with _pytest.raises(NotImplementedError, match="end-of-central"):
        z.zip_members(enc[: enc.rfind(b"PK\x05\x06")])
    # rename in the central dir only -> local/central mismatch
    bad2 = bytearray(enc)
    cd = bad2.find(b"PK\x01\x02")
    na = bytes(bad2).find(b"a.bin", cd)
    bad2[na : na + 5] = b"z.bin"
    with _pytest.raises(NotImplementedError, match="mismatch"):
        z.zip_members(bytes(bad2))
    # unsupported method in central dir
    bad3 = bytearray(enc)
    bad3[cd + 10 : cd + 12] = struct.pack("<H", 12)  # bzip2
    with _pytest.raises(NotImplementedError, match="method|mismatch|CRC"):
        z.zip_members(bytes(bad3))


def test_warc_hostile_content_length():
    """ADVICE r9: a crafted Content-Length (negative -> parse position
    moves backwards and the loop revisits the same offset forever;
    non-numeric -> bare ValueError) must fail the declared
    NotImplementedError contract instead. The parser runs on untrusted
    crawl shards inside executor tasks, so a hang is a task hang."""
    import pytest as _pytest

    from trino_demo_spark.llm import warc

    recs = [
        {
            "type": "response",
            "record_id": "<urn:uuid:1>",
            "date": "2024-01-01T00:00:00Z",
            "uri": "http://x/",
            "content_type": "application/http; msgtype=response",
            "body": warc.encode_http_response(200, "OK", "text/plain", b"hi"),
        }
    ]
    plain = warc.encode_warc_records(recs)
    # sanity: the well-formed record parses
    assert len(warc.warc_records(plain)["records"]) == 1

    def _with_clen(value: bytes) -> bytes:
        at = plain.find(b"Content-Length: ")
        end = plain.find(b"\r\n", at)
        return plain[: at + 16] + value + plain[end:]

    with _pytest.raises(NotImplementedError, match="negative"):
        warc.warc_records(_with_clen(b"-5"))
    with _pytest.raises(NotImplementedError, match="non-numeric"):
        warc.warc_records(_with_clen(b"xyz"))
    # the ~70-byte hostile shard from the advice shape: tiny record,
    # negative length -- must raise, not hang
    with _pytest.raises(NotImplementedError):
        warc.warc_records(
            b"WARC/1.0\r\nContent-Length: -4\r\n\r\n\r\n\r\n" * 2
        )


def test_zipshard_zip64():
    """ADVICE r9 → r10: zip64 is read for REAL (100 TB crawl shards
    routinely exceed the classic 65535-member / 4 GiB bounds), and
    malformed zip64 (sentinels with no locator, a locator pointing at
    garbage, a sentinel entry with no zip64 extra) fails with the named
    contract instead of looping over garbage central-directory bytes."""
    import io
    import struct
    import zipfile

    import pytest as _pytest

    from trino_demo_spark.llm import zipshard as z

    # a REAL zip64 archive: >65535 members forces the zip64 EOCD +
    # locator in the stdlib writer; our walker must read all of it
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zw:
        for i in range(65540):
            zw.writestr(f"m{i}", b"x")
    got = z.zip_members(buf.getvalue())
    assert len(got) == 65540
    assert got[0]["name"] == "m0" and got[65539]["name"] == "m65539"
    assert all(m["data"] == b"x" for m in (got[0], got[12345], got[65539]))

    # stdlib force_zip64 on a small member only adds a local-header
    # zip64 extra; the EOCD stays classic (no sentinels, no PK\x06\x06)
    # so the walker still reads it correctly -- pin that boundary.
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zw:
        with zw.open("big.bin", "w", force_zip64=True) as f:
            f.write(b"payload")
    got = z.zip_members(buf.getvalue())
    assert [(m["name"], m["data"]) for m in got] == [("big.bin", b"payload")]

    # a central entry with a sentinel offset resolved via the zip64
    # extra block (hand-crafted: APPNOTE 4.5.3 order, only overflowed
    # fields present)
    enc = z.encode_zip([("a.bin", b"data-zip64", False)])
    cd = enc.find(b"PK\x01\x02")
    eocd = enc.rfind(b"PK\x05\x06")
    (real_off,) = struct.unpack("<I", enc[cd + 42 : cd + 46])
    patched = bytearray(enc[:eocd])
    patched[cd + 42 : cd + 46] = struct.pack("<I", 0xFFFFFFFF)  # offset sentinel
    patched[cd + 30 : cd + 32] = struct.pack("<H", 12)  # xlen
    # append the zip64 extra after the name (end of this central entry)
    patched += struct.pack("<HHQ", 0x0001, 8, real_off)
    cd_size = len(patched) - cd
    eocd_rec = bytearray(enc[eocd:])
    eocd_rec[12:16] = struct.pack("<I", cd_size)
    patched += eocd_rec
    got = z.zip_members(bytes(patched))
    assert [(m["name"], m["data"]) for m in got] == [("a.bin", b"data-zip64")]

    # malformed: sentinel-only EOCD fields with NO locator
    enc = z.encode_zip([("a.bin", b"data", True)])
    eocd = enc.rfind(b"PK\x05\x06")
    for off, fmt, val in (
        (eocd + 8, "<HH", (0xFFFF, 0xFFFF)),  # n_here + n_total
        (eocd + 12, "<I", (0xFFFFFFFF,)),  # cd_size
        (eocd + 16, "<I", (0xFFFFFFFF,)),  # cd_offset
    ):
        bad = bytearray(enc)
        bad[off : off + struct.calcsize(fmt)] = struct.pack(fmt, *val)
        with _pytest.raises(NotImplementedError, match="zip64"):
            z.zip_members(bytes(bad))

    # malformed: a locator whose zip64-EOCD offset points at garbage
    loc = b"PK\x06\x07" + bytes(16)
    with_loc = enc[:eocd] + loc + enc[eocd:]
    with _pytest.raises(NotImplementedError, match="zip64"):
        z.zip_members(with_loc)

    # malformed: sentinel central field with no zip64 extra block
    bad2 = bytearray(enc)
    cd = bad2.find(b"PK\x01\x02")
    bad2[cd + 42 : cd + 46] = struct.pack("<I", 0xFFFFFFFF)
    with _pytest.raises(NotImplementedError, match="zip64"):
        z.zip_members(bytes(bad2))


def test_zipshard_zip64_full_block_layout():
    """ADVICE r10: some real-world writers (Java/Info-ZIP variants) emit
    the FULL zip64 extra block (usize, csize, offset unconditionally)
    even when only one classic field is the sentinel. The spec-strict
    sequential read would pull usize's bytes as the offset and fail the
    local-header check; the positional fallback must read offset@16.
    A block length matching NEITHER layout still fails fast."""
    import struct

    import pytest as _pytest

    from trino_demo_spark.llm import zipshard as z

    def patch_central(enc, xlen, extra):
        cd = enc.find(b"PK\x01\x02")
        eocd = enc.rfind(b"PK\x05\x06")
        (real_off,) = struct.unpack("<I", enc[cd + 42 : cd + 46])
        (real_csize,) = struct.unpack("<I", enc[cd + 24 : cd + 28])
        (real_usize,) = struct.unpack("<I", enc[cd + 28 : cd + 32])
        patched = bytearray(enc[:eocd])
        patched[cd + 42 : cd + 46] = struct.pack("<I", 0xFFFFFFFF)  # offset
        patched[cd + 30 : cd + 32] = struct.pack("<H", xlen + 4)
        patched += struct.pack("<HH", 0x0001, xlen) + extra(
            real_usize, real_csize, real_off
        )
        cd_size = len(patched) - cd
        eocd_rec = bytearray(enc[eocd:])
        eocd_rec[12:16] = struct.pack("<I", cd_size)
        return bytes(patched + eocd_rec)

    enc = z.encode_zip([("full.bin", b"full-block-layout", False)])

    # full 24-byte block (usize, csize, offset) — offset is positional
    got = z.zip_members(
        patch_central(enc, 24, lambda u, c, o: struct.pack("<QQQ", u, c, o))
    )
    assert [(m["name"], m["data"]) for m in got] == [
        ("full.bin", b"full-block-layout")
    ]

    # full 28-byte block (+ 4-byte disk number)
    got = z.zip_members(
        patch_central(
            enc, 28, lambda u, c, o: struct.pack("<QQQI", u, c, o, 0)
        )
    )
    assert [(m["name"], m["data"]) for m in got] == [
        ("full.bin", b"full-block-layout")
    ]

    # a 16-byte block cannot positionally contain the offset (needs @16)
    # and doesn't match the 8-byte spec-strict layout either — fail fast
    with _pytest.raises(NotImplementedError, match="zip64 extra block"):
        z.zip_members(
            patch_central(enc, 16, lambda u, c, o: struct.pack("<QQ", u, c))
        )


def test_cosine_near_dup_rejects_nonpositive_threshold(spark):
    """ADVICE r10: the collapse rewrite excludes zero-norm vectors from
    pair generation, so threshold <= 0 can no longer reproduce the old
    guarded-divide behavior (zero-norm pairs at sim 0.0) — both brute
    baselines must reject it loudly instead of silently under-returning."""
    import pytest as _pytest

    from trino_demo_spark.llm import similarity

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    for fn in (
        similarity.cosine_near_dup_pairs,
        similarity.cosine_near_dup_pairs_arrow,
    ):
        with _pytest.raises(ValueError, match="threshold > 0"):
            fn(emb, threshold=0.0)
        with _pytest.raises(ValueError, match="threshold > 0"):
            fn(emb, threshold=-0.5)


def test_cosine_near_dup_collapse_duplicates_and_zeros(spark):
    """r10 collapse rewrite of the brute baseline: bit-identical vectors
    must pair at exactly sim 1.0 (within-group emission), cross-group
    expansion must carry the rep-pair sim to every member combination,
    and identical ZERO vectors must emit no pairs at all (no cosine
    geometry — the naive guarded divide yields 0.0, not 1.0)."""
    from pyspark.sql import functions as F

    base = [float(i % 7 + 1) for i in range(64)]
    other = [float((i * 3) % 5 + 1) for i in range(64)]
    rows = [
        (1, base),
        (2, base),          # duplicate of 1
        (3, base),          # duplicate of 1
        (4, other),
        (5, [x * 2.0 for x in other]),  # same direction as 4 -> cos 1.0
        (6, [0.0] * 64),
        (7, [0.0] * 64),    # identical zero vectors: NO pair
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b): r.sim
        for r in similarity.cosine_near_dup_pairs(
            df, threshold=0.95, dim=64
        ).collect()
    }
    assert got == {(1, 2): 1.0, (1, 3): 1.0, (2, 3): 1.0, (4, 5): 1.0}
    # a scaled copy is a distinct vector: the (4,5) pair must come from
    # the cross-group rep join, not the within-group branch
    assert (6, 7) not in got


def test_lsh_edges_cluster_equivalent_to_pairs(spark, emb):
    """r10: cosine_near_dup_edges_lsh (rep-member stars + rep threshold
    edges) must produce EXACTLY the clusters the full pair contract
    produces — connectivity equivalence — on a corpus with planted
    near-dups AND duplicated vectors (multiplicity 3)."""
    from pyspark.sql import functions as F

    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    ).filter(F.col("vec_id") < 60)
    # multiplicity-3 replicas (ids +1000, +2000) and 5 planted near-dups
    aug = base
    for off in (1000, 2000):
        aug = aug.unionByName(
            base.select((F.col("vec_id") + off).alias("vec_id"), "embedding")
        )
    aug = aug.unionByName(
        base.filter(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 5000).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> x * (1.0 + 0.001 * (i % 7)))"
            ).alias("embedding"),
        )
    )
    ids = aug.select(F.col("vec_id").alias("doc_id"))
    pairs = similarity.cosine_near_dup_pairs_lsh(aug, threshold=0.95).select(
        "id_a", "id_b"
    )
    edges = similarity.cosine_near_dup_edges_lsh(aug, threshold=0.95)
    via_pairs = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in dedup.dedup_clusters(ids, pairs).collect()
    }
    via_edges = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in dedup.dedup_clusters(ids, edges).collect()
    }
    assert via_edges == via_pairs and len(via_edges) == 185
    # the edge frame is the linear one: stars (2 per group of 3) + rep
    # pairs; the pair contract's within-group C(3,2)=3 per group
    assert edges.count() < pairs.count()


def test_ngram_edges_cluster_equivalent_to_pairs(spark, sf_dir):
    """r11: ngram_jaccard_edges (rep-member stars + rep-level threshold
    Jaccard pairs) must produce EXACTLY the clusters the full pair
    contract produces — the text twin of the r10 LSH edge-frame pin —
    on a corpus with duplicated texts (multiplicity 3) AND planted
    cross-text near-dups, and with a stats hook confirming both CC runs
    report their round count."""
    from pyspark.sql import functions as F

    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 80)
    )
    aug = base
    for off in (100000, 200000):  # identical-text replicas
        aug = aug.unionByName(
            base.select((F.col("doc_id") + off).alias("doc_id"), "text")
        )
    # planted near-dups: same text with one token appended (high Jaccard)
    aug = aug.unionByName(
        base.filter(F.col("doc_id") < 8).select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" appended")).alias("text"),
        )
    )
    pairs = dedup.ngram_jaccard_pairs(aug, threshold=0.5).select("id_a", "id_b")
    edges = dedup.ngram_jaccard_edges(aug, threshold=0.5)
    st_p, st_e = {}, {}
    via_pairs = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in dedup.dedup_clusters(aug, pairs, stats=st_p).collect()
    }
    via_edges = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in dedup.dedup_clusters(aug, edges, stats=st_e).collect()
    }
    assert via_edges == via_pairs
    assert len(via_edges) == aug.count()
    # multiplicity-3 groups exist, so some cluster must be non-trivial
    assert sum(1 for (_, _, canon) in via_edges if not canon) > 0
    # the edge frame is the linear representation
    assert edges.count() < pairs.count()
    # the r11 stats hook reports the O(log² n) round count
    assert st_p["rounds"] >= 1 and st_e["rounds"] >= 1


def test_pack_sequences_group_larger_than_arrow_batch(spark):
    """r10 (found by the sf1 oracle sweep the day its exclusion was
    retired): Spark 4.1's iterator grouped-map form streams ONE group
    as multiple Arrow batches (default 10k rows); the greedy fill must
    fold across ALL of them — the old per-batch fold silently reset
    bin_id/fill at every batch boundary, wrong for any group > 10k
    rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    from trino_demo_spark.llm import packing

    df = spark.range(25000).select(
        F.lit("en").alias("lang"),
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.array_repeat(F.lit("w"), (F.col("id") % 100 + 1).cast("int"))
        ).alias("text"),
    )
    out = (
        packing.pack_sequences(df, budget=256, group_col="lang")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    n = [i % 100 + 1 for i in range(25000)]
    bin_id, fill, bins, offs = 0, 0, [], []
    for x in n:
        if fill > 0 and fill + x > 256:
            bin_id += 1
            fill = 0
        bins.append(bin_id)
        offs.append(fill)
        fill += x
        if fill >= 256:
            bin_id += 1
            fill = 0
    assert (out["bin_id"] == pd.Series(bins)).all()
    assert (out["offset"] == pd.Series(offs)).all()
    # the group genuinely spanned multiple bins past one Arrow batch
    assert out["bin_id"].max() == max(bins) > 5000


def test_als_fit_distributed_recovers_low_rank(spark):
    """r10: the fully distributed ALS (both factor frames DataFrames,
    closed-form 2x2 solves both half-steps, no driver state) must
    recover the same planted rank-2 matrix the driver-map teaching op
    does, and its final user factors must be the exact ridge solution
    against its returned item factors (mutual consistency contract)."""
    import numpy as np

    from trino_demo_spark.ml import als_fit_distributed, als_rmse_distributed

    rng = np.random.RandomState(3)
    U = rng.rand(12, 2) + 0.5
    Q = rng.rand(2, 4) + 0.5
    R = U @ Q
    rows = [
        (u, f"item{i}", float(R[u, i]))
        for u in range(12)
        for i in range(4)
        if (u + i) % 5 != 0
    ]
    ratings = spark.createDataFrame(
        rows, "user_id int, item string, rating double"
    )
    item_f, users = als_fit_distributed(ratings, iters=8, lamb=0.01)
    rmse = als_rmse_distributed(ratings, item_f, users)
    vals = np.array([r[2] for r in rows])
    assert rmse < 0.15 * float(vals.std())  # rank-2 data: near-exact
    # mutual consistency: user row == numpy ridge solve vs item frame
    q = {r["item"]: (r["q1"], r["q2"]) for r in item_f.collect()}
    uid = 3
    A = np.eye(2) * 0.01
    b = np.zeros(2)
    for it, r in ((it, r) for (u, it, r) in rows if u == uid):
        qv = np.array(q[it])
        A += np.outer(qv, qv)
        b += qv * r
    want = np.linalg.solve(A, b)
    got = users.filter(F.col("user_id") == uid).collect()[0]
    assert [got["u1"], got["u2"]] == pytest.approx(want.tolist(), rel=1e-9)
    # no-ratings boundary: empty factor frames, not a crash
    empty = ratings.filter("user_id < 0")
    ef, eu = als_fit_distributed(empty, iters=2)
    assert ef.count() == 0 and eu.count() == 0


def test_als_zero_variance_baseline_degenerate(spark, tmp_path):
    """ADVICE r10: when every per-(user,item) mean rating is identical,
    stddev_pop == 0.0 and ridge-regularized ALS cannot reach
    rmse < 1e-9 — the oracle's hardcoded TRUE must be mirrored by
    treating base <= 1e-9 as degenerate (beats=True) in BOTH ALS
    entries, not failed by construction."""
    from trino_demo_spark import parity_ml  # noqa: F401  (registers entries)
    from trino_demo_spark.parity import PARITY

    ev = spark.createDataFrame(
        [
            (i, None, i % 4, f"t{i % 3}", 7.5, None)
            for i in range(24)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    ev.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    for name in ("ml_als_recommend", "ml_als_recommend_dist"):
        row = PARITY[name].fn(spark, str(tmp_path)).collect()[0]
        assert row["baseline_rmse"] == 0.0, name
        assert row["als_beats_baseline"] is True, name
