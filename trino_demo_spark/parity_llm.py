"""LLM-data-pipeline parity entries (SURVEY.md §2.10) over the
`documents` / `embeddings` testdata tables.

Oracle-backed where SQL-expressible; MinHash/SimHash/LSH candidate
generation uses engine hashing with no DuckDB equivalent → registered
without oracle (driver records rows-only checks, as the contract allows).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .llm import dedup, mixing, multimodal, packing, similarity, text
from .operators import relational as rel_ops
from .parity import EPS, _t, parity, r_

# Shared SQL fragments so the oracle tokenization matches
# llm.dedup.tokens_col exactly. trim is pinned to ASCII space: DuckDB's
# bare trim() strips Unicode whitespace (NBSP etc.) while Spark's trim
# strips only ' ' — a corpus containing U+00A0 diverges otherwise.
_TOK = "regexp_split_to_array(trim(text, ' '), '\\s+')"

def _json_escape_sql(expr: str) -> str:
    """DuckDB expression reproducing Jackson's (Spark to_json) JSON
    string escaping exactly: backslash and quote first, then \\b \\t
    \\n \\f \\r short forms, every other char < 0x20 as \\u00XX with
    UPPERCASE hex (0x7F stays unescaped). A replace chain per char —
    verified against to_json over chr(0)..chr(31)+DEL; the previous
    5-char chain silently diverged on any control char outside
    \\t\\n\\r."""
    e = f"replace({expr}, chr(92), chr(92) || chr(92))"
    e = f"replace({e}, chr(34), chr(92) || chr(34))"
    short = {8: "b", 9: "t", 10: "n", 12: "f", 13: "r"}
    for c in range(32):
        rep = f"'\\{short[c]}'" if c in short else f"'\\u{c:04X}'"
        e = f"replace({e}, chr({c}), {rep})"
    return e


# Zero-norm vectors (real corpora carry them: padding rows, failed
# embedding calls) define cosine as 0, not a division error — COALESCE/
# NULLIF here, coalesce(try_divide) on the engine side.
_COS_SQL = """
WITH pairs AS (
  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
         COALESCE((SELECT SUM(CAST(q.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE))
          FROM range(1, 65) r(i)) /
         NULLIF(sqrt((SELECT SUM(CAST(q.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)) FROM range(1, 65) r(i))) *
          sqrt((SELECT SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)) FROM range(1, 65) r(i))), 0), 0) AS cos
  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
  WHERE q.vec_id < 20
    AND q.embedding IS NOT NULL AND len(q.embedding) = 64 AND len(list_filter(q.embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    AND e.embedding IS NOT NULL AND len(e.embedding) = 64 AND len(list_filter(e.embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
)
"""


@parity(
    "llm_dedup_exact",
    sql="""
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies, sha256(text) AS content_hash
    FROM documents GROUP BY text
    """,
    doc="Exact dedup: hash-groupBy on content, keep smallest id. sha2-256 "
    "emitted (identical hex across engines).",
)
def llm_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


# Shared prelude for the exact-Jaccard truth oracles (r11): identical-
# TEXT collapse — identical texts have identical distinct-shingle sets,
# so the posting self-join runs over DISTINCT texts only; within-group
# pairs are Jaccard exactly 1.0 (round(n/n + 1e-9, 4) = 1.0, the same
# argument the capped oracle proved green since r4) and cross-group
# pairs carry the rep-level value to every member combination. The
# per-doc join these oracles used before is quadratic in duplicate
# multiplicity: at sf10's 100-copy corpus it spilled 42GB of DuckDB
# temp before dying (r11 sweep) — the same failure the clusters oracle
# retired in r10. Row-identical output by construction.
_JACCARD_COLLAPSE_PRELUDE = f"""
    WITH tok AS (SELECT doc_id, text, {_TOK} AS t FROM documents),
    grp AS MATERIALIZED (
      SELECT text, MIN(doc_id) AS rep, list_sort(list(doc_id)) AS members,
             COUNT(*) AS m
      FROM tok WHERE text IS NOT NULL AND len(t) >= 3
      GROUP BY text),
    rtok AS (SELECT rep, {_TOK} AS t FROM grp),
    rng AS MATERIALIZED (SELECT DISTINCT rep,
                  t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS g
           FROM rtok, UNNEST(range(1, len(t) - 1)) u(i)),
    sizes AS MATERIALIZED (SELECT rep, COUNT(*) AS n FROM rng GROUP BY rep),
    inter AS MATERIALIZED (SELECT a.rep AS rep_a, b.rep AS rep_b, COUNT(*) AS common
              FROM rng a JOIN rng b ON a.g = b.g AND a.rep < b.rep
              GROUP BY 1, 2)"""


def _jaccard_truth_count_sql(threshold: float, select: str) -> str:
    """Collapsed exact-Jaccard ≥ threshold PAIR COUNT: within-group
    pairs contribute C(m,2) per identical-text group (Jaccard exactly
    1.0 ≥ any threshold ≤ 1.0), surviving rep pairs contribute
    |A|·|B| — counted directly from group sizes, no expansion at all."""
    return f"""{_JACCARD_COLLAPSE_PRELUDE},
    cp AS MATERIALIZED (SELECT rep_a, rep_b FROM inter
           JOIN sizes sa ON sa.rep = rep_a
           JOIN sizes sb ON sb.rep = rep_b
           WHERE (ROUND(common * 1.0 / (sa.n + sb.n - common) + 1e-9, 4) + 0.0) >= {threshold}),
    wcount AS (SELECT COALESCE(SUM(m * (m - 1) // 2), 0) AS c FROM grp),
    xcount AS (SELECT COALESCE(SUM(ga.m * gb.m), 0) AS c
               FROM cp JOIN grp ga ON ga.rep = rep_a
                       JOIN grp gb ON gb.rep = rep_b)
    SELECT CAST((SELECT c FROM wcount) + (SELECT c FROM xcount) AS BIGINT)
             AS {select}
    """


@parity(
    "llm_dedup_ngram",
    sql=f"""{_JACCARD_COLLAPSE_PRELUDE},
    mem AS MATERIALIZED (SELECT rep, UNNEST(members) AS mm FROM grp),
    within AS (SELECT a.mm AS id_a, b.mm AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
               FROM mem a JOIN mem b ON a.rep = b.rep AND a.mm < b.mm),
    cp AS MATERIALIZED (SELECT rep_a, rep_b,
                  (ROUND(common * 1.0 / (sa.n + sb.n - common) + 1e-9, 4) + 0.0) AS jaccard
           FROM inter
           JOIN sizes sa ON sa.rep = rep_a
           JOIN sizes sb ON sb.rep = rep_b
           WHERE (ROUND(common * 1.0 / (sa.n + sb.n - common) + 1e-9, 4) + 0.0) >= 0.1),
    crossx AS (SELECT LEAST(x.mm, y.mm) AS id_a, GREATEST(x.mm, y.mm) AS id_b, jaccard
               FROM cp JOIN mem x ON x.rep = rep_a
                       JOIN mem y ON y.rep = rep_b)
    SELECT * FROM within UNION ALL SELECT * FROM crossx
    """,
    doc="Exact word-3-gram Jaccard near-dup pairs (inverted-index "
    "self-join on the shingle; integer counts → bit-identical ratios). "
    "Oracle collapsed by identical text since r11 (threshold applied "
    "to rep pairs in their OWN CTE before member expansion — DuckDB "
    "does not push filters below unnest).",
)
def llm_dedup_ngram(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.1
    )


@parity(
    "llm_dedup_ngram_capped",
    sql=f"""
    WITH tok AS (SELECT doc_id, text, {_TOK} AS t FROM documents),
    tgrp AS MATERIALIZED (
      SELECT text, MIN(doc_id) AS trep, list_sort(list(doc_id)) AS members
      FROM tok WHERE text IS NOT NULL AND len(t) >= 3
      GROUP BY text),
    rtok AS (SELECT trep, {_TOK} AS t FROM tgrp),
    rng AS MATERIALIZED (SELECT DISTINCT trep,
                  t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS g
           FROM rtok, UNNEST(range(1, len(t) - 1)) u(i)),
    dss AS (SELECT trep, list_sort(list(g)) AS gs FROM rng GROUP BY trep),
    sgrp AS MATERIALIZED (SELECT gs, MIN(trep) AS rep, list(trep) AS treps,
                                 len(gs) AS n
            FROM dss GROUP BY gs),
    mem AS MATERIALIZED (
      SELECT sg.rep, tm.mm AS m
      FROM (SELECT rep, UNNEST(treps) AS trep FROM sgrp) sg
      JOIN (SELECT trep, UNNEST(members) AS mm FROM tgrp) tm USING (trep)),
    within AS (SELECT a.m AS id_a, b.m AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
               FROM mem a JOIN mem b ON a.rep = b.rep AND a.m < b.m),
    rg AS (SELECT rep, UNNEST(gs) AS g FROM sgrp),
    freq AS (SELECT g, COUNT(*) AS df FROM rg GROUP BY g),
    cold AS (SELECT rg.rep, rg.g FROM rg JOIN freq USING (g) WHERE df <= 5),
    inter AS MATERIALIZED (
              SELECT a.rep AS rep_a, b.rep AS rep_b, COUNT(*) AS common
              FROM cold a JOIN cold b ON a.g = b.g AND a.rep < b.rep
              GROUP BY 1, 2),
    cp AS MATERIALIZED (SELECT rep_a, rep_b,
                  (ROUND(common * 1.0 / (sa.n + sb.n - common) + 1e-9, 4) + 0.0) AS jaccard
           FROM inter
           JOIN sgrp sa ON sa.rep = rep_a
           JOIN sgrp sb ON sb.rep = rep_b
           WHERE (ROUND(common * 1.0 / (sa.n + sb.n - common) + 1e-9, 4) + 0.0) >= 0.1),
    crossx AS (SELECT LEAST(x.m, y.m) AS id_a, GREATEST(x.m, y.m) AS id_b, jaccard
               FROM cp JOIN mem x ON x.rep = rep_a
                       JOIN mem y ON y.rep = rep_b)
    SELECT * FROM within UNION ALL SELECT * FROM crossx
    """,
    doc="Hot-shingle-capped n-gram Jaccard (df_max=5) — the declared "
    "100 TB path for exact-Jaccard dedup: shingles whose document "
    "frequency exceeds df_max are dropped before the inverted-index "
    "self-join, bounding the worst shingle's contribution at df_max² "
    "join rows (a boilerplate shingle at 100 TB would alone produce "
    "O(df²) pairs). df is counted over DISTINCT shingle-sets (replica "
    "count isn't boilerplate-ness) and identical-set pairs bypass the "
    "posting lists entirely (Jaccard exactly 1.0) — with raw-doc df a "
    "100-copy exact-dup cluster under df_max=5 lost every shingle and "
    "produced ZERO pairs, a recall cliff on the highest-confidence "
    "duplicates. The union size stays uncapped, so Jaccard only "
    "underestimates for pairs sharing nothing but boilerplate — "
    "exactly the non-near-dups. Uncapped twin (llm_dedup_ngram) "
    "remains the exactness baseline. Oracle collapsed since r11: "
    "group by identical text first, then regroup the ~distinct texts "
    "by identical distinct-shingle-set (the per-doc shingle expansion "
    "+ list-keyed GROUP BY spilled >50 GB DuckDB temp at sf10); the "
    "set-level groups preserve the identical-set 1.0 fast path and "
    "the distinct-set df count exactly.",
)
def llm_dedup_ngram_capped(spark, sf_dir):
    return dedup.ngram_jaccard_pairs_capped(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.1, df_max=5
    )


@parity(
    "llm_dedup_minhash",
    sql=_jaccard_truth_count_sql(
        0.5, "n_exact_pairs, true AS recall_ok"
    ),
    doc="MinHash(32)+LSH(8 bands) near-dup candidates. Shuffle-bounded "
    "(groupBy band hash) — the 100 TB dedup path. Candidate pairs are "
    "engine-hash-specific, so the driver surface is a verdict: the "
    "oracle-checkable exact-Jaccard ≥ 0.5 pair count (recomputed "
    "engine-side by the exact n-gram op) plus a boolean asserting the "
    "LSH candidates recover ≥ 60% of those true pairs (S-curve recall "
    "at J≥0.5 with b=8/r=4; measured 0.96 at sf0.01 — the pairs are "
    "dominated by shingle-set-identical docs, which always collide). "
    "Raw candidates + recall curve stay tested in tests/test_llm.py.",
)


def llm_dedup_minhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    exact = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    cand = dedup.minhash_lsh_pairs(
        docs, num_perm=32, bands=8, threshold=0.3
    ).select("id_a", "id_b", F.lit(1).alias("__hit"))
    return (
        exact.join(cand, ["id_a", "id_b"], "left")
        .agg(
            F.count("*").alias("n_exact_pairs"),
            (
                # empty exact-pair set: sum() is NULL -> coalesce so the
                # verdict is (0 >= 0) = true, matching the oracle's
                # literal `true` (a corpus slice with no near-dups must
                # not fail the gate with recall_ok = NULL)
                F.coalesce(
                    F.sum(F.coalesce(F.col("__hit"), F.lit(0))), F.lit(0)
                )
                >= F.count("*") * F.lit(0.6)
            ).alias("recall_ok"),
        )
    )


@parity(
    "llm_dedup_minhash_pr",
    sql=_jaccard_truth_count_sql(
        0.5,
        "n_true_pairs,\n           true AS recall_ok,\n"
        "           true AS precision_exact,\n"
        "           true AS verified_nonempty",
    ),
    doc="MinHash-LSH precision/recall report vs exact n-gram Jaccard "
    "truth (VERDICT r6 §next-round-6b — the measured operating point "
    "behind the LSH S-curve claim). Truth = exact Jaccard ≥ 0.5 pairs; "
    "candidates = banded LSH at est ≥ 0.35 (b=8/r=4, 32 perms); "
    "verified = candidates passing EXACT shingle-set verification at "
    "J ≥ 0.5 (dedup.minhash_verified_pairs, the production two-stage "
    "shape). MEASURED: raw candidates recall 0.96 / precision 0.19 at "
    "sf0.01 and recall 0.98 / precision 0.02 at sf0.1 (precision falls "
    "with corpus size — noisy-estimate pairs grow quadratically, true "
    "pairs linearly); after verification precision is 1.0 BY "
    "CONSTRUCTION at unchanged recall (0 false positives at every "
    "measured SF; PERF.md r7). Driver surface: the oracle-checkable "
    "truth-pair count plus three verdict booleans — recall ≥ 0.85 of "
    "truth, verified ⊆ truth (exactness of the verification join), "
    "and a non-empty verified set (vacuously true when the corpus has "
    "no near-dups at all, e.g. the hostile corpora). One full-outer "
    "join computes all three.",
)
def llm_dedup_minhash_pr(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    truth = (
        dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
        .select("id_a", "id_b", F.lit(1).alias("__t"))
    )
    ver = (
        dedup.minhash_verified_pairs(
            docs, threshold=0.5, candidate_threshold=0.35
        ).select("id_a", "id_b", F.lit(1).alias("__v"))
    )
    j = truth.join(ver, ["id_a", "id_b"], "full_outer")
    n_true = F.coalesce(F.sum("__t"), F.lit(0))
    n_hit = F.coalesce(F.sum(F.col("__t") * F.col("__v")), F.lit(0))
    n_false_pos = F.coalesce(
        F.sum(F.when(F.col("__v").isNotNull() & F.col("__t").isNull(), 1)),
        F.lit(0),
    )
    n_ver = F.coalesce(F.sum("__v"), F.lit(0))
    return j.agg(
        n_true.cast("long").alias("n_true_pairs"),
        (n_hit >= n_true * F.lit(0.85)).alias("recall_ok"),
        (n_false_pos == 0).alias("precision_exact"),
        # vacuously true on a corpus with no near-dups at all (hostile
        # corpora): an empty truth set makes every verdict trivial and
        # must not read as a failure (same policy as llm_dedup_minhash's
        # empty-set coalesce)
        ((n_ver >= 1) | (n_true == 0)).alias("verified_nonempty"),
    )


@parity(
    "llm_dedup_simhash",
    sql=_jaccard_truth_count_sql(
        0.9, "n_exact_pairs, true AS recall_ok"
    ),
    doc="64-bit SimHash fingerprints + banded Hamming-distance near-pairs "
    "(≤ 8 bits). Fingerprints are engine-hash-specific, so the driver "
    "surface is a verdict: the oracle-checkable exact-Jaccard ≥ 0.9 "
    "pair count plus a boolean asserting the SimHash pairs recover "
    "≥ 60% of those near-identical docs (measured 0.92 at sf0.01). "
    "Fingerprint determinism + banding invariants in tests/test_llm.py.",
)
def llm_dedup_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    exact = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.9).select(
        "id_a", "id_b"
    )
    near = dedup.simhash_near_pairs(docs, max_hamming=8).select(
        "id_a", "id_b", F.lit(1).alias("__hit")
    )
    return (
        exact.join(near, ["id_a", "id_b"], "left")
        .agg(
            F.count("*").alias("n_exact_pairs"),
            (
                # empty exact-pair set: sum() is NULL -> coalesce so the
                # verdict is (0 >= 0) = true, matching the oracle's
                # literal `true` (a corpus slice with no near-dups must
                # not fail the gate with recall_ok = NULL)
                F.coalesce(
                    F.sum(F.coalesce(F.col("__hit"), F.lit(0))), F.lit(0)
                )
                >= F.count("*") * F.lit(0.6)
            ).alias("recall_ok"),
        )
    )


@parity(
    "llm_similarity_topk",
    sql=_COS_SQL
    + """
    SELECT q_id, n_id, sim, rank FROM (
      SELECT q_id, n_id, (ROUND(cos + 1e-9, 4) + 0.0) AS sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY (ROUND(cos + 1e-9, 4) + 0.0) DESC, n_id) AS rank
      FROM pairs
    ) WHERE rank <= 3
    """,
    doc="Brute-force cosine top-k (k=3) for a bounded query set (vec_id < "
    "20) against the whole corpus: broadcast queries, zip_with/aggregate "
    "dot product in DOUBLE, row_number top-k. Rounded sims + id tiebreak "
    "for engine-independent ranking.",
)
def llm_similarity_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 20), k=3, dim=64)


@parity(
    "llm_similarity_topk_arrow",
    sql=_COS_SQL
    + """
    SELECT q_id, n_id, sim, rank FROM (
      SELECT q_id, n_id, (ROUND(cos + 1e-9, 4) + 0.0) AS sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY (ROUND(cos + 1e-9, 4) + 0.0) DESC, n_id) AS rank
      FROM pairs
    ) WHERE rank <= 3
    """,
    doc="Exact cosine top-k via Arrow-batched numpy matmul (mapInPandas) "
    "— row-identical to llm_similarity_topk (same oracle) but each task "
    "does ONE (batch × dim) @ (dim × |Q|) float64 matmul and emits only "
    "its local top-k, so the final exchange carries partitions × |Q| × k "
    "rows. Measured 15× over the zip_with/aggregate fold at "
    "sf10-equivalent (18.3s → 1.2s) — the production brute-force shape "
    "that the LSH/IVF variants are recall-checked against.",
)
def llm_similarity_topk_arrow(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk_arrow(
        emb, emb.filter(F.col("vec_id") < 20), k=3, dim=64
    )


@parity(
    "llm_similarity_lsh",
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           true AS coverage_ok, true AS top1_ok
    FROM embeddings WHERE vec_id < 20 AND embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    """,
    doc="Sign-LSH (8 fixed hyperplanes) bucketed approximate top-k — the "
    "scale path: candidates join only within a bucket. Bucket contents "
    "are engine-hash-specific, so the driver surface is a verdict over "
    "the oracle-checkable query set: ≥ 60% of queries land in a "
    "non-empty bucket (measured 19/20 at sf0.01) and the LSH rank-1 "
    "neighbor matches the brute-force rank-1 for ≥ 10% of queries "
    "(measured 30%; chance is ~1/N). Raw top-k + recall curve stay "
    "tested in tests/test_llm.py.",
)
def llm_similarity_lsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = similarity.finite_vectors(emb.filter(F.col("vec_id") < 20), dim=64)
    lsh = similarity.lsh_bucketed_topk(emb, q, k=3, dim=64)
    ex1 = similarity.brute_force_topk(emb, q, k=1, dim=64).select(
        "q_id", "n_id", F.lit(1).alias("__hit")
    )
    top1_hits = (
        lsh.filter(F.col("rank") == 1)
        .select("q_id", "n_id")
        .join(ex1, ["q_id", "n_id"], "left_semi")
        .agg(F.count("*").alias("n_top1_hit"))
    )
    cov = lsh.agg(F.count_distinct("q_id").alias("n_cov"))
    nq = q.agg(F.count("*").alias("n_queries"))
    return (
        nq.crossJoin(cov)
        .crossJoin(top1_hits)
        .select(
            "n_queries",
            (F.col("n_cov") >= F.col("n_queries") * F.lit(0.6)).alias(
                "coverage_ok"
            ),
            (F.col("n_top1_hit") >= F.col("n_queries") * F.lit(0.1)).alias(
                "top1_ok"
            ),
        )
    )


# Shared collapse-oracle fragments (r10, VERDICT r9 §next-round-1): the
# all-pairs cosine truth is computed over DISTINCT vectors only —
# identical vectors have bit-identical dot products, so within-group
# pairs are exactly sim 1.0 and cross-group rep pairs expand to member
# pairs. This keeps the oracle EXHAUSTIVE (full exact truth, not a
# sample) while making it tractable at the scaled SFs, whose key-offset
# replication grows the corpus but not the distinct-vector set (sf1:
# 20k rows, 2k distinct → 2·10⁶ rep pairs instead of 2·10⁸). Zero-norm
# vectors have no cosine (the naive guarded divide yields 0.0) and are
# excluded from pair generation — identical zero vectors must not
# masquerade as sim-1.0 duplicates.
_EMB_GUARD = (
    "embedding IS NOT NULL AND len(embedding) = 64 AND "
    "len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0"
)
_VALID_CORPUS = f"""
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE {_EMB_GUARD}
"""
_COLLAPSE_PAIR_SQL = """
    valid AS (
      SELECT vec_id, v,
             sqrt((SELECT SUM(v[CAST(i AS INT)] * v[CAST(i AS INT)])
                   FROM range(1, 65) r(i))) AS nrm
      FROM corpus
    ),
    grp AS (
      SELECT v, MIN(vec_id) AS rep, list(vec_id) AS members, MIN(nrm) AS nrm
      FROM valid WHERE nrm > 0 GROUP BY v
    ),
    mem AS (SELECT rep, m.m AS mid FROM grp, unnest(members) m(m)),
    within AS (
      SELECT la.mid AS id_a, lb.mid AS id_b, CAST(1.0 AS DOUBLE) AS sim
      FROM mem la JOIN mem lb ON la.rep = lb.rep AND la.mid < lb.mid
    ),
    rpt AS (
      -- threshold the rep pairs BEFORE any member expansion: lateral
      -- unnest does not get the sim filter pushed below it, and an
      -- unfiltered expansion is rep_pairs x |A| x |B| rows (observed:
      -- a 70GB DuckDB temp spill at sf10 members=100)
      SELECT ra, rb, sim FROM (
        SELECT a.rep AS ra, b.rep AS rb,
               (ROUND((SELECT SUM(a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)])
                       FROM range(1, 65) r(i)) / (a.nrm * b.nrm)
                      + 1e-9, 4) + 0.0) AS sim
        FROM grp a JOIN grp b ON a.rep < b.rep
      ) WHERE sim >= {thr}
    ),
    cx AS (
      SELECT LEAST(x.mid, y.mid) AS id_a, GREATEST(x.mid, y.mid) AS id_b, sim
      FROM rpt JOIN mem x ON x.rep = rpt.ra JOIN mem y ON y.rep = rpt.rb
    )
    SELECT id_a, id_b, sim FROM within WHERE 1.0 >= {thr}
    UNION ALL SELECT id_a, id_b, sim FROM cx
"""


@parity(
    "llm_embed_neardup",
    sql=f"""
    WITH corpus AS ({_VALID_CORPUS}),
    {_COLLAPSE_PAIR_SQL.format(thr=0.4)}
    """,
    doc="Embedding-cosine near-duplicate pairs (sim ≥ 0.4). All-pairs "
    "baseline; LSH bucket join is the scale path with the same contract. "
    "Both sides collapse identical vectors before the pair join (exact — "
    "identical vectors have bit-identical cosines), so the oracle stays "
    "full exhaustive truth yet is distinct²-bounded, tractable at the "
    "replicated sf1/sf10 sweeps (VERDICT r9 §next-round-1).",
)
def llm_embed_neardup(spark, sf_dir):
    return similarity.cosine_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, dim=64
    )


@parity(
    "llm_embed_neardup_arrow",
    sql=f"""
    WITH corpus AS ({_VALID_CORPUS}),
    {_COLLAPSE_PAIR_SQL.format(thr=0.4)}
    """,
    doc="Embedding-cosine near-duplicate pairs via blocked numpy matmul "
    "(mapInPandas, corpus broadcast once per executor) — row-identical "
    "to llm_embed_neardup (same oracle, same EPS-round-then-threshold): "
    "the matmul computes every member pair directly and identical "
    "vectors yield bit-identical rows, so the collapse oracle's "
    "within/expanded pairs state the same set. Same quadratic "
    "exact-baseline contract, ~100× the throughput of the interpreted "
    "fold; cosine_near_dup_pairs_lsh remains the sub-quadratic scale "
    "path.",
)
def llm_embed_neardup_arrow(spark, sf_dir):
    return similarity.cosine_near_dup_pairs_arrow(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, dim=64
    )


# Deterministic index-dependent perturbation used to plant near-duplicate
# vectors (the testdata has no natural pairs above cosine ~0.61): copy of
# vec_id v gets id v + (max(vec_id)+1) and embedding[i] *= (1 +
# 0.001·(i mod 7)). The offset is data-derived (r10 fix): the old fixed
# +10000 collided with real vec_ids once the corpus passed 10k rows
# (sf1's max id is 19999), silently aliasing planted nodes onto corpus
# nodes. Identical arithmetic on both engines → identical planted pairs.
_PLANT_SPARK = (
    "transform(embedding, (x, i) -> CAST(x AS DOUBLE) * "
    "(CAST(1.0 AS DOUBLE) + CAST(0.001 AS DOUBLE) * CAST(i % 7 AS DOUBLE)))"
)
_PLANT_DUCK = (
    "list_transform(range(1, len(embedding) + 1), i -> "
    "CAST(embedding[CAST(i AS INT)] AS DOUBLE) * "
    "(CAST(1.0 AS DOUBLE) + CAST(0.001 AS DOUBLE) * CAST((i - 1) % 7 AS DOUBLE)))"
)
_AUG_CORPUS = f"""
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE {_EMB_GUARD}
      UNION ALL
      SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings),
             {_PLANT_DUCK} AS v
      FROM embeddings WHERE vec_id < 25 AND {_EMB_GUARD}
"""
# Cluster twin of _COLLAPSE_PAIR_SQL: the transitive closure runs over
# the DISTINCT-vector rep graph (constant-sized under key-offset
# replication), members inherit their rep's cluster, and the component
# minimum is exactly the min rep (each rep is its group's min member).
# Zero-norm vectors have no cosine geometry → singleton clusters, same
# as the engine's edge-free nodes.
_COLLAPSE_CLUSTER_SQL = """
    valid AS (
      SELECT vec_id, v,
             sqrt((SELECT SUM(v[CAST(i AS INT)] * v[CAST(i AS INT)])
                   FROM range(1, 65) r(i))) AS nrm
      FROM corpus
    ),
    grp AS (
      SELECT v, MIN(vec_id) AS rep, list(vec_id) AS members, MIN(nrm) AS nrm
      FROM valid WHERE nrm > 0 GROUP BY v
    ),
    pr AS (
      SELECT a.rep AS ra, b.rep AS rb
      FROM grp a JOIN grp b ON a.rep < b.rep
      WHERE (ROUND((SELECT SUM(a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)])
                    FROM range(1, 65) r(i)) / (a.nrm * b.nrm)
                   + 1e-9, 4) + 0.0) >= {thr}
    ),
    ed AS (SELECT ra AS a, rb AS b FROM pr UNION ALL SELECT rb, ra FROM pr),
    reach(src, dst) AS (
      SELECT rep, rep FROM grp
      UNION
      SELECT r.src, ed.b FROM reach r JOIN ed ON ed.a = r.dst
    ),
    rcl AS (SELECT src AS rep, MIN(dst) AS cluster_id FROM reach GROUP BY src),
    mems AS (SELECT rep, m.m AS vec_id FROM grp, unnest(members) m(m))
    SELECT mems.vec_id, rcl.cluster_id,
           (mems.vec_id = rcl.cluster_id) AS is_canonical
    FROM mems JOIN rcl USING (rep)
    UNION ALL
    SELECT vec_id, vec_id AS cluster_id, TRUE AS is_canonical
    FROM valid WHERE nrm = 0
"""


@parity(
    "llm_embed_neardup_lsh",
    sql=f"""
    WITH corpus AS ({_AUG_CORPUS}),
    {_COLLAPSE_PAIR_SQL.format(thr=0.95)}
    """,
    doc="Banded sign-LSH near-duplicate pairs (sim ≥ 0.95; 16 planes × 4 "
    "bands) — the 100 TB path for llm_embed_neardup: candidates join only "
    "within a (band, bit-pattern) bucket, never all-pairs; exact cosine "
    "re-check keeps false positives out, banding drives recall → 1 as "
    "sim → 1. The testdata has no natural pairs above ~0.61, so 25 "
    "near-dups are planted deterministically at collision-free ids "
    "(identical construction in the oracle); at these similarities "
    "banded recall is exact, so the exhaustive collapse oracle (full "
    "distinct²-bounded all-pairs truth, sf1/sf10-tractable) matches "
    "bit-for-bit. Brute-force twin (llm_embed_neardup) remains the "
    "correctness baseline; recall vs brute force is also asserted in "
    "tests/test_llm.py.",
)
def llm_embed_neardup_lsh(spark, sf_dir):
    return similarity.cosine_near_dup_pairs_lsh(
        _planted_embeddings(spark, sf_dir), threshold=0.95, num_planes=16, bands=4
    )


def _planted_embeddings(spark, sf_dir):
    """Embeddings augmented with 25 deterministic near-duplicates
    (vec_id + max(vec_id)+1, per-dimension ×(1 + 0.001·(i mod 7))) — the
    testdata has no natural pairs above ~0.61, so the near-dup planting
    is shared by every ≥0.95-threshold embedding surface (identical
    construction in the oracles via _AUG_CORPUS). The id offset is
    data-derived so planted ids never collide with corpus ids at any SF
    (the old fixed +10000 aliased onto real ids once the corpus passed
    10k rows); the 1-row max frame is broadcast, never collected."""
    emb = _t(spark, sf_dir, "embeddings")
    off = F.broadcast(emb.agg((F.max("vec_id") + 1).alias("__off")))
    orig = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    planted = (
        emb.filter(F.col("vec_id") < 25)
        .crossJoin(off)
        .select(
            (F.col("vec_id") + F.col("__off")).alias("vec_id"),
            F.expr(_PLANT_SPARK).alias("embedding"),
        )
    )
    return orig.unionByName(planted)


@parity(
    "llm_dedup_semantic_lsh",
    sql=f"""
    WITH RECURSIVE corpus AS ({_AUG_CORPUS}),
    {_COLLAPSE_CLUSTER_SQL.format(thr=0.95)}
    """,
    doc="END-TO-END 100 TB semantic dedup: banded sign-LSH candidate "
    "pairs (never all-pairs — candidates only within (band, "
    "bit-pattern) buckets, identical-vector clusters collapsed before "
    "banding) feed the same large-star/small-star connected-components "
    "clustering as llm_dedup_semantic. This is the composition a real "
    "corpus runs — llm_dedup_semantic (exact all-pairs graph) is its "
    "correctness baseline, and this entry proves the LSH-pair→cluster "
    "pipeline end-to-end against the all-pairs transitive-closure "
    "oracle (exact at sim ≥ 0.95 on the planted near-dups, where "
    "banded recall is 1).",
)
def llm_dedup_semantic_lsh(spark, sf_dir):
    aug = _planted_embeddings(spark, sf_dir)
    # connectivity-equivalent edges (rep-member stars + rep threshold
    # pairs), NOT the full pair contract: clusters are identical, and
    # the edge frame stays linear in corpus size instead of quadratic
    # in duplicate multiplicity (r10; see cosine_near_dup_edges_lsh)
    edges = similarity.cosine_near_dup_edges_lsh(
        aug, threshold=0.95, num_planes=16, bands=4
    )
    ids = similarity.finite_vectors(aug, dim=64).select(F.col("vec_id").alias("doc_id"))
    return dedup.dedup_clusters(ids, edges).select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "is_canonical"
    )


@parity(
    "llm_text_tokens",
    sql=f"""
    SELECT doc_id,
           len({_TOK}) AS n_tokens,
           length(text) AS n_chars_txt,
           (ROUND(COALESCE(length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / NULLIF(len({_TOK}), 0), 0) + 1e-9, 4) + 0.0) AS avg_token_len,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
    FROM documents
    """,
    doc="Token counting: whitespace tokens + BPE-ish chars/4 estimate.",
)
def llm_text_tokens(spark, sf_dir):
    return text.token_stats(_t(spark, sf_dir, "documents"))


@parity(
    "llm_text_quality",
    sql=f"""
    WITH base AS (
      SELECT doc_id,
             len({_TOK}) AS n_tokens,
             length(text) AS n_chars,
             (ROUND(COALESCE((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))) * 1.0 / NULLIF(length(text), 0), 0) + 1e-9, 4) + 0.0) AS punct_ratio,
             (ROUND(COALESCE((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / NULLIF(length(text), 0), 0) + 1e-9, 4) + 0.0) AS digit_ratio,
             (ROUND(COALESCE(len(list_filter({_TOK}, x -> x IN ('the', 'a', 'and', 'of', 'to'))) * 1.0 / NULLIF(len({_TOK}), 0), 0) + 1e-9, 4) + 0.0) AS stop_ratio
      FROM documents
    )
    SELECT doc_id, punct_ratio, digit_ratio, stop_ratio,
           (ROUND(0.4 * least(n_tokens / 50.0, 1.0) + 0.3 * (1.0 - punct_ratio) + 0.3 * stop_ratio + 1e-9, 4) + 0.0) AS quality
    FROM base
    """,
    doc="Heuristic quality scoring: punctuation/digit density + stopword "
    "ratio + length saturation (C4/Gopher-style filters, simplified).",
)
def llm_text_quality(spark, sf_dir):
    return text.quality_score(_t(spark, sf_dir, "documents"))


@parity(
    "llm_text_langid",
    sql=f"""
    WITH h AS (
      SELECT doc_id, text,
             len(list_filter({_TOK}, x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS hits_en,
             len(list_filter({_TOK}, x -> x IN ('el', 'la', 'de', 'que', 'y'))) AS hits_es,
             len(list_filter({_TOK}, x -> x IN ('der', 'die', 'und', 'das', 'ist'))) AS hits_de,
             len(list_filter({_TOK}, x -> x IN ('le', 'la', 'et', 'les', 'des'))) AS hits_fr,
             length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS n_cjk
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN n_cjk > 0 THEN 'zh'
                WHEN greatest(hits_en, hits_es, hits_de, hits_fr) <= 0 THEN 'und'
                WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
                WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
                WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
                ELSE 'fr' END AS pred_lang,
           hits_en, hits_es, hits_de, hits_fr
    FROM h
    """,
    doc="Language-ID heuristic: per-language stopword hits + CJK char "
    "check, deterministic argmax precedence.",
)
def llm_text_langid(spark, sf_dir):
    return text.lang_id(_t(spark, sf_dir, "documents"))


@parity(
    "llm_text_fingerprint",
    sql="SELECT doc_id, md5(lower(regexp_replace(trim(text, ' '), '\\s+', ' ', 'g'))) AS fp_md5 "
    "FROM documents",
    doc="Document fingerprint: md5 of whitespace-normalized lowercase text "
    "(identical hex across engines; xxhash64 variant in llm.text is "
    "engine-internal).",
)
def llm_text_fingerprint(spark, sf_dir):
    return text.fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "fp_md5")


@parity(
    "llm_multimodal_meta",
    sql="SELECT doc_id, 'text/plain' AS mime, strlen(text) AS n_bytes FROM documents",
    doc="Multimodal column plumbing: opaque BinaryType payload + typed "
    "metadata struct (mime, byte length).",
)
def llm_multimodal_meta(spark, sf_dir):
    media = multimodal.attach_payload(_t(spark, sf_dir, "documents"))
    return media.select(
        "doc_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


@parity(
    "llm_multimodal_features",
    sql="""
    SELECT d.doc_id, strlen(d.text) AS n_bytes,
           -- NULL payload → NULL features on both engines (the
           -- COALESCE(…, 0) is for EMPTY payloads only)
           CASE WHEN d.text IS NULL THEN NULL
                ELSE CAST(COALESCE(list_sum(list_transform(
                  range(1, least(length(hex(encode(d.text)))//2, 16) + 1),
                  i -> CAST(concat('0x', substr(hex(encode(d.text)), (i-1)*2+1, 2)) AS BIGINT))), 0)
                % 997 AS BIGINT) END AS head_sig
    FROM documents d
    """,
    doc="Arrow-batched mapInPandas feature extraction over binary payloads "
    "— the real multimodal decode path (media decode kernels stubbed per "
    "contract; deterministic byte-signature stands in).",
)
def llm_multimodal_features(spark, sf_dir):
    media = multimodal.attach_payload(_t(spark, sf_dir, "documents"))
    return multimodal.extract_features(media)


@parity(
    "llm_multimodal_wav",
    sql="""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
    s AS (SELECT doc_id, i FROM d, UNNEST(range(0, 59)) u(i)
          WHERE i < (doc_id % 50) + 10),
    v AS (SELECT doc_id, ((doc_id * 31 + i * 17) % 4096) - 2048 AS smp FROM s)
    SELECT doc_id,
           CAST(8000 + (doc_id % 5) * 1000 AS BIGINT) AS sample_rate,
           COUNT(*) AS n_samples,
           CAST(SUM(smp) AS BIGINT) AS sum_samples,
           (ROUND(sqrt(SUM(smp * smp) * 1.0 / COUNT(*)) + 1e-9, 4) + 0.0) AS rms
    FROM v GROUP BY doc_id
    """,
    doc="REAL audio decode through the engine: a deterministic PCM16 "
    "signal per doc is encoded to RIFF/WAVE bytes and decoded back with "
    "the pure-stdlib WAV kernel inside one map_doc_kernel pass; "
    "features (rate, count, sum, rms) come from the DECODED samples "
    "while the oracle recomputes them from the source formula — any "
    "header/endianness/chunk-walk bug breaks the cross-engine match. "
    "Converts the audio stub into a tested kernel (multimodal.py "
    "decode_audio); compressed formats remain declared stubs.",
)
def llm_multimodal_wav(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.wav_roundtrip_features(docs)


@parity(
    "llm_multimodal_ppm",
    sql="""
    WITH d AS (SELECT doc_id, (doc_id % 5) + 2 AS w, (doc_id % 3) + 2 AS h
               FROM documents WHERE doc_id < 50),
    s AS (SELECT doc_id, w, h, j FROM d, UNNEST(range(0, 72)) u(j)
          WHERE j < 3 * w * h),
    v AS (SELECT doc_id, w, h, (doc_id * 7 + j) % 256 AS px FROM s)
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           COUNT(*) AS n_pixel_bytes,
           CAST(SUM(px) AS BIGINT) AS pix_sum,
           (ROUND(SUM(px) * 1.0 / COUNT(*) + 1e-9, 4) + 0.0) AS mean_pixel
    FROM v GROUP BY doc_id, w, h
    """,
    doc="REAL image decode through the engine: a deterministic RGB raster "
    "per doc is encoded to binary PPM (P6) and decoded back with the "
    "pure-stdlib netpbm kernel inside one map_doc_kernel pass; "
    "features come from the DECODED raster, the oracle recomputes them "
    "from the source formula. Converts the image stub into a tested "
    "kernel (multimodal.py decode_image); PNG/JPEG remain declared "
    "stubs.",
)
def llm_multimodal_ppm(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.ppm_roundtrip_features(docs)


@parity(
    "llm_multimodal_png",
    sql="""
    WITH d AS (SELECT doc_id, (doc_id % 5) + 2 AS w, (doc_id % 3) + 2 AS h
               FROM documents WHERE doc_id < 50),
    s AS (SELECT doc_id, w, h, j FROM d, UNNEST(range(0, 72)) u(j)
          WHERE j < 3 * w * h),
    v AS (SELECT doc_id, w, h, (doc_id * 7 + j) % 256 AS px FROM s)
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           COUNT(*) AS n_pixel_bytes,
           CAST(SUM(px) AS BIGINT) AS pix_sum,
           (ROUND(SUM(px) * 1.0 / COUNT(*) + 1e-9, 4) + 0.0) AS mean_pixel
    FROM v GROUP BY doc_id, w, h
    """,
    doc="REAL PNG decode through the engine (VERDICT r6 §next-round-3): "
    "a deterministic RGB raster per doc is encoded to a real PNG stream "
    "— stdlib zlib deflate, chunk CRCs, per-scanline filters varying "
    "with image height so all five PNG filters (None/Sub/Up/Average/"
    "Paeth) are exercised across the corpus — then decoded back with "
    "the pure-stdlib kernel (chunk-CRC walk, inflate, full filter "
    "reversal) inside one map_doc_kernel pass. Features come from "
    "the DECODED raster (a bit-exact roundtrip assert guards the rest), "
    "the oracle recomputes them from the source formula. Converts the "
    "PNG stub into a tested kernel (multimodal.py decode_png); "
    "JPEG/mp4 remain declared stubs.",
)
def llm_multimodal_png(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.png_roundtrip_features(docs)


@parity(
    "llm_multimodal_mjpeg",
    sql="""
    WITH d AS (SELECT doc_id, 4 + doc_id % 4 AS nf
               FROM documents WHERE doc_id < 40),
    f AS (SELECT doc_id, j FROM d, UNNEST(range(0, 8)) u(j)
          WHERE j < nf AND j % 2 = 0)
    SELECT doc_id,
           CAST(j AS BIGINT) AS frame_idx,
           CAST(6 + j AS BIGINT) AS width,
           CAST(5 + j AS BIGINT) AS height,
           CAST(3 * (6 + j) * (5 + j) AS BIGINT) AS n_pixel_bytes,
           true AS matches_single
    FROM f
    """,
    doc="MJPEG (concatenated-JPEG video) frame sampling through the "
    "engine: per-doc streams of color frames with PER-FRAME "
    "subsampling cycling 4:4:4/4:2:2/4:2:0, demuxed by the "
    "no-decode boundary walk (llm/jpeg.py jpeg_stream_end — segment "
    "lengths in headers, marker-aware entropy skip, so 0xFFD9 bytes "
    "inside payloads never truncate a frame) and sampled every 2nd "
    "frame; skipped frames are walked, never entropy-decoded (real "
    "demux economics — sampling saves DECODE, not I/O). One row per "
    "sampled frame; `matches_single` asserts the demuxed bytes decode "
    "bit-identical to the frame encoded alone. The motion-JPEG camera/"
    "AVI payload shape, next to the PPM image2pipe stream op "
    "(llm_multimodal_frames).",
)
def llm_multimodal_mjpeg(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    return multimodal.mjpeg_sample_features(docs)


@parity(
    "llm_multimodal_adpcm",
    sql="""
    SELECT doc_id,
           'ima_adpcm' AS codec,
           CAST(400 + (doc_id % 5) * 101 AS BIGINT) AS n_samples,
           CAST(20000 + (doc_id % 11) * 1000 AS BIGINT) AS first_sample,
           true AS max_err_ok
    FROM documents WHERE doc_id < 50
    """,
    doc="IMA/DVI ADPCM (WAV format 0x11, 4-bit differential, 4:1 "
    "compression) through the engine: slope-bounded triangle signals "
    "forward-adaptively encoded and block-decoded "
    "(multimodal.encode_wav_ima_adpcm/_decode_ima_adpcm — encoder and "
    "decoder share the one reconstruction step, so they track the same "
    "predictor lattice). The block header's first sample is EXACT and "
    "oracle-checked per doc; reconstruction error is bound-verdicted "
    "(a step-table/index-clamp/nibble-order bug blows it). Together "
    "with G.711 this closes the uncompressed+telephony+ADPCM slices of "
    "the audio stub; perceptual codecs (mp3/aac/opus) remain declared "
    "stubs.",
)
def llm_multimodal_adpcm(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.adpcm_roundtrip_features(docs)


@parity(
    "llm_multimodal_g711",
    sql="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS codec,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(200 + (doc_id % 7) * 50 AS BIGINT) AS n_samples,
           true AS max_err_ok,
           true AS idempotent_ok
    FROM documents WHERE doc_id < 50
    """,
    doc="G.711 µ-law/A-law telephony WAV through the engine (ITU-T "
    "G.711 expansion formulas; multimodal.encode_wav_g711/"
    "decode_audio): deterministic PCM16 signals companded to 8-bit "
    "format-7/format-6 RIFF streams and expanded back. Decode tables "
    "hit the canonical ITU extrema (±32124 µ / ±32256 A, pinned in "
    "tests); the verdict columns bound companding error to the "
    "top-segment half-step (+clip at the µ-law 32124 ceiling) and "
    "assert decode∘encode idempotence on the codec lattice. Closes "
    "the telephony slice of the compressed-audio stub; perceptual "
    "codecs (mp3/aac/opus) remain declared stubs.",
)
def llm_multimodal_g711(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.g711_roundtrip_features(docs)


@parity(
    "llm_multimodal_flac",
    sql="""
    SELECT doc_id,
           'flac' AS codec,
           CAST(1 + doc_id % 2 AS BIGINT) AS channels,
           CAST(400 + (doc_id % 5) * 80 AS BIGINT) AS n_samples,
           CAST((doc_id % 9) * 100 - 400 AS BIGINT) AS first_sample,
           true AS bit_exact_ok,
           true AS md5_ok,
           true AS compressed_ok
    FROM documents WHERE doc_id < 50
    """,
    doc="FLAC lossless audio through the engine (llm/flac.py — the "
    "real bitstream per RFC 9639: rice-partitioned residuals, "
    "CONSTANT/VERBATIM/FIXED/LPC subframes, left-/right-/mid-side "
    "stereo decorrelations cycling per block, CRC-8 header + CRC-16 "
    "frame checks, UTF-8-coded frame numbers). Lossless admits the "
    "strongest oracle: `bit_exact_ok` is decode(encode(pcm)) == pcm "
    "sample-for-sample and `md5_ok` is the decoder's independent "
    "STREAMINFO-MD5 verification of the reconstructed interleaved "
    "PCM; `compressed_ok` pins rice efficiency (smooth signals must "
    "beat raw PCM16). LPC subframes are genuine on every third doc — "
    "a chosen quantized coefficient set, since bit-exactness needs "
    "the decoder's integer prediction reversed, not Levinson-Durbin. "
    "Closes the lossless half of the compressed-audio stub "
    "(VERDICT r8 item 3); perceptual codecs (mp3/aac/opus) remain "
    "declared stubs.",
)
def llm_multimodal_flac(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    # r11 optimization round: the 50-doc bounded corpus lands in ONE
    # parquet scan task, serializing the pure-Python FLAC encode+decode
    # on a single core while the rest idle (guide §2.6). Round-robin
    # spread (<= 50 one-long rows after pruning — constant at any
    # corpus scale) parallelizes the kernel work; results
    # unchanged. Interleaved A/B at sf0.1: plain 1.26/0.92s vs spread
    # 0.85/0.90s. The same spread was tried and REJECTED for the
    # mp4/webm demux twins — their box-walk kernels are cheap enough
    # that the extra exchange costs more than it buys (0.52-0.59s
    # plain vs 0.70-0.72s spread).
    return multimodal.flac_roundtrip_features(docs.repartition(50))


@parity(
    "llm_multimodal_mp4_demux",
    sql="""
    WITH d AS (SELECT doc_id, 4 + doc_id % 4 AS nf
               FROM documents WHERE doc_id < 40),
    f AS (SELECT doc_id, j FROM d, UNNEST(range(0, 8)) u(j)
          WHERE j < nf AND j % 2 = 0)
    SELECT doc_id,
           CAST(j AS BIGINT) AS frame_idx,
           CAST(1000 * j + 50 * j * (j - 1) AS BIGINT) AS dts,
           'jpeg' AS codec,
           CAST(6 + j AS BIGINT) AS width,
           CAST(5 + j AS BIGINT) AS height,
           CAST(3 * (6 + j) * (5 + j) AS BIGINT) AS n_pixel_bytes,
           true AS matches_single
    FROM f
    """,
    doc="MP4 (ISO-BMFF) demux through the engine (llm/mp4.py, VERDICT "
    "r8 item 3): per-doc MJPEG-in-MP4 files — color JPEG samples with "
    "cycling subsampling muxed behind real sample tables (stts "
    "run-length durations that VARY per sample, stsc multi-run "
    "3/2-sample chunking, stsz sizes, stco absolute offsets, "
    "mdat-before-moov layout) — box-walk demuxed and sampled every "
    "2nd sample. The walk parses only headers + tables and slices "
    "sample bytes by offset; skipped samples are never entropy-"
    "decoded (demux saves DECODE, not parse — the MJPEG stream-walk "
    "economics, now with table-driven random access, which is what a "
    "100 TB crawl shard actually wants: decode k frames without "
    "scanning the stream). `dts` is oracle-checked against the stts "
    "expansion formula and `matches_single` asserts the demuxed "
    "sample bytes equal AND decode bit-identical to the frame "
    "encoded alone — any stsz/stco/stsc expansion bug shifts an "
    "offset and breaks it. webm/VPx remains the declared video stub.",
)
def llm_multimodal_mp4_demux(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    return multimodal.mp4_sample_features(docs)


@parity(
    "llm_multimodal_webm_demux",
    sql="""
    WITH d AS (SELECT doc_id, 4 + doc_id % 4 AS nf
               FROM documents WHERE doc_id < 40),
    f AS (SELECT doc_id, j FROM d, UNNEST(range(0, 8)) u(j)
          WHERE j < nf AND j % 2 = 0)
    SELECT doc_id,
           CAST(j AS BIGINT) AS frame_idx,
           CAST(CASE WHEN j % 3 = 2
                     THEN 40 * (j - 1) + (j - 1) * (j - 2)
                     ELSE 40 * j + j * (j - 1) END AS BIGINT) AS pts_ms,
           'V_MJPEG' AS codec_id,
           CAST(6 + j AS BIGINT) AS width,
           CAST(5 + j AS BIGINT) AS height,
           CAST(3 * (6 + j) * (5 + j) AS BIGINT) AS n_pixel_bytes,
           true AS matches_single
    FROM f
    """,
    doc="Matroska/webm (EBML) demux through the engine (llm/webm.py): "
    "per-doc MJPEG-in-Matroska streams — color JPEG frames with "
    "cycling subsampling muxed behind a real EBML layout (UNKNOWN-size "
    "Segment as streaming muxers emit, Info/Tracks with V_MJPEG codec "
    "id, a Void element the walk must skip, 3-frame Clusters mixing "
    "solo SimpleBlocks with Xiph-LACED multi-frame blocks) — EBML-walk "
    "demuxed and sampled every 2nd frame. The walk parses only "
    "variable-length element headers, lacing tables, and block "
    "headers; frame bytes are sliced by offset and skipped frames are "
    "never entropy-decoded (the mp4 economics on the other container "
    "a crawl carries). `pts_ms` is oracle-checked against the "
    "cluster-base + relative-timestamp expansion INCLUDING the lacing "
    "rule (laced frames share their block's timestamp: j%3==2 shares "
    "j-1's pts) and `matches_single` asserts the sliced bytes equal "
    "AND decode bit-identical to the frame encoded alone — any "
    "vint/lacing/offset bug shifts a boundary and breaks it. VPx "
    "PAYLOAD decode remains the declared stub; the container no "
    "longer is.",
)
def llm_multimodal_webm_demux(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    return multimodal.webm_sample_features(docs)


@parity(
    "llm_multimodal_ogg_demux",
    sql="""
    WITH d AS (SELECT doc_id, 5 + doc_id % 4 AS n
               FROM documents WHERE doc_id < 40),
    p AS (SELECT doc_id, n, j FROM d, UNNEST(range(0, 9)) u(j)
          WHERE j < n)
    SELECT p.doc_id,
           CAST(j AS BIGINT) AS packet_idx,
           CAST(100 + 10 * j AS BIGINT) AS size,
           CAST((SELECT SUM((p.doc_id * 7 + p.j * 11 + 3 * i) % 256) % 997
                 FROM UNNEST(range(0, 16)) t(i)) AS BIGINT) AS head_sig,
           CAST(960 * (LEAST(j - (j % 2) + 1, n - 1) + 1) AS BIGINT)
               AS granule,
           CAST(1 + p.doc_id % 2 AS BIGINT) AS channels,
           CAST(312 + p.doc_id % 7 AS BIGINT) AS pre_skip,
           CAST(2 + (n + 1) // 2 AS BIGINT) AS n_pages,
           true AS matches_original,
           CAST(2 + CAST(CEIL((2.0 * n + FLOOR(n / 2.0)) / 3) AS BIGINT)
               AS BIGINT) AS n_pages_spanning,
           true AS spanning_ok
    FROM p
    """,
    doc="Ogg container (RFC 3533) demux through the engine "
    "(llm/ogg.py): per-doc Ogg-Opus-shaped streams — OpusHead/"
    "OpusTags header packets then audio packets with cumulative "
    "48 kHz granule positions — page-walk demuxed with the REAL "
    "unreflected Ogg CRC-32 verified on every page, sequence-gap "
    "and flag-sanity checks, and packet reassembly from segment "
    "lacing tables. Stream A's per-packet size/checksum/granule "
    "(RFC 3533 page-completion semantics: packets completing on one "
    "page share its granule — the oracle reproduces the 2-per-page "
    "pairing), OpusHead channels/pre_skip, and page count are each "
    "recomputed independently by the oracle; stream B forces packets "
    "to SPAN pages (255-run lacing + continued flags under a "
    "3-segment cap) and `spanning_ok` asserts byte-identical "
    "reassembly with the page count checked against the lacing "
    "arithmetic. Opus PAYLOAD decode (SILK/CELT) remains the "
    "declared perceptual-codec stub — the container no longer is.",
)
def llm_multimodal_ogg_demux(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    return multimodal.ogg_packet_features(docs)


@parity(
    "llm_multimodal_ogg_flac",
    sql="""
    SELECT doc_id,
           'ogg-flac' AS codec,
           CAST(1 + doc_id % 2 AS BIGINT) AS channels,
           CAST(400 + (doc_id % 5) * 80 AS BIGINT) AS n_samples,
           CAST((doc_id % 9) * 100 - 400 AS BIGINT) AS first_sample,
           CAST(CEIL((400 + (doc_id % 5) * 80) / 256.0) AS BIGINT)
               AS n_frame_packets,
           CAST(400 + (doc_id % 5) * 80 AS BIGINT) AS last_granule,
           true AS bit_exact_ok,
           true AS md5_ok
    FROM documents WHERE doc_id < 50
    """,
    doc="FLAC-in-Ogg (RFC 5334 mapping) through the engine — the two "
    "real kernels COMPOSED into the distribution form FLAC actually "
    "streams in: llm.flac frames packetized one-per-packet into "
    "CRC'd RFC 3533 pages (0x7F'FLAC' mapping packet carrying "
    "STREAMINFO on the BOS page, frame-last-sample granule "
    "positions), demuxed and decoded back. `bit_exact_ok` asserts "
    "PCM identity through BOTH layers (a paging/lacing bug corrupts "
    "a frame and the FLAC frame CRCs / STREAMINFO MD5 catch it); "
    "`last_granule` must equal the sample count and "
    "`n_frame_packets` the block-size arithmetic, both "
    "oracle-recomputed. ogg_demux now dispatches on the BOS packet "
    "(OpusHead vs FLAC mapping), so the Opus path is regression-"
    "covered by the same demuxer.",
)
def llm_multimodal_ogg_flac(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.ogg_flac_roundtrip_features(docs)


@parity(
    "scan_warc_gz",
    sql="""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 40),
    r AS (SELECT doc_id, j FROM d, UNNEST(range(0, 2)) u(j))
    SELECT r.doc_id,
           CAST(j AS BIGINT) AS record_idx,
           CAST(3 AS BIGINT) AS gzip_members,
           concat('https://site', CAST(r.doc_id % 7 AS VARCHAR),
                  '.example/d', CAST(r.doc_id AS VARCHAR),
                  '/p', CAST(j AS VARCHAR)) AS uri,
           CAST(200 + 4 * (j % 2) AS BIGINT) AS http_status,
           CAST(120 + 10 * j AS BIGINT) AS body_len,
           CAST((SELECT SUM((r.doc_id * 7 + r.j * 13 + 3 * i) % 256) % 997
                 FROM UNNEST(range(0, 16)) t(i)) AS BIGINT) AS body_sig,
           true AS body_exact
    FROM r
    """,
    doc="WARC/1.0 (ISO 28500) crawl-shard ingestion through the engine "
    "(llm/warc.py): per doc, a deterministic shard in the COMMON-CRAWL "
    "gzip layout — one gzip member per record (warcinfo + two HTTP "
    "response captures), concatenated, mtime=0 — is written and read "
    "back engine-side: raw-zlib member walk (unused_data IS the next "
    "member — the layout that buys byte-offset random access into a "
    "100 TB shard), WARC header parse, Content-Length body slicing "
    "(never scanning — bodies may contain 'WARC/1.0'), record-"
    "terminator verification, and inner HTTP/1.1 message parse. "
    "`body_exact` asserts the sliced entity equals the synthesized "
    "body byte-for-byte; uri/status/length/checksum/member-count are "
    "recomputed independently by the oracle. This is the container "
    "a real crawl corpus arrives in — the ingestion step upstream of "
    "every documents-table op in this registry.",
)
def scan_warc_gz(spark, sf_dir):
    from .llm import warc

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    return warc.warc_scan_features(docs)


@parity(
    "scan_zip_shard",
    sql="""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 40),
    m AS (SELECT doc_id, i FROM d, UNNEST(range(0, 3)) u(i))
    SELECT m.doc_id,
           CAST(i AS BIGINT) AS member_idx,
           concat('m', CAST(m.doc_id AS VARCHAR), '_',
                  CAST(i AS VARCHAR), '.bin') AS name,
           CAST(CASE WHEN i = 0 THEN 0 ELSE 8 END AS BIGINT) AS method,
           CAST(CASE i WHEN 0 THEN 80 WHEN 1 THEN 200 ELSE 300 END
               AS BIGINT) AS size,
           CAST(CASE i
                WHEN 0 THEN (SELECT SUM((m.doc_id * 3 + k) % 256)
                             FROM UNNEST(range(0, 16)) t(k))
                WHEN 1 THEN (SELECT SUM((m.doc_id * 7 + (k * k) % 97) % 256)
                             FROM UNNEST(range(0, 16)) t(k))
                ELSE 16 * (m.doc_id % 256) END % 997 AS BIGINT) AS body_sig,
           true AS body_exact,
           true AS compressed_smaller
    FROM m
    """,
    doc="ZIP shard ingestion through the engine (llm/zipshard.py): per "
    "doc, a 3-member archive (STORED + two raw-DEFLATE members) is "
    "written and read back via the CENTRAL-DIRECTORY walk — EOCD "
    "located from the tail, central headers validated against the "
    "local headers they point at, members sliced by recorded offset, "
    "inflated, CRC-32- and size-verified. The directory-at-the-end "
    "layout is the random-access story (slice any member of a 100 TB "
    "shard without scanning it — mp4-sample-table economics for the "
    "container Kaggle/HF dumps ship in). `body_exact` asserts "
    "byte-identical recovery; name/method/size/checksum recomputed "
    "independently by the oracle. The kernel is cross-verified BOTH "
    "directions against stdlib zipfile in tests (our writer's output "
    "reads under zipfile; zipfile's output reads under our walker) — "
    "a genuine external verifier, not a self-consistent roundtrip.",
)
def scan_zip_shard(spark, sf_dir):
    from .llm import zipshard

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    return zipshard.zip_scan_features(docs)


@parity(
    "llm_source_cap",
    sql="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars AS n_chars_q,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC)
                 AS stratum_rank,
             COUNT(*) OVER (PARTITION BY source) AS stratum_size
      FROM documents
    )
    SELECT doc_id, source, n_chars_q,
           CAST(stratum_rank AS BIGINT) AS stratum_rank,
           CAST(stratum_size AS BIGINT) AS stratum_size
    FROM ranked WHERE stratum_rank <= 10
    """,
    doc="Per-source document cap (llm/mixing.py cap_per_stratum) — the "
    "crawl-cleaning step that stops one domain/dump from dominating "
    "the mix (C4 keeps ≤ N pages per host; corpus cards list the "
    "cap): keep the 10 best docs per source, best-first by "
    "(n_chars desc, doc_id asc) — fully deterministic on any engine, "
    "partitioning, or row order — with per-stratum rank and pre-cap "
    "size as the dataset-card audit columns. ONE shuffle keyed by "
    "source (thousands of parallel partitions at 100 TB, never a "
    "global sort); a host outgrowing one task is the documented "
    "two-phase top-N / AQE skew escape.",
)
def llm_source_cap(spark, sf_dir):
    from .llm import mixing

    return mixing.cap_per_stratum(
        _t(spark, sf_dir, "documents"), cap=10
    )


@parity(
    "scan_webdataset_tar",
    sql="""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 40),
    s AS (SELECT doc_id, j, 4 + j AS w, 3 + j AS h
          FROM d, UNNEST(range(0, 2)) u(j))
    SELECT s.doc_id,
           CAST(j AS BIGINT) AS sample_idx,
           concat(lpad(CAST(s.doc_id AS VARCHAR), 9, '0'), '_',
                  CAST(j AS VARCHAR)) AS key,
           CAST(3 AS BIGINT) AS n_members,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST((SELECT SUM((s.doc_id * 5 + s.j * 17 + i) % 256)
                 FROM UNNEST(range(0, 60)) t(i)
                 WHERE i < 3 * s.w * s.h) AS BIGINT) AS pix_sum,
           CAST(20 + 7 * j + s.doc_id % 5 AS BIGINT) AS caption_len,
           CAST((s.doc_id * 3 + j) % 10 AS BIGINT) AS meta_label,
           true AS image_exact
    FROM s
    """,
    doc="WebDataset shard ingestion through the engine "
    "(llm/webdataset.py): per doc, a 2-sample POSIX-ustar shard "
    "(key.ppm raster + key.json metadata + key.txt caption per "
    "sample — the tar-of-grouped-samples layout PyTorch loaders "
    "stream) is written with hand-rolled 512-byte headers and read "
    "back engine-side: offset header walk with CHECKSUM verification, "
    "octal size parse, 512-block padding arithmetic, dot-key sample "
    "regrouping, PPM decode and JSON parse of the members. "
    "`image_exact` asserts the decoded raster is byte-identical to "
    "the packed one; dims/pixel-sum/caption-length/label/key are "
    "recomputed independently by the oracle. Together with "
    "scan_warc_gz this closes the two shard formats a multimodal "
    "training corpus actually ships in.",
)
def scan_webdataset_tar(spark, sf_dir):
    from .llm import webdataset

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    return webdataset.webdataset_scan_features(docs)


@parity(
    "llm_multimodal_png_16bit",
    sql="""
    WITH d AS (SELECT doc_id, (doc_id % 5) + 2 AS w, (doc_id % 3) + 2 AS h
               FROM documents WHERE doc_id < 50),
    s AS (SELECT doc_id, w, h, (doc_id * 257 + j * 4099) % 65536 AS v
          FROM d, UNNEST(range(0, 72)) u(j) WHERE j < 3 * w * h)
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(16 AS BIGINT) AS depth,
           CAST(6 * w * h AS BIGINT) AS n_pixel_bytes,
           CAST(SUM(v) AS BIGINT) AS sample_sum,
           (ROUND(SUM(v) * 1.0 / (3 * w * h) + 1e-9, 4) + 0.0) AS mean_sample
    FROM s GROUP BY doc_id, w, h
    """,
    doc="16-BIT PNG decode through the engine: big-endian u16 RGB "
    "rasters written with the spec §9.2 byte-filter distance (6 bytes "
    "at depth 16) and decoded back bit-exactly; features come from the "
    "decoded u16 samples and the oracle recomputes them from the "
    "source formula. Closes the 16-bit declared stub; sub-byte palette "
    "depths remain one (16-bit palette is not spec-legal and is "
    "rejected).",
)
def llm_multimodal_png_16bit(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.png_16bit_roundtrip_features(docs)


@parity(
    "llm_multimodal_png_trns",
    sql="""
    WITH d AS (SELECT doc_id, (doc_id % 6) + 3 AS w, (doc_id % 4) + 3 AS h
               FROM documents WHERE doc_id < 50),
    s AS (SELECT doc_id, w, h, (doc_id + i) % 12 AS c
          FROM d, UNNEST(range(0, 48)) u(i) WHERE i < w * h),
    v AS (SELECT doc_id, w, h,
                 (40 + 13 * c) % 256 AS r,
                 (60 + 29 * c) % 256 AS g,
                 (80 + 41 * c) % 256 AS b,
                 CASE WHEN c % 3 <> 0 THEN 255 ELSE (40 + 17 * c) % 255 END AS a
          FROM s)
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(4 AS BIGINT) AS channels,
           CAST(4 * w * h AS BIGINT) AS n_pixel_bytes,
           CAST(SUM(r + g + b + a) AS BIGINT) AS pix_sum,
           (ROUND(SUM(r + g + b + a) * 1.0 / (4 * w * h) + 1e-9, 4) + 0.0) AS mean_pixel
    FROM v GROUP BY doc_id, w, h
    """,
    doc="Palette-TRANSPARENCY (tRNS) PNG decode through the engine: "
    "RGBA rasters mixing opaque and translucent palette entries are "
    "written as PLTE + a TRUNCATED tRNS table (alpha-ascending palette "
    "sort, trailing opaque entries dropped per the spec default-255 "
    "rule — so the decoder's entries-past-the-table path runs on every "
    "doc) and decoded back to RGBA bit-exactly. Lossless; oracle "
    "recomputes from the source formula. Closes the tRNS declared "
    "stub; gray/RGB color-key transparency remains one.",
)
def llm_multimodal_png_trns(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.png_trns_roundtrip_features(docs)


@parity(
    "llm_multimodal_png_adam7",
    sql="""
    WITH d AS (SELECT doc_id, (doc_id % 5) + 2 AS w, (doc_id % 3) + 2 AS h
               FROM documents WHERE doc_id < 50),
    s AS (SELECT doc_id, w, h, j FROM d, UNNEST(range(0, 72)) u(j)
          WHERE j < 3 * w * h),
    v AS (SELECT doc_id, w, h, (doc_id * 7 + j) % 256 AS px FROM s)
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           COUNT(*) AS n_pixel_bytes,
           CAST(SUM(px) AS BIGINT) AS pix_sum,
           (ROUND(SUM(px) * 1.0 / COUNT(*) + 1e-9, 4) + 0.0) AS mean_pixel
    FROM v GROUP BY doc_id, w, h
    """,
    doc="Adam7-INTERLACED PNG decode through the engine: the same "
    "rasters and oracle as llm_multimodal_png, but the stream carries "
    "interlace method 1 — seven independently-filtered sub-images "
    "(spec §8.2 pass grid) that the decoder unfilters per pass and "
    "scatters back onto the pixel grid. Interlacing must be "
    "output-invisible, so the oracle is IDENTICAL to the "
    "non-interlaced entry's — any pass-layout, per-pass filter-state, "
    "or scatter bug shifts pixels and breaks the hash. Closes the "
    "Adam7 declared stub.",
)
def llm_multimodal_png_adam7(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.png_adam7_roundtrip_features(docs)


@parity(
    "llm_multimodal_png_palette",
    sql="""
    WITH d AS (SELECT doc_id, (doc_id % 6) + 3 AS w, (doc_id % 4) + 3 AS h
               FROM documents WHERE doc_id < 50),
    s AS (SELECT doc_id, w, h, i FROM d, UNNEST(range(0, 48)) u(i)
          WHERE i < w * h),
    v AS (SELECT doc_id, w, h,
                 (40 + 13 * ((doc_id + i) % 16)) % 256 AS r,
                 (60 + 29 * ((doc_id + i) % 16)) % 256 AS g,
                 (80 + 41 * ((doc_id + i) % 16)) % 256 AS b
          FROM s)
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(LEAST(16, w * h) AS BIGINT) AS n_colors,
           CAST(3 * w * h AS BIGINT) AS n_pixel_bytes,
           CAST(SUM(r + g + b) AS BIGINT) AS pix_sum,
           (ROUND(SUM(r + g + b) * 1.0 / (3 * w * h) + 1e-9, 4) + 0.0) AS mean_pixel
    FROM v GROUP BY doc_id, w, h
    """,
    doc="REAL indexed-color (PLTE) PNG decode through the engine — the "
    "palette half of the r7 PNG stub closed the same way "
    "(multimodal.encode_png_palette/decode_png): deterministic 16-color "
    "raster → palette build + index scanlines through the full "
    "five-filter rotation at bpp=1 → PLTE parse, unfilter, palette "
    "expansion back to RGB. Lossless, so the oracle recomputes pixel "
    "features from the source formula and the worker bit-exact-guards "
    "the roundtrip. Remaining PNG stubs: sub-byte palette depths, "
    "16-bit, tRNS (each a tested NotImplementedError contract); Adam7 "
    "is covered by llm_multimodal_png_adam7.",
)
def llm_multimodal_png_palette(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.png_palette_roundtrip_features(docs)


@parity(
    "llm_multimodal_jpeg",
    sql="""
    SELECT doc_id,
           CAST((doc_id % 9) + 4 AS BIGINT) AS width,
           CAST((doc_id % 7) + 4 AS BIGINT) AS height,
           CAST(((doc_id % 9) + 4) * ((doc_id % 7) + 4) AS BIGINT) AS n_pixel_bytes,
           true AS max_err_ok,
           true AS mean_err_ok
    FROM documents WHERE doc_id < 50
    """,
    doc="REAL baseline JPEG codec through the engine (llm/jpeg.py: "
    "block DCT, quality-90 Annex-K quantization, stream-declared "
    "huffman tables, byte-stuffed bitstream; decoder parses DQT/DHT/"
    "SOF0/SOS generically). Lossy-codec verdict surface: quantization "
    "makes decoded != source BY DESIGN, so unlike WAV/PPM/PNG the "
    "oracle cannot recompute pixel features from the source formula — "
    "it checks the exact dims/byte counts and boolean error-bound "
    "verdicts (max |err| ≤ 16, mean ≤ 4 at Q90; measured max 1 on "
    "smooth rasters / 12 on pure noise). A wrong zigzag, huffman "
    "table, stuffing byte, or IDCT would blow the bound or fail the "
    "parse outright. Grayscale surface; the color codec is "
    "llm_multimodal_jpeg_color (progressive stays a declared stub).",
)
def llm_multimodal_jpeg(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.jpeg_roundtrip_features(docs)


@parity(
    "llm_multimodal_jpeg_color",
    sql="""
    SELECT doc_id,
           CAST((doc_id % 9) + 4 AS BIGINT) AS width,
           CAST((doc_id % 7) + 4 AS BIGINT) AS height,
           CAST(((doc_id % 9) + 4) * ((doc_id % 7) + 4) * 3 AS BIGINT) AS n_pixel_bytes,
           CASE doc_id % 3 WHEN 0 THEN '444' WHEN 1 THEN '422' ELSE '420' END AS subsampling,
           true AS max_err_ok,
           true AS mean_err_ok
    FROM documents WHERE doc_id < 50
    """,
    doc="REAL baseline COLOR JPEG codec through the engine (VERDICT r7 "
    "§next-round-3; llm/jpeg.py encode_jpeg_color/decode_jpeg): T.871 "
    "full-range RGB⇄YCbCr, box-average chroma subsampling cycling "
    "4:4:4/4:2:2/4:2:0 across the corpus, Annex-K K.1 luma + K.2 "
    "chroma quantization, interleaved-MCU scan; the decoder parses "
    "sampling factors and per-component table selectors from the "
    "stream and replication-upsamples chroma. Verdict surface (lossy "
    "codec — same discipline as llm_multimodal_jpeg): exact "
    "dims/bytes/subsampling oracle-checked, error bounds max ≤ 8 / "
    "mean ≤ 2 at Q90 on smooth rasters (measured 4 / 1.2 over the "
    "corpus; noise worst-case decomposed vs the ideal-subsampling "
    "reference in tests). The crawl-corpus shape: web images are "
    "overwhelmingly 4:2:0 color JPEG.",
)
def llm_multimodal_jpeg_color(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.jpeg_color_roundtrip_features(docs)


@parity(
    "llm_multimodal_jpeg_progressive",
    sql="""
    SELECT doc_id,
           CAST((doc_id % 9) + 4 AS BIGINT) AS width,
           CAST((doc_id % 7) + 4 AS BIGINT) AS height,
           CAST(((doc_id % 9) + 4) * ((doc_id % 7) + 4) * 3 AS BIGINT) AS n_pixel_bytes,
           CASE doc_id % 3 WHEN 0 THEN '444' WHEN 1 THEN '422' ELSE '420' END AS subsampling,
           true AS matches_baseline,
           true AS sa_matches_baseline,
           true AS max_err_ok
    FROM documents WHERE doc_id < 50
    """,
    doc="PROGRESSIVE (SOF2) JPEG through the engine — the remaining "
    "crawl-corpus JPEG shape after llm_multimodal_jpeg_color, BOTH "
    "layouts: pure spectral selection (interleaved DC scan + "
    "non-interleaved per-component AC scans with EOB-run coding) AND "
    "the libjpeg-shaped successive-approximation ladder (DC Al=1 + "
    "refinement bits; AC Al=1 + G.1.2.3 refinement with correction "
    "bits buffered behind open EOB runs), decoded through the "
    "multi-scan coefficient-accumulation path. Verdict surface: both "
    "encodings share the exact baseline quantized coefficients, so "
    "`matches_baseline` and `sa_matches_baseline` assert the decodes "
    "are BIT-IDENTICAL — the strongest oracle a lossy codec admits; "
    "any scan-ordering/EOB-run/refinement/component-grid bug flips "
    "one.",
)
def llm_multimodal_jpeg_progressive(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.jpeg_progressive_roundtrip_features(docs)


@parity(
    "llm_corpus_clean",
    sql=f"""
    WITH base AS (
      SELECT doc_id, text, lang,
             len({_TOK}) AS n_tokens,
             (ROUND(COALESCE((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))) * 1.0 / NULLIF(length(text), 0), 0) + 1e-9, 4) + 0.0) AS punct_ratio,
             (ROUND(COALESCE(len(list_filter({_TOK}, x -> x IN ('the', 'a', 'and', 'of', 'to'))) * 1.0 / NULLIF(len({_TOK}), 0), 0) + 1e-9, 4) + 0.0) AS stop_ratio
      FROM documents
    ),
    scored AS (
      SELECT doc_id, text, lang,
             (ROUND(0.4 * least(n_tokens / 50.0, 1.0) + 0.3 * (1.0 - punct_ratio) + 0.3 * stop_ratio + 1e-9, 4) + 0.0) AS quality
      FROM base
    ),
    kept AS (SELECT * FROM scored WHERE quality >= 0.5),
    canon AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY text),
    cleaned AS (SELECT k.doc_id, k.lang, k.quality FROM kept k JOIN canon USING (doc_id))
    SELECT doc_id, lang, quality FROM cleaned
    WHERE (lang = 'en' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
       OR lang <> 'en'
    """,
    doc="End-to-end corpus cleaning as ONE declarative engine-side DAG — "
    "quality filter (C4/Gopher-style score ≥ 0.5) → exact dedup (keep "
    "min doc_id per distinct text) → stratified rebalance (downsample "
    "en to 50% by md5 prefix). The composition the reference does "
    "client-side in pandas runs entirely in the engine: one text-scan "
    "pass for scoring (map-only), one dedup shuffle, a map-only "
    "sampling predicate — no driver round trips between stages, and "
    "Catalyst pipelines the whole thing.",
)
def llm_corpus_clean(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "text", "lang").join(
        text.quality_score(docs).select("doc_id", "quality"), "doc_id"
    )
    kept = scored.filter(F.col("quality") >= 0.5)
    canon = kept.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    cleaned = kept.join(canon, "doc_id")
    sampled = rel_ops.stratified_sample_deterministic(
        cleaned,
        strata_col="lang",
        key_col="doc_id",
        rates={"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0},
    )
    return sampled.select("doc_id", "lang", "quality")


@parity(
    "llm_sample_temperature",
    sql="""
    WITH counts AS (SELECT lang, COUNT(*) AS n_s FROM documents GROUP BY lang),
    tot AS (SELECT SUM(n_s) AS n, SUM(POW(CAST(n_s AS DOUBLE), 0.5)) AS z FROM counts),
    w AS (SELECT lang,
                 (ROUND(CAST(n AS DOUBLE) * POW(CAST(n_s AS DOUBLE), 0.5) / z
                       / CAST(n_s AS DOUBLE) + 1e-9, 6) + 0.0) AS wgt
          FROM counts, tot),
    r AS (SELECT d.doc_id, d.lang,
                 CAST(FLOOR(w.wgt) AS BIGINT)
                 + CASE WHEN (((d.doc_id & 2147483647) * 40503) % 65536) / 65536.0
                             < w.wgt - FLOOR(w.wgt)
                        THEN 1 ELSE 0 END AS n_copies
          FROM documents d JOIN w USING (lang))
    SELECT doc_id, lang, n_copies, CAST(ci AS BIGINT) AS copy_idx
    FROM r, UNNEST(range(1, 9)) u(ci)
    WHERE n_copies > 0 AND ci <= n_copies
    """,
    doc="Temperature resampling (alpha=0.5, UniMax-style multilingual "
    "mix): stratum proportions reweighted to (n_s/N)^alpha at constant "
    "expected total — rare languages upsampled, the dominant one "
    "downsampled — realized as deterministic per-row copy counts "
    "(floor(w) + hash-fraction tiebreak, no RNG). One tiny count "
    "aggregate broadcast back, then a map-side sequence-explode: no "
    "data shuffle. Weights rounded with the cross-engine epsilon before "
    "the floor/frac split so realized counts match bit-for-bit.",
)
def llm_sample_temperature(spark, sf_dir):
    return mixing.temperature_resample(
        _t(spark, sf_dir, "documents"), alpha=0.5, strata_col="lang"
    ).select("doc_id", "lang", "n_copies", "copy_idx")


@parity(
    "llm_sample_stratified",
    sql="""
    SELECT doc_id, lang FROM documents
    WHERE (lang = 'en' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000')
       OR (lang = 'de' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'c000')
       OR (lang = 'es' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'c000')
       OR (lang = 'fr' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'c000')
       OR (lang = 'zh' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'c000')
    """,
    doc="Stratified deterministic sampling: per-language keep rates "
    "(downsample dominant en to 25%, keep others at 75%) decided by a "
    "4-hex-digit md5(doc_id) prefix threshold — stable across runs, "
    "engines, partitionings, and re-orderings (rand()/sampleBy give "
    "none of these), so training subsets are reproducible and "
    "independently recomputable. Map-only literal CASE: no join, no "
    "shuffle, predicate runs in the scan.",
)
def llm_sample_stratified(spark, sf_dir):
    return rel_ops.stratified_sample_deterministic(
        _t(spark, sf_dir, "documents"),
        strata_col="lang",
        key_col="doc_id",
        rates={"en": 0.25, "de": 0.75, "es": 0.75, "fr": 0.75, "zh": 0.75},
    ).select("doc_id", "lang")


_PACK_BUDGET = 256

@parity(
    "llm_pack_sequences",
    sql=f"""
    WITH RECURSIVE tok AS MATERIALIZED (
      SELECT CAST(lang AS VARCHAR) AS group_key, doc_id,
             CAST(len({_TOK}) AS BIGINT) AS n_tokens
      FROM documents WHERE text IS NOT NULL),
    ordered AS MATERIALIZED (
      SELECT group_key, doc_id, n_tokens,
             row_number() OVER (PARTITION BY group_key ORDER BY doc_id) AS rn
      FROM tok),
    packed AS (
      SELECT group_key, doc_id, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin_id,
             CAST(0 AS BIGINT) AS "offset",
             CASE WHEN n_tokens >= {_PACK_BUDGET} THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS nb,
             CASE WHEN n_tokens >= {_PACK_BUDGET} THEN CAST(0 AS BIGINT) ELSE n_tokens END AS nf
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.group_key, o.doc_id, o.n_tokens, o.rn,
             p.nb + CASE WHEN p.nf > 0 AND p.nf + o.n_tokens > {_PACK_BUDGET} THEN 1 ELSE 0 END AS bin_id,
             CASE WHEN p.nf > 0 AND p.nf + o.n_tokens > {_PACK_BUDGET} THEN 0 ELSE p.nf END AS "offset",
             p.nb + CASE WHEN p.nf > 0 AND p.nf + o.n_tokens > {_PACK_BUDGET} THEN 1 ELSE 0 END
                  + CASE WHEN (CASE WHEN p.nf > 0 AND p.nf + o.n_tokens > {_PACK_BUDGET} THEN 0 ELSE p.nf END) + o.n_tokens >= {_PACK_BUDGET} THEN 1 ELSE 0 END AS nb,
             CASE WHEN (CASE WHEN p.nf > 0 AND p.nf + o.n_tokens > {_PACK_BUDGET} THEN 0 ELSE p.nf END) + o.n_tokens >= {_PACK_BUDGET}
                  THEN 0
                  ELSE (CASE WHEN p.nf > 0 AND p.nf + o.n_tokens > {_PACK_BUDGET} THEN 0 ELSE p.nf END) + o.n_tokens END AS nf
      FROM ordered o JOIN packed p ON o.group_key = p.group_key AND o.rn = p.rn + 1)
    SELECT group_key, doc_id, n_tokens, bin_id, "offset",
           n_tokens > {_PACK_BUDGET} AS oversized
    FROM packed
    """,
    doc=f"Sequence packing for training dataloaders: greedy sequential "
    f"bin packing of documents into {_PACK_BUDGET}-token context "
    "windows, per language group — every doc gets (bin_id, offset) so a "
    "writer can materialize packed sequences engine-side. Packing is "
    "sequential within a group, so the group is the parallelism unit "
    "(one applyInPandas linear scan per group; at 100 TB the group is a "
    "shard key with thousands of parallel scans and no cross-group "
    "state). The oracle replays the identical greedy recurrence as a "
    "DuckDB recursive CTE.",
)
def llm_pack_sequences(spark, sf_dir):
    return packing.pack_sequences(
        _t(spark, sf_dir, "documents"), budget=_PACK_BUDGET, group_col="lang"
    )


@parity(
    "llm_similarity_ivf",
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           true AS coverage_ok, true AS top1_ok
    FROM embeddings WHERE vec_id < 20 AND embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    """,
    doc="IVF-style approximate top-k: deterministic Lloyd k-means coarse "
    "quantizer (one pass per iteration, per-partition partials to the "
    "driver) partitions the corpus into inverted lists; queries probe "
    "their nprobe nearest lists (one numpy nearest-centroid UDF assigns "
    "both). Candidate volume "
    "N·nprobe/k — the scale path when queries are too many to broadcast "
    "against the whole corpus. Candidate lists depend on the learned "
    "centroids, so the driver surface is a verdict over the "
    "oracle-checkable query set: every query is answered, and the IVF "
    "rank-1 neighbor matches brute-force rank-1 for ≥ 30% of queries "
    "(measured 100% at sf0.01). Raw top-k + recall in tests/test_llm.py.",
)
def llm_similarity_ivf(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = similarity.finite_vectors(emb.filter(F.col("vec_id") < 20), dim=64)
    ivf = similarity.ivf_topk(
        emb, q, k=3, num_centroids=8, nprobe=4, iters=2, dim=64
    )
    ex1 = similarity.brute_force_topk(emb, q, k=1, dim=64).select(
        "q_id", "n_id"
    )
    top1_hits = (
        ivf.filter(F.col("rank") == 1)
        .select("q_id", "n_id")
        .join(ex1, ["q_id", "n_id"], "left_semi")
        .agg(F.count("*").alias("n_top1_hit"))
    )
    cov = ivf.agg(F.count_distinct("q_id").alias("n_cov"))
    nq = q.agg(F.count("*").alias("n_queries"))
    return (
        nq.crossJoin(cov)
        .crossJoin(top1_hits)
        .select(
            "n_queries",
            (F.col("n_cov") == F.col("n_queries")).alias("coverage_ok"),
            (F.col("n_top1_hit") >= F.col("n_queries") * F.lit(0.3)).alias(
                "top1_ok"
            ),
        )
    )


@parity(
    "llm_similarity_pq",
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall3_ok
    FROM embeddings WHERE vec_id < 10 AND embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    """,
    doc="Product-quantization ANN (Jégou et al. 2011, public): per-"
    "subspace k-means codebooks (one Lloyd loop for all m; codebook is "
    "ksub·dim floats at any corpus scale), map-only corpus encode to m "
    "small codes (nearest-centroid UDF), ADC scan via per-query lookup tables (m table "
    "lookups per pair instead of a dim-length dot product), exact-"
    "cosine re-rank of the top-refine candidates. Approximate scores "
    "are engine-specific, so the driver surface is a verdict over the "
    "oracle-checkable query set: recall@3 vs brute force ≥ 0.5 "
    "(measured 0.77 at sf0.01 with m=8/refine=48). Raw top-k + recall "
    "curve stay tested in tests/test_llm.py.",
)
def llm_similarity_pq(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = similarity.finite_vectors(emb.filter(F.col("vec_id") < 10), dim=64)
    pq = similarity.pq_topk(
        emb, q, k=3, m=8, ksub=16, iters=1, refine=48, dim=64
    )
    ex3 = similarity.brute_force_topk(emb, q, k=3, dim=64).select("q_id", "n_id")
    hits = (
        pq.select("q_id", "n_id")
        .join(ex3, ["q_id", "n_id"], "left_semi")
        .agg(F.count("*").alias("n_hit"))
    )
    nq = q.agg(F.count("*").alias("n_queries"))
    return nq.crossJoin(hits).select(
        "n_queries",
        (F.col("n_hit") >= F.col("n_queries") * F.lit(3) * F.lit(0.5)).alias(
            "recall3_ok"
        ),
    )


@parity(
    "llm_similarity_ivfpq",
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall3_ok
    FROM embeddings WHERE vec_id < 10 AND embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    """,
    doc="IVF-PQ composition — the production ANN index shape: coarse "
    "k-means lists prune candidates to ~N·nprobe/k, PQ codes make "
    "scanning survivors m lookups per pair, exact-cosine re-rank of "
    "the top-refine. Corpus encoded once map-only (m bytes + cluster "
    "id per vector); only the fits' per-partition partials leave the "
    "executors. Approximate scores are engine-specific, so the driver "
    "surface is a verdict over the oracle-checkable query set: "
    "recall@3 vs brute force ≥ 0.4 (measured 0.70 at sf0.01 — coarse-"
    "list pruning caps it below PQ-alone). Raw top-k + recall curve "
    "stay tested in tests/test_llm.py.",
)
def llm_similarity_ivfpq(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = similarity.finite_vectors(emb.filter(F.col("vec_id") < 10), dim=64)
    ivfpq = similarity.ivfpq_topk(
        emb, q, k=3, num_centroids=8, nprobe=4,
        m=8, ksub=16, iters=1, refine=32, dim=64,
    )
    ex3 = similarity.brute_force_topk(emb, q, k=3, dim=64).select("q_id", "n_id")
    hits = (
        ivfpq.select("q_id", "n_id")
        .join(ex3, ["q_id", "n_id"], "left_semi")
        .agg(F.count("*").alias("n_hit"))
    )
    nq = q.agg(F.count("*").alias("n_queries"))
    return nq.crossJoin(hits).select(
        "n_queries",
        (F.col("n_hit") >= F.col("n_queries") * F.lit(3) * F.lit(0.4)).alias(
            "recall3_ok"
        ),
    )


# Shared truth for the exact-Jaccard clustering surface: identical
# output contract for the pair-contract path (llm_dedup_clusters) and
# the connectivity-equivalent edge-frame path (llm_dedup_clusters_edges)
# — the edge frame spans the same components by construction, so ONE
# oracle proves both.
_CLUSTERS_ORACLE_SQL = f"""
    WITH RECURSIVE grp AS MATERIALIZED (
      -- identical-TEXT collapse (r10, exact): identical texts share
      -- identical n-gram sets ⇒ Jaccard exactly 1.0 ≥ 0.5, always the
      -- same component. The posting-list join runs over DISTINCT texts
      -- only, so the key-offset-replicated sweeps scale the corpus but
      -- not the quadratic part (sf10's 100× multiplicity spilled the
      -- naive posting join past temp disk). Sub-3-token texts have no
      -- n-grams, hence never pair on either engine — they stay out of
      -- the collapse (singleton clusters below).
      SELECT text, MIN(doc_id) AS rep, list(doc_id) AS members
      FROM documents
      WHERE text IS NOT NULL AND len({_TOK}) >= 3
      GROUP BY text
    ),
    tok AS MATERIALIZED (SELECT rep, {_TOK} AS t FROM grp),
    ng AS (SELECT DISTINCT rep,
                  t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS g
           FROM tok, UNNEST(range(1, len(t) - 1)) u(i)),
    sizes AS (SELECT rep, COUNT(*) AS n FROM ng GROUP BY rep),
    inter AS (SELECT a.rep AS id_a, b.rep AS id_b, COUNT(*) AS common
              FROM ng a JOIN ng b ON a.g = b.g AND a.rep < b.rep
              GROUP BY 1, 2),
    prs AS (SELECT id_a, id_b FROM inter
            JOIN sizes sa ON sa.rep = id_a
            JOIN sizes sb ON sb.rep = id_b
            WHERE (ROUND(common * 1.0 / (sa.n + sb.n - common) + 1e-9, 4) + 0.0) >= 0.5),
    ed AS (SELECT id_a AS a, id_b AS b FROM prs
           UNION ALL SELECT id_b, id_a FROM prs),
    reach(src, dst) AS (
      SELECT rep, rep FROM grp
      UNION
      SELECT r.src, ed.b FROM reach r JOIN ed ON ed.a = r.dst
    ),
    rcl AS (SELECT src AS rep, MIN(dst) AS cluster_id FROM reach GROUP BY src),
    mems AS (SELECT rep, m.m AS doc_id FROM grp, unnest(members) m(m))
    SELECT mems.doc_id, rcl.cluster_id,
           (mems.doc_id = rcl.cluster_id) AS is_canonical
    FROM mems JOIN rcl USING (rep)
    UNION ALL
    SELECT doc_id, doc_id AS cluster_id, TRUE AS is_canonical
    FROM documents WHERE text IS NULL OR len({_TOK}) < 3
    """


@parity(
    "llm_dedup_clusters",
    sql=_CLUSTERS_ORACLE_SQL,
    doc="Near-dup clustering: connected components (alternating "
    "large-star/small-star, Kiveris et al. 2014 — O(log² n) rounds "
    "guaranteed, O(log n) observed) over the exact-Jaccard pair graph "
    "→ canonical doc per cluster + keep/drop flag. Each round is two "
    "groupBy+join edge rewrites; the driver loop holds only a scalar "
    "edge-set fingerprint. The oracle reproduces the components as a "
    "transitive-closure recursive CTE over the same exact-Jaccard "
    "≥ 0.5 edges (min reachable id = cluster id), with identical texts "
    "collapsed to their min-id rep first — exact (identical texts are "
    "Jaccard-1.0 members of the same component by construction) and "
    "distinct-text-bounded, so the sweep corpora's duplicate "
    "multiplicity never reaches the posting-list join. Transitivity + "
    "planted-cluster + union-find property tests in tests/.",
)
def llm_dedup_clusters(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    return dedup.dedup_clusters(docs, pairs)


@parity(
    "llm_dedup_clusters_edges",
    sql=_CLUSTERS_ORACLE_SQL,
    doc="The 100 TB shape of llm_dedup_clusters (r11): CC over the "
    "connectivity-equivalent edge frame (dedup.ngram_jaccard_edges — "
    "rep–member stars + rep-level threshold pairs) instead of the full "
    "pair contract, whose C(m,2)-per-dup-group output is quadratic in "
    "duplicate multiplicity (~2.5e9 rows at a 1000-replica corpus). "
    "The star spans exactly the same components, so the output — and "
    "the oracle — is identical to llm_dedup_clusters; edge volume "
    "stays linear in corpus + distinct² in pair generation. Text twin "
    "of the r10 semantic-dedup edge frame "
    "(similarity.cosine_near_dup_edges_lsh); equivalence pinned in "
    "tests/test_llm.py::test_ngram_edges_cluster_equivalent_to_pairs.",
)
def llm_dedup_clusters_edges(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    edges = dedup.ngram_jaccard_edges(docs, threshold=0.5)
    return dedup.dedup_clusters(docs, edges)


@parity(
    "llm_text_clean",
    sql="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[.!?,;:]', '', 'g'), '\\s+', ' ', 'g'), ' ') AS clean_text
    FROM documents
    """,
    doc="Text normalization pipeline: lowercase → strip punctuation → "
    "collapse whitespace → trim. Pure regexp expressions (codegen), the "
    "pre-tokenization cleanup stage of a training-data pipeline.",
)
def llm_text_clean(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[.!?,;:]", ""), r"\s+", " "
        )
    )
    return docs.select("doc_id", clean.alias("clean_text"))


@parity(
    "llm_text_pii_scrub",
    sql="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               'contact user' || doc_id || '@example.com or 555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || ' re: ' || substr(text, 1, 40),
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             '\\b\\d{3}-\\d{4}\\b', '<PHONE>', 'g') AS scrubbed
    FROM documents
    """,
    doc="PII scrubbing: email + phone redaction via regexp_replace over a "
    "synthesized PII-bearing column (testdata has no real PII). The "
    "redaction stage of a training-data pipeline, fully engine-side.",
)
def llm_text_pii_scrub(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    with_pii = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
        F.lit(" re: "),
        F.substring("text", 1, 40),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            with_pii, r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"
        ),
        r"\b\d{3}-\d{4}\b",
        "<PHONE>",
    )
    return docs.select("doc_id", scrubbed.alias("scrubbed"))


@parity(
    "llm_embed_normalize",
    sql="""
    WITH n AS (
      -- norm over the row's OWN length (not a hardcoded dim): normalize
      -- is a per-vector scalar op with propagate semantics, so a ragged
      -- vector normalizes over exactly its components on both engines
      -- NULL-poisoning CASE mirrors Spark's aggregate() fold: one NULL
      -- component makes the whole norm NULL (→ every unit_val 0.0),
      -- where DuckDB's list_sum would silently skip the element
      SELECT vec_id, embedding,
             CASE WHEN len(list_filter(embedding, x -> x IS NULL)) > 0 THEN NULL
                  ELSE sqrt(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) END AS nn
      FROM embeddings e2 WHERE vec_id < 50
    )
    SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
           COALESCE(CAST(embedding[CAST(i AS INT)] AS DOUBLE) / NULLIF(nn, 0), 0) AS unit_val
    FROM n, UNNEST(range(1, len(embedding) + 1)) u(i)
    """,
    doc="Unit-normalization of the embedding column (cosine becomes a "
    "plain dot product downstream): per-row array math in DOUBLE, "
    "map-only. Output exploded to (vec_id, pos, unit_val) rows so the "
    "driver canonicalizer can hash it (array cells are unhashable in "
    "its pandas sort path); the library op keeps the array shape.",
)
def llm_embed_normalize(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    normed = similarity.with_norm(emb, "embedding", "__n")
    # zero-norm vectors normalize to zeros (not DIVIDE_BY_ZERO/NULL)
    unit = F.expr(
        "transform(embedding, x -> coalesce(try_divide(CAST(x AS DOUBLE), __n), 0.0))"
    )
    return (
        normed.select("vec_id", F.posexplode(unit).alias("pos", "unit_val"))
        .select("vec_id", F.col("pos").cast("long").alias("pos"), "unit_val")
    )


@parity(
    "llm_embed_quantize",
    sql="""
    WITH scaled AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
      FROM embeddings WHERE vec_id < 50
    )
    SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos, (ROUND(scale + 1e-9, 6) + 0.0) AS scale_r,
           -- TRY_CAST: a NaN/Inf component (failed upstream embedding
           -- math) quantizes to a NULL code, not a CAST_OVERFLOW crash
           TRY_CAST(round(COALESCE(CAST(embedding[CAST(i AS INT)] AS DOUBLE) / NULLIF(scale, 0), 0)) AS BIGINT) AS q8
    FROM scaled, UNNEST(range(1, len(embedding) + 1)) u(i)
    """,
    doc="Symmetric int8 quantization of embeddings (scale = max|x|/127 per "
    "vector): 4× storage cut for ANN indexes; integer codes are exact "
    "across engines, the scale survives for dequantization. Output "
    "exploded to (vec_id, pos, scale_r, q8) rows so the driver "
    "canonicalizer can hash it; the library op keeps the array shape.",
)
def llm_embed_quantize(spark, sf_dir):
    from .parity import r_

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    scale = (
        F.expr(
            "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
        )
        / F.lit(127.0)
    )
    scaled = emb.withColumn("scale", scale)
    # all-zero vectors (scale 0) quantize to zero codes; NaN/Inf
    # components (failed upstream embedding math) to NULL codes via
    # try_cast — a per-vector scalar op PROPAGATES bad components
    # rather than dropping the row (the geometric ops' ingest filter
    # is similarity.finite_vectors)
    q8 = F.expr(
        "transform(embedding, x -> try_cast(round(coalesce(try_divide(CAST(x AS DOUBLE), scale), 0.0)) AS BIGINT))"
    )
    return (
        scaled.select(
            "vec_id",
            r_(F.col("scale"), 6).alias("scale_r"),
            F.posexplode(q8).alias("pos", "q8"),
        )
        .select(
            "vec_id",
            F.col("pos").cast("long").alias("pos"),
            "scale_r",
            "q8",
        )
    )


@parity(
    "llm_chunk_documents",
    sql="""
    SELECT doc_id,
           CAST(i // 100 AS BIGINT) AS chunk_id,
           CAST(length(substr(text, CAST(i + 1 AS INT), 120)) AS BIGINT) AS chunk_len,
           substr(text, CAST(i + 1 AS INT), 120) AS chunk
    FROM documents, UNNEST(range(0, greatest(length(text), 1), 100)) u(i)
    """,
    doc="Fixed-size character chunking with overlap (chunk 120, stride "
    "100) — the pretraining 'split documents into training windows' op. "
    "sequence+posexplode+substr, all codegen, map-side only: one row "
    "fans out to ceil(n/step) rows with no shuffle (llm.text."
    "chunk_documents).",
)
def llm_chunk_documents(spark, sf_dir):
    return text.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_size=120, overlap=20
    )


@parity(
    "llm_text_repetition",
    sql=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents)
    SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_unique_words,
           (ROUND(1.0 - len(list_distinct(t)) * 1.0 / len(t) + 1e-9, 4) + 0.0) AS dup_word_ratio
    FROM tok
    """,
    doc="Within-document repetition (Gopher-style duplicate-word "
    "filter): dup ratio = 1 - unique/total words. Pure array "
    "expressions, no explode, no shuffle (llm.text.repetition_score).",
)
def llm_text_repetition(spark, sf_dir):
    return text.repetition_score(_t(spark, sf_dir, "documents"))


@parity(
    "llm_gopher_repetition",
    sql=f"""
    WITH d AS (SELECT doc_id, {_TOK} AS t FROM documents WHERE text IS NOT NULL),
    base AS (SELECT doc_id, t, length(array_to_string(t, ' ')) AS n_chars FROM d),
    d5 AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 5 THEN
               (ROUND((CAST(len(t) - 4 AS DOUBLE)
                      - len(list_distinct(list_transform(range(1, CAST(len(t) AS BIGINT) - 3),
                          i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
                               || ' ' || t[CAST(i AS INT)+3] || ' ' || t[CAST(i AS INT)+4]))))
                     / (len(t) - 4) + 1e-9, 4) + 0.0)
             ELSE 0.0 END AS dup_5gram_frac
      FROM base),
    grams AS (
      SELECT doc_id, 2 AS n, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1] AS g
      FROM base, UNNEST(range(1, CAST(len(t) AS BIGINT))) u(i)
      UNION ALL
      SELECT doc_id, 3, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2]
      FROM base, UNNEST(range(1, CAST(len(t) AS BIGINT) - 1)) u(i)
      UNION ALL
      SELECT doc_id, 4, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2] || ' ' || t[CAST(i AS INT)+3]
      FROM base, UNNEST(range(1, CAST(len(t) AS BIGINT) - 2)) u(i)
    ),
    cnt AS (SELECT doc_id, n, g, COUNT(*) AS cnt FROM grams GROUP BY 1, 2, 3),
    top1 AS (SELECT doc_id, n, g, cnt,
                    ROW_NUMBER() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, g) AS rn
             FROM cnt),
    piv AS (SELECT doc_id,
                   MAX(CASE WHEN n = 2 THEN cnt * length(g) END) AS c2,
                   MAX(CASE WHEN n = 3 THEN cnt * length(g) END) AS c3,
                   MAX(CASE WHEN n = 4 THEN cnt * length(g) END) AS c4
            FROM top1 WHERE rn = 1 GROUP BY doc_id)
    SELECT b.doc_id, CAST(b.n_chars AS BIGINT) AS n_chars,
           (ROUND(COALESCE(c2 * 1.0 / NULLIF(b.n_chars, 0), 0) + 1e-9, 4) + 0.0) AS top2_char_frac,
           (ROUND(COALESCE(c3 * 1.0 / NULLIF(b.n_chars, 0), 0) + 1e-9, 4) + 0.0) AS top3_char_frac,
           (ROUND(COALESCE(c4 * 1.0 / NULLIF(b.n_chars, 0), 0) + 1e-9, 4) + 0.0) AS top4_char_frac,
           d5.dup_5gram_frac,
           ((ROUND(COALESCE(c2 * 1.0 / NULLIF(b.n_chars, 0), 0) + 1e-9, 4) + 0.0) <= 0.20
            AND (ROUND(COALESCE(c3 * 1.0 / NULLIF(b.n_chars, 0), 0) + 1e-9, 4) + 0.0) <= 0.18
            AND (ROUND(COALESCE(c4 * 1.0 / NULLIF(b.n_chars, 0), 0) + 1e-9, 4) + 0.0) <= 0.16
            AND d5.dup_5gram_frac <= 0.15) AS gopher_pass
    FROM base b
    JOIN d5 USING (doc_id)
    LEFT JOIN piv USING (doc_id)
    """,
    doc="Gopher n-gram repetition quality signals (Rae et al. 2021 "
    "table A1): top-{2,3,4}-gram char fraction (thresholds "
    "0.20/0.18/0.16, deterministic count-desc/gram-asc tie-break, "
    "whitespace-normalized char denominator) + duplicate-5-gram "
    "occurrence fraction (threshold 0.15; occurrence proxy for the "
    "paper's positional char attribution — adaptation documented in "
    "llm.text.gopher_ngram_repetition). The standard corpus-quality "
    "rule set alongside llm_text_repetition's dup-word filter. One "
    "explode pass for all three n (union → keyed count → per-(doc,n) "
    "row_number); the dup-5-gram stat is shuffle-free array exprs.",
)
def llm_gopher_repetition(spark, sf_dir):
    return text.gopher_ngram_repetition(_t(spark, sf_dir, "documents"))


@parity(
    "llm_gopher_quality",
    sql=f"""
    WITH d AS (SELECT doc_id, text, {_TOK} AS t FROM documents WHERE text IS NOT NULL),
    m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             (ROUND(length(array_to_string(t, '')) * 1.0 / len(t) + 1e-9, 4) + 0.0) AS mean_word_len,
             (ROUND(((length(text) - length(replace(text, '#', '')))
                    + (length(text) - length(replace(text, '...', ''))) / 3
                    + (length(text) - length(replace(text, '…', '')))) * 1.0
                   / len(t) + 1e-9, 4) + 0.0) AS symbol_word_ratio,
             (ROUND(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
                   / len(t) + 1e-9, 4) + 0.0) AS alpha_word_frac,
             CAST(len(list_intersect(list_distinct(t),
                  ['the','be','to','of','and','that','have','with'])) AS BIGINT)
               AS n_required_words
      FROM d)
    SELECT *,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND symbol_word_ratio <= 0.1
            AND alpha_word_frac >= 0.8
            AND n_required_words >= 2) AS gopher_quality_pass
    FROM m
    """,
    doc="The non-repetition half of Gopher's quality rules (Rae et al. "
    "2021 table A1; the repetition half is llm_gopher_repetition): "
    "word count in [50, 100000], mean word length in [3, 10], "
    "symbol-to-word ratio ≤ 0.1 ('#' + '...' + '…' by literal-replace "
    "length deltas), alpha-word fraction ≥ 0.8, ≥ 2 distinct required "
    "words. Per-LINE rules omitted — this corpus has no newlines, so "
    "they'd be vacuous constants (documented in "
    "llm.text.gopher_quality). One narrow shuffle-free projection.",
)
def llm_gopher_quality(spark, sf_dir):
    return text.gopher_quality(_t(spark, sf_dir, "documents"))


@parity(
    "llm_vocab_topk",
    sql=f"""
    WITH tok AS (SELECT {_TOK} AS t FROM documents)
    SELECT u.word AS word, COUNT(*) AS n
    FROM tok, UNNEST(t) u(word)
    GROUP BY u.word ORDER BY n DESC, word LIMIT 25
    """,
    doc="Corpus top-k vocabulary: explode words, partial+final keyed "
    "count (map-side combine bounds the shuffle to distinct words per "
    "partition), TakeOrderedAndProject top-k with deterministic "
    "(count desc, word asc) tiebreak (llm.text.vocab_topk).",
)
def llm_vocab_topk(spark, sf_dir):
    return text.vocab_topk(_t(spark, sf_dir, "documents"), k=25)


@parity(
    "llm_contamination",
    sql=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    ng AS (SELECT DISTINCT doc_id,
                  t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS g
           FROM tok, UNNEST(range(1, len(t) - 1)) u(i) WHERE len(t) >= 3),
    bench AS (SELECT DISTINCT g FROM ng WHERE doc_id % 97 = 3),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM ng GROUP BY doc_id),
    hits AS (SELECT ng.doc_id, COUNT(*) AS n_hits
             FROM ng JOIN bench USING (g) GROUP BY ng.doc_id)
    SELECT s.doc_id, CAST(s.n_shingles AS BIGINT) AS n_shingles,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           (ROUND(COALESCE(h.n_hits, 0) * 1.0 / s.n_shingles + 1e-9, 4) + 0.0) AS contamination
    FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
    """,
    doc="Benchmark-contamination detection: fraction of each doc's "
    "word-3-gram shingles appearing in a benchmark set (stand-in: "
    "doc_id % 97 = 3 subset). The benchmark shingle set is BROADCAST; "
    "the corpus probe is map-side and per-doc aggregates key on "
    "doc_id, never the shingle — boilerplate shingles cannot skew the "
    "plan at 100 TB (llm.text.contamination).",
)
def llm_contamination(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 3)
    return text.contamination(docs, bench, n=3)


@parity(
    "udtf_lateral_words",
    sql=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents
                 WHERE doc_id < 50 AND length(trim(text, ' ')) > 0)
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[CAST(i AS INT)] AS word
    FROM tok, UNNEST(range(1, len(t) + 1)) u(i)
    """,
    doc="Python UDTF surface (Spark 4, SURVEY.md §2.10): a registered "
    "table function expanded with SQL LATERAL — one text row → "
    "(pos, word) rows (functions.udtf_words). Row-at-a-time Python, "
    "deliberately bounded to 50 docs; the codegen'd equivalent "
    "(posexplode(split())) is the hot path used by llm_vocab_topk.",
)
def udtf_lateral_words(spark, sf_dir):
    from .functions.udtf_words import register

    name = register(spark)
    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 50) & (F.length(F.trim("text")) > 0)
    )
    docs.createOrReplaceTempView("udtf_docs_v")
    return spark.sql(
        f"SELECT d.doc_id, w.pos, w.word FROM udtf_docs_v d, "
        f"LATERAL {name}(d.text) w"
    )


@parity(
    "llm_multimodal_frames",
    sql="""
    WITH d AS (SELECT doc_id, (doc_id % 4) + 2 AS w, (doc_id % 3) + 2 AS h,
                      (doc_id % 4) + 2 AS n_frames
               FROM documents WHERE doc_id < 50),
    fr AS (SELECT doc_id, w, h, j FROM d, UNNEST(range(0, 5)) u(j)
           WHERE j < n_frames AND j % 2 = 0),
    px AS (SELECT doc_id, w, h, j, (doc_id * 7 + j * 13 + k) % 256 AS v
           FROM fr, UNNEST(range(0, 108)) p(k) WHERE k < 3 * w * h)
    SELECT doc_id, CAST(j AS BIGINT) AS frame_idx,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(SUM(v) AS BIGINT) AS pix_sum,
           (ROUND(SUM(v) * 1.0 / COUNT(*) + 1e-9, 4) + 0.0) AS mean_pixel
    FROM px GROUP BY doc_id, j, w, h
    """,
    doc="REAL video frame sampling through the engine: a deterministic "
    "frame sequence per doc is encoded to a concatenated-PPM stream "
    "(ffmpeg's image2pipe/ppm raw-video bytes) and walked back with "
    "the pure-stdlib frame_sample kernel keeping every 2nd frame, "
    "inside one map_doc_kernel pass with row fanout (one row per "
    "sampled frame). Features come from the DECODED rasters while the "
    "oracle recomputes them from the source formula — any header-walk "
    "or frame-boundary bug breaks the cross-engine match. Converts the "
    "video stub into a tested kernel (multimodal.frame_sample); "
    "codec-compressed containers remain declared stubs.",
)
def llm_multimodal_frames(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.video_roundtrip_features(docs, every_n=2)


@parity(
    "llm_dedup_incremental",
    sql="""
    WITH corpus AS (SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0),
    batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 6 IN (0, 1))
    SELECT b.doc_id, sha256(b.text) AS content_hash
    FROM batch b WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)
    """,
    doc="Incremental dedup of a new batch AGAINST an ingested corpus "
    "(steady-state pipeline shape): engine-built Bloom filter over corpus "
    "text (distributed bitmap build via groupBy(word)+bit_or; Spark 4.1's "
    "runtime bloom injection skips LEFT ANTI joins, probed), positions "
    "hashed JVM-side, membership tested in an Arrow pandas UDF; "
    "might_contain=false rows bypass the shuffle entirely and only the "
    "candidate subset takes the exact left-anti join, so the result is "
    "exact at any fpp. Split plants guaranteed overlap (batch doc_id%6 in "
    "(0,1); corpus = even ids) so the drop path is exercised even at SFs "
    "with no natural dup texts.",
)
def llm_dedup_incremental(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter((F.col("doc_id") % 6).isin(0, 1))
    return dedup.incremental_dedup(batch, corpus)


@parity(
    "llm_train_order",
    sql="""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(doc_id || ':42'), doc_id) AS BIGINT) AS position,
           doc_id, md5(doc_id || ':42') AS shuffle_key
    FROM documents
    """,
    doc="Deterministic seeded global training order: shuffle_key = "
    "md5(doc_id:seed), global 1-based position assigned WITHOUT a "
    "single-partition window (rel_ops.global_rank_by_key: range-bucket "
    "on the key prefix, rank within buckets in parallel, add "
    "driver-cumsum'd bucket offsets via broadcast join — the only "
    "data-size shuffle is the bucket hash partition). Reproducible "
    "epoch ordering for a training dataloader at any cluster size.",
)
def llm_train_order(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42")))
    return rel_ops.global_rank_by_key(
        docs, key, F.col("doc_id")
    ).select("position", "doc_id", "shuffle_key")


@parity(
    "llm_text_tfidf",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, lower(unnest({_TOK})) AS w FROM documents
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w AS term, tf.tf, dfreq.df,
             (ROUND(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0) + 1e-9, 4) + 0.0) AS tfidf
      FROM tf JOIN dfreq USING (w) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rnk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC) AS BIGINT) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
    doc="Per-document top-3 TF-IDF keyword terms (smoothed sklearn idf). "
    "Ranking is on integer columns only (tf desc, df asc, term asc) so "
    "the top-k set is bit-identical across engines; the float score is "
    "presentation-only. ln() of identical integer ratios is IEEE-stable "
    "across DuckDB/Spark (libm log on exact doubles).",
)
def llm_text_tfidf(spark, sf_dir):
    return text.tfidf_topk(_t(spark, sf_dir, "documents"), k=3)


@parity(
    "llm_eval_overlap",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, list_distinct(list_transform({_TOK}, x -> lower(x))) AS ts
      FROM documents WHERE doc_id < 50 AND text IS NOT NULL
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.ts, b.ts)) AS n_common,
           (ROUND(len(list_intersect(a.ts, b.ts)) * 1.0 / len(a.ts) + 1e-9, 4) + 0.0) AS r1_precision,
           (ROUND(len(list_intersect(a.ts, b.ts)) * 1.0 / len(b.ts) + 1e-9, 4) + 0.0) AS r1_recall
    FROM tok a JOIN tok b ON a.doc_id < b.doc_id
    """,
    doc="ROUGE-1-style unigram-overlap metrics (precision/recall on "
    "unique token sets) for a bounded candidate pair set — the "
    "eval-side text-similarity metric used to validate dedup "
    "thresholds and summarization outputs. Set ops are per-pair array "
    "expressions (array_distinct / array_intersect — codegen); the "
    "bounded all-pairs here is the correctness baseline, and at scale "
    "the candidate set comes from the LSH/MinHash generators instead "
    "of a cross join (same composition as llm_embed_neardup → _lsh).",
)
def llm_eval_overlap(spark, sf_dir):
    # Overlap against a contentless doc is undefined — dropped at ingest
    # (list ops over NULL token sets also diverge across engines:
    # DuckDB's list_intersect treats a NULL side as empty, Spark's
    # array_intersect propagates NULL).
    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 50) & F.col("text").isNotNull()
    )
    tok = d.select(
        "doc_id",
        F.array_distinct(
            F.transform(dedup.tokens_col("text"), lambda x: F.lower(x))
        ).alias("ts"),
    )
    a = tok.select(F.col("doc_id").alias("id_a"), F.col("ts").alias("ts_a"))
    b = tok.select(F.col("doc_id").alias("id_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            inter.alias("n_common"),
            F.round(
                inter * 1.0 / F.size("ts_a") + F.lit(EPS), 4
            ).alias("r1_precision"),
            F.round(
                inter * 1.0 / F.size("ts_b") + F.lit(EPS), 4
            ).alias("r1_recall"),
        )
    )


@parity(
    "llm_select_dsir",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, lang, lower(unnest({_TOK})) AS w FROM documents
    ),
    tgt AS (SELECT w, COUNT(*) AS c FROM tok WHERE lang = 'en' GROUP BY 1),
    raw AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
    tot AS (
      SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM tgt) AS t_tot,
             (SELECT CAST(SUM(c) AS BIGINT) FROM raw) AS r_tot,
             (SELECT COUNT(*) FROM raw) AS v
    ),
    doc_tok AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    scored AS (
      SELECT d.doc_id,
             SUM(d.tf * (ln((COALESCE(tgt.c, 0) + 1.0) / (tot.t_tot + tot.v))
                         - ln((raw.c + 1.0) / (tot.r_tot + tot.v)))) AS lr,
             CAST(SUM(d.tf) AS BIGINT) AS n_tokens
      FROM doc_tok d
      JOIN raw ON raw.w = d.w
      LEFT JOIN tgt ON tgt.w = d.w
      CROSS JOIN tot
      GROUP BY d.doc_id
    )
    -- + 0.0 normalizes IEEE negative zero: a log-ratio summing to
    -- ~-1e-9 rounds to -0.0 or +0.0 depending on each engine's
    -- reduction order, and the driver hashes their strings differently
    SELECT doc_id, ROUND(lr + 1e-9, 4) + 0.0 AS log_importance, n_tokens
    FROM scored
    """,
    doc="DSIR-style data selection (importance resampling via "
    "target/raw likelihood ratio, Xie et al. 2023, public): unigram "
    "LMs of the TARGET domain (en) and the RAW corpus are both plain "
    "keyed aggregates; each document's log importance weight is "
    "Σ tf·(ln p_target − ln p_raw) via a token-keyed join — the "
    "weights that resample a raw 100 TB crawl toward a target "
    "distribution. Model = DataFrames co-partitioned on the token "
    "key; only vocabulary/total scalars broadcast. Pair with "
    "llm_sample_weighted to realize the resample deterministically.",
)
def llm_select_dsir(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(dedup.tokens_col("text")).alias("w")
    ).select("doc_id", "lang", F.lower("w").alias("w"))
    tgt = tok.filter(F.col("lang") == "en").groupBy("w").agg(
        F.count("*").alias("tc")
    )
    raw = tok.groupBy("w").agg(F.count("*").alias("rc"))
    t_tot = tgt.agg(F.sum("tc").cast("long").alias("t_tot"))
    r_tot = raw.agg(F.sum("rc").cast("long").alias("r_tot"))
    vocab = raw.agg(F.count("*").alias("v"))
    doc_tok = tok.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    return (
        doc_tok.join(raw, "w")
        .join(F.broadcast(tgt), "w", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.col("tf")
                    * (
                        F.log(
                            (F.coalesce(F.col("tc"), F.lit(0)) + 1.0)
                            / (F.col("t_tot") + F.col("v"))
                        )
                        - F.log(
                            (F.col("rc") + 1.0) / (F.col("r_tot") + F.col("v"))
                        )
                    )
                )
                + F.lit(EPS),
                4,
            ).alias("__li"),
            F.sum("tf").cast("long").alias("n_tokens"),
        )
        # + 0.0 normalizes IEEE negative zero (see the oracle comment)
        .select(
            "doc_id",
            (F.col("__li") + F.lit(0.0)).alias("log_importance"),
            "n_tokens",
        )
    )


@parity(
    "llm_best_of_n",
    sql=f"""
    WITH tok AS (SELECT doc_id, doc_id % 50 AS prompt_id, {_TOK} AS t
                 FROM documents WHERE text IS NOT NULL),
    scored AS (
      SELECT doc_id, prompt_id,
             (ROUND(len(list_distinct(t)) * 1.0 / len(t) + 1e-9, 4) + 0.0) AS reward
      FROM tok
    ),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY prompt_id ORDER BY reward DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY prompt_id) AS n_candidates
      FROM scored
    )
    SELECT prompt_id, doc_id AS best_doc_id, reward AS best_reward, n_candidates
    FROM r WHERE rn = 1
    """,
    doc="Best-of-n / rejection-sampling selection (public recipe: keep "
    "the highest-reward candidate per prompt, e.g. Llama-2 RLHF data "
    "curation): candidate pools simulated as doc_id % 50, reward = "
    "distinct-token ratio. Engine side is AGGREGATE-ONLY: the argmax "
    "is packed into ONE orderable BIGINT (reward-units << 40 | "
    "inverted doc_id; max(struct) would force SortAggregate — a "
    "per-partition sort of the whole fact — while max(long) stays "
    "HashAggregate with map-side combine, asserted in "
    "test_scale_plans). A prompt with millions of candidates costs "
    "one combine-reduced shuffle key, never a sorted partition. Ties "
    "break to the smallest doc id on both engines. Assumes doc_id < "
    "2^40 and reward rounded to 4 decimals in [0, 1].",
)
def llm_best_of_n(spark, sf_dir):
    # Contentless candidates (NULL text → NULL reward) can't win and
    # shouldn't count toward n_candidates: dropped at ingest.
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    t = dedup.tokens_col("text")
    mask = (1 << 40) - 1
    scored = docs.select(
        "doc_id",
        (F.col("doc_id") % 50).alias("prompt_id"),
        r_(F.size(F.array_distinct(t)) / F.size(t), 4).alias("reward"),
    )
    packed = scored.select(
        "prompt_id",
        (
            F.round(F.col("reward") * 10000, 0).cast("long") * F.lit(1 << 40)
            + (F.lit(mask) - F.col("doc_id"))
        ).alias("pack"),
    )
    best = packed.groupBy("prompt_id").agg(
        F.max("pack").alias("pack"), F.count("*").alias("n_candidates")
    )
    return best.select(
        "prompt_id",
        (F.lit(mask) - F.col("pack").bitwiseAND(F.lit(mask))).alias(
            "best_doc_id"
        ),
        (
            F.shiftrightunsigned(F.col("pack"), 40).cast("double")
            / F.lit(10000.0)
        ).alias("best_reward"),
        "n_candidates",
    )


@parity(
    "llm_search_hybrid",
    sql=f"""
    WITH dl AS (SELECT doc_id, len({_TOK}) AS dl FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) AS sum_dl FROM dl),
    tok AS (SELECT doc_id, lower(unnest({_TOK})) AS w FROM documents),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
           WHERE w IN ('join', 'window', 'scan') GROUP BY 1, 2),
    dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
    bm AS (
      SELECT tf.doc_id,
             ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf * (1.2 + 1.0))
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / (s.sum_dl / s.n_docs))) AS contrib
      FROM tf JOIN dfreq d USING (w) JOIN dl USING (doc_id) CROSS JOIN stats s
    ),
    bmagg AS (SELECT doc_id, (ROUND(SUM(contrib) + 1e-9, 4) + 0.0) AS score FROM bm GROUP BY doc_id),
    lex AS (SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
            FROM bmagg ORDER BY score DESC, doc_id LIMIT 20),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 7 AND embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0),
    corp AS (SELECT vec_id, embedding FROM embeddings
             WHERE vec_id IN (SELECT doc_id FROM documents) AND vec_id <> 7
               AND embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0),
    sims AS (
      SELECT c.vec_id AS doc_id,
             (ROUND((SELECT SUM(CAST(c.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)) FROM range(1, 65) r(i))
             / (sqrt((SELECT SUM(CAST(c.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(c.embedding[CAST(i AS INT)] AS DOUBLE)) FROM range(1, 65) r(i)))
              * sqrt((SELECT SUM(CAST(q.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)) FROM range(1, 65) r(i))))
             + 1e-9, 4) + 0.0) AS sim
      FROM corp c CROSS JOIN q
    ),
    vecl AS (SELECT doc_id,
                    CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS vec_rank
             FROM sims ORDER BY sim DESC, doc_id LIMIT 20),
    fused AS (
      SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
             COALESCE(l.lex_rank, 0) AS lex_rank,
             COALESCE(v.vec_rank, 0) AS vec_rank,
             (ROUND(COALESCE(1.0 / (60 + l.lex_rank), 0)
                 + COALESCE(1.0 / (60 + v.vec_rank), 0) + 1e-9, 6) + 0.0) AS rrf_score
      FROM lex l FULL OUTER JOIN vecl v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, lex_rank, vec_rank, rrf_score,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
    doc="Hybrid retrieval: BM25 top-20 (bag-of-terms query) ⊕ "
    "brute-cosine top-20 ('more like doc 7' against the doc-aligned "
    "embedding slice) fused by reciprocal-rank fusion "
    "(1/(60+rank), Cormack et al. 2009). The legs do all the scale "
    "work (term-filtered explode / broadcast query); fusion itself "
    "is a full outer join of two ≤20-row frames — broadcastable at "
    "any corpus size. Ranks surface COALESCE-0 so int columns hash "
    "identically across engines.",
)
def llm_search_hybrid(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    aligned = emb.join(
        docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "semi"
    )
    lex = text.bm25_search(docs, ["join", "window", "scan"], k=20)
    vec = similarity.brute_force_topk(
        aligned, aligned.filter(F.col("vec_id") == 7), k=20, dim=64
    )
    return similarity.rrf_fuse(
        lex.select("doc_id", "rank"),
        vec.select(F.col("n_id").alias("doc_id"), "rank"),
    )


@parity(
    "llm_dedup_span",
    sql=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    spans AS (
      SELECT doc_id, CAST(gs AS BIGINT) AS span_idx,
             array_to_string(t[(gs*10+1):(gs*10+10)], ' ') AS span
      FROM tok, UNNEST(range(0, CAST(ceil(len(t) / 10.0) AS BIGINT))) u(gs)
    ),
    ranked AS (SELECT *, doc_id * 1000000 + span_idx AS rank FROM spans),
    firsts AS (SELECT span, MIN(rank) AS first_rank FROM ranked GROUP BY span),
    kept AS (SELECT r.doc_id, r.span_idx, r.span FROM ranked r
             JOIN firsts f ON r.span = f.span AND r.rank = f.first_rank),
    totals AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(string_agg(k.span, ' ' ORDER BY k.span_idx), '') AS clean_text,
           t.n_spans,
           COUNT(k.span) AS n_kept
    FROM totals t LEFT JOIN kept k ON k.doc_id = t.doc_id
    GROUP BY t.doc_id, t.n_spans
    """,
    doc="C4-style span-level dedup (Raffel et al. 2020 §2.2): every "
    "10-word span occurring more than once in the corpus is removed "
    "except its globally first (doc, position) occurrence; documents "
    "are re-assembled from surviving spans. One fold builds spans "
    "(O(tokens)/row), first-occurrence via map-side-combined "
    "groupBy(span).min(rank) — hub spans shuffle |distinct|, not "
    "|occurrences| — then the survivor (doc, position) is DECODED from "
    "the min-rank itself (no join-back) and docs re-assemble per key.",
)
def llm_dedup_span(spark, sf_dir):
    return dedup.span_dedup(_t(spark, sf_dir, "documents"))


@parity(
    "llm_dedup_url_canon",
    sql="""
    WITH raw AS (
      SELECT doc_id,
             concat('HTTPS://Corpus-', upper(lang), '.Example.ORG:443/docs/', source,
                    CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
                    '?utm_source=feed&doc=', CAST(doc_id % 100 AS VARCHAR),
                    '&utm_campaign=x&v=2') AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             concat(
               'https://',
               lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+?)(:443)?/', 1)),
               rtrim(regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1), '/'),
               '?doc=', regexp_extract(url, '[?&]doc=([^&#]*)', 1),
               '&v=', regexp_extract(url, '[?&]v=([^&#]*)', 1)
             ) AS curl
      FROM raw
    )
    SELECT curl, MIN(doc_id) AS canonical_doc, COUNT(*) AS n_dups
    FROM canon GROUP BY curl
    """,
    doc="URL canonicalization dedup — the web-corpus dedup key: "
    "lowercase scheme+host, strip the default port and trailing "
    "slash, drop utm_* tracking params, keep meaningful params in a "
    "fixed order, then exact-group on the canonical URL keeping the "
    "lowest doc id. Synthesized URLs deliberately vary case/port/"
    "slash/tracking so each canonical key collapses multiple raw "
    "forms (doc_id%100 forces real collisions). Map-only "
    "normalization in codegen + ONE keyed aggregate — the same "
    "hash-dedup shape as llm_dedup_exact at any scale.",
)
def llm_dedup_url_canon(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    raw = d.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://Corpus-"), F.upper("lang"), F.lit(".Example.ORG:443/docs/"),
            F.col("source"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?utm_source=feed&doc="),
            (F.col("doc_id") % 100).cast("string"),
            F.lit("&utm_campaign=x&v=2"),
        ).alias("url"),
    )
    host = F.lower(
        F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+?)(:443)?/", 1)
    )
    path = F.regexp_replace(
        F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+(/[^?#]*)", 1), r"/+$", ""
    )
    curl = F.concat(
        F.lit("https://"), host, path,
        F.lit("?doc="), F.regexp_extract("url", r"[?&]doc=([^&#]*)", 1),
        F.lit("&v="), F.regexp_extract("url", r"[?&]v=([^&#]*)", 1),
    )
    return (
        raw.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count("*").alias("n_dups"),
        )
    )


@parity(
    "llm_classify_nb",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, lang, lower(unnest({_TOK})) AS w FROM documents
    ),
    cls AS (SELECT lang, COUNT(DISTINCT doc_id) AS n_docs FROM tok GROUP BY 1),
    n AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM cls),
    wc AS (SELECT lang, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM wc GROUP BY 1),
    vocab AS (SELECT COUNT(DISTINCT w) AS v FROM tok),
    doc_tok AS (
      SELECT doc_id, w, COUNT(*) AS tf FROM tok WHERE doc_id < 100 GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.doc_id, c.lang,
             ln(c.n_docs * 1.0 / n.n_total)
             + SUM(d.tf * ln((COALESCE(wc.c, 0) + 1.0) / (tot.t + vocab.v))) AS s
      FROM doc_tok d
      CROSS JOIN cls c CROSS JOIN n CROSS JOIN vocab
      JOIN tot ON tot.lang = c.lang
      LEFT JOIN wc ON wc.lang = c.lang AND wc.w = d.w
      GROUP BY d.doc_id, c.lang, c.n_docs, n.n_total
    )
    SELECT doc_id, lang, (ROUND(s + 1e-9, 4) + 0.0) AS nb_score FROM scored
    """,
    doc="Multinomial naive Bayes trained ENTIRELY as aggregates "
    "(add-1-smoothed per-(class, token) counts, class priors, vocab "
    "size — the model IS a DataFrame, never driver state) and scored "
    "per (doc, class) with a bounded ×|classes| fan-out join. Scores "
    "surface long-format per class (robust under the driver's string "
    "hash; the argmax classification and its accuracy-vs-prior check "
    "live in tests). At 100 TB: the model table is "
    "|classes|×|vocab| rows joined on the token key — corpus-sized "
    "data co-partitioning, same shape as llm_perplexity's LM join.",
)
def llm_classify_nb(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(dedup.tokens_col("text")).alias("w")
    ).select("doc_id", "lang", F.lower("w").alias("w"))
    cls = tok.groupBy("lang").agg(F.countDistinct("doc_id").alias("n_docs"))
    n_total = cls.agg(F.sum("n_docs").cast("long").alias("n_total"))
    wc = tok.groupBy("lang", "w").agg(F.count("*").alias("c"))
    tot = wc.groupBy("lang").agg(F.sum("c").cast("long").alias("t"))
    vocab = tok.select("w").distinct().agg(F.count("*").alias("v"))
    doc_tok = (
        tok.filter(F.col("doc_id") < 100)
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    scored = (
        doc_tok.crossJoin(
            F.broadcast(cls.select(F.col("lang"), "n_docs"))
        )
        .crossJoin(F.broadcast(n_total))
        .crossJoin(F.broadcast(vocab))
        .join(F.broadcast(tot), "lang")
        .join(
            wc.withColumnRenamed("c", "wc_c"),
            ["lang", "w"],
            "left",
        )
        .groupBy("doc_id", "lang", "n_docs", "n_total")
        .agg(
            F.sum(
                F.col("tf")
                * F.log(
                    (F.coalesce(F.col("wc_c"), F.lit(0)) + 1.0)
                    / (F.col("t") + F.col("v"))
                )
            ).alias("lsum")
        )
        .select(
            "doc_id",
            "lang",
            F.round(
                F.log(F.col("n_docs") * 1.0 / F.col("n_total"))
                + F.col("lsum")
                + F.lit(EPS),
                4,
            ).alias("nb_score"),
        )
    )
    return scored


@parity(
    "llm_format_sft",
    sql=rf"""
    SELECT doc_id,
           concat(
             '{{"messages":[',
             '{{"role":"system","content":"You are a helpful assistant."}},',
             '{{"role":"user","content":"Summarize the following ', lang, ' document."}},',
             '{{"role":"assistant","content":"',
             {_json_escape_sql('text')},
             '"}}]}}'
           ) AS sample,
           len({_TOK}) AS n_tokens
    FROM documents
    WHERE lang IN ('en', 'de') AND n_chars >= 40
    """,
    doc="Training-sample rendering: documents → chat-SFT JSON lines "
    "(system/user/assistant turns via to_json over nested structs) "
    "with a token estimate, filtered to the target languages/length — "
    "the last hop before a tokenizer shard. Map-only projection in "
    "whole-stage codegen; the oracle reproduces Spark's compact "
    "to_json byte layout by string assembly, so an escaping or "
    "field-order divergence breaks the match.",
)
def llm_format_sft(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de") & (F.col("n_chars") >= 40)
    )
    msgs = F.array(
        F.struct(
            F.lit("system").alias("role"),
            F.lit("You are a helpful assistant.").alias("content"),
        ),
        F.struct(
            F.lit("user").alias("role"),
            F.concat(
                F.lit("Summarize the following "),
                F.col("lang"),
                F.lit(" document."),
            ).alias("content"),
        ),
        F.struct(
            F.lit("assistant").alias("role"), F.col("text").alias("content")
        ),
    )
    return d.select(
        "doc_id",
        F.to_json(F.struct(msgs.alias("messages"))).alias("sample"),
        F.size(dedup.tokens_col("text")).alias("n_tokens"),
    )


@parity(
    "llm_boilerplate_strip",
    sql=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS tk FROM documents),
    chunks AS (
      SELECT doc_id, CAST(i AS INT) AS chunk_idx,
             array_to_string(tk[(CAST(i AS INT)*8+1):(CAST(i AS INT)*8+8)], ' ') AS chunk
      FROM tok, UNNEST(range(0, 64)) u(i)
      WHERE CAST(i AS INT)*8 < len(tk)
    ),
    dfreq AS (SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM chunks GROUP BY 1),
    kept AS (
      SELECT c.doc_id, c.chunk_idx, c.chunk
      FROM chunks c JOIN dfreq USING (chunk) WHERE dfreq.df <= 1
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN k.chunk_idx IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(k.chunk, ' ' ORDER BY c.chunk_idx), '') AS clean_text
    FROM chunks c
    LEFT JOIN kept k ON k.doc_id = c.doc_id AND k.chunk_idx = c.chunk_idx
    GROUP BY c.doc_id
    """,
    doc="Cross-document boilerplate removal (CCNet/C4-style shared-"
    "paragraph strip, on 8-token chunks as the paragraph proxy): "
    "chunk → corpus-wide document frequency → chunks appearing in "
    "more than one document are stripped → surviving chunks "
    "reassembled in order. Engine shape: chunking is a bounded "
    "map-side fan-out (no self-join), df is ONE keyed distinct "
    "aggregate, the strip is a chunk-keyed join, and reassembly is a "
    "per-doc ordered collect (array_sort over (idx, chunk) structs — "
    "deterministic). At 100 TB the df table is chunk-vocabulary-sized; "
    "a hot boilerplate chunk ('all rights reserved…') is ONE df row, "
    "never a pair explosion.",
)
def llm_boilerplate_strip(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", dedup.tokens_col("text").alias("tk"))
    chunks = (
        tok.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("chunk_idx"),
            "tk",
        )
        .filter(F.col("chunk_idx") * 8 < F.size("tk"))
        .select(
            "doc_id",
            "chunk_idx",
            F.concat_ws(
                " ", F.slice(F.col("tk"), F.col("chunk_idx") * 8 + 1, 8)
            ).alias("chunk"),
        )
    )
    dfreq = chunks.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("df")
    )
    flagged = chunks.join(dfreq, "chunk").select(
        "doc_id", "chunk_idx", "chunk", (F.col("df") <= 1).alias("keep")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.col("keep").cast("int")).cast("long").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct("chunk_idx", "chunk"),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
            ).alias("clean_text"),
        )
    )


@parity(
    "llm_sample_weighted",
    sql="""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             -- + 0.0 normalizes -0.0 (DuckDB ROUND keeps the sign of a
             -- near-zero negative; Spark's BigDecimal round does not)
             ROUND(ln(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
                      / 281474976710656.0) / n_chars + 1e-9, 6) + 0.0 AS sample_key
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars, sample_key
    FROM keyed ORDER BY sample_key DESC, doc_id ASC LIMIT 50
    """,
    doc="Weighted sampling WITHOUT replacement (Efraimidis-Spirakis "
    "exponential-sort, public): sort key ln(u)/w with u a deterministic "
    "md5-derived uniform — inclusion probability ∝ weight (n_chars "
    "here), and the sample is reproducible across runs, engines, "
    "partitionings, and row orderings, which hash-free rand() sampling "
    "can never give an auditable training mix. Top-k is a "
    "TakeOrderedAndProject (per-partition heads, no global sort); the "
    "oracle computes the identical sample from the identical md5 "
    "arithmetic.",
)
def llm_sample_weighted(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return rel_ops.weighted_sample_topk(
        docs, "doc_id", F.col("n_chars"), k=50
    )


@parity(
    "llm_tokenizer_bpe",
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           true AS merges_le_requested,
           true AS counts_nonincreasing,
           true AS ref_match
    FROM documents
    """,
    doc="Distributed BPE vocabulary induction (Sennrich et al. 2016, "
    "public): the corpus is collapsed ONCE into a distinct-word "
    "frequency frame (vocabulary-sized by Heaps' law, not corpus-"
    "sized); each merge round is one map-side pair zip_with + keyed "
    "weighted count, with exactly ONE argmax row reaching the driver "
    "per round (deterministic count/lexicographic tie-break); the "
    "merge is applied as a sequential carry-fold over symbol arrays "
    "in pure codegen. The training loop is iterative (no direct SQL "
    "equivalent), so the driver surface is a verdict row over "
    "invariants every correct BPE run satisfies: ≤ n_merges merges "
    "learned, merge weighted-counts non-increasing in rank (a new "
    "pair's occurrences are a subset of the merge that created it; "
    "existing pairs only lose occurrences), and the merge sequence "
    "learned by the DISTRIBUTED trainer on a deterministic top-200 "
    "sub-vocabulary (freq desc, word asc) equals the sequence an "
    "independent in-process pure-Python reference BPE derives from "
    "the same 200 (w, freq) rows. The full-corpus merge artifact "
    "itself stays cross-checked in tests/test_llm.py.",
)
def llm_tokenizer_bpe(spark, sf_dir):
    from .iterutil import materialize, release
    from .llm import bpe

    docs = _t(spark, sf_dir, "documents")
    n_req = 8
    # r11 optimization round: the corpus word-frequency aggregate is
    # computed ONCE and shared between the full train and the top-200
    # sub-vocabulary (it used to run twice — once inside bpe_train,
    # once for the reference cross-check). Output identical: bpe_train
    # IS bpe_train_words(word_freqs(docs)).
    wf = materialize(bpe.word_freqs(docs))
    merges = bpe.bpe_train_words(wf, n_merges=n_req)
    counts = [c for _, _, c in merges]
    nonincreasing = all(a >= b for a, b in zip(counts, counts[1:]))
    # Deterministic capped sub-vocabulary: distributed trainer vs the
    # pure-Python reference on the identical 200 (word, freq) pairs.
    top = (
        wf.orderBy(F.col("freq").desc(), F.col("w").asc())
        .limit(200)
    )
    top_rows = top.collect()
    dist_seq = [
        (x, y) for x, y, _ in bpe.bpe_train_words(top, n_merges=n_req)
    ]
    ref_seq = bpe.bpe_reference(
        {r["w"]: int(r["freq"]) for r in top_rows}, n_merges=n_req
    )
    release(wf)
    return docs.agg(F.count("*").alias("n_docs")).select(
        "n_docs",
        F.lit(len(merges) <= n_req).alias("merges_le_requested"),
        F.lit(nonincreasing).alias("counts_nonincreasing"),
        F.lit(dist_seq == ref_seq).alias("ref_match"),
    )


@parity(
    "llm_tokenizer_apply",
    sql=f"""
    -- empty tokens are not words (whitespace-only docs and regex-
    -- whitespace-trailing text split into '' entries) — a doc with no
    -- real words has nothing to tokenize and emits no row
    SELECT doc_id,
           CAST(len(list_filter({_TOK}, x -> x <> '')) AS BIGINT) AS n_words,
           true AS tokens_in_bounds,
           true AS roundtrip_ok
    FROM documents
    WHERE text IS NOT NULL AND len(list_filter({_TOK}, x -> x <> '')) > 0
    """,
    doc="Train→apply tokenizer handoff: the BPE merges learned by "
    "llm_tokenizer_bpe are compiled INTO the expression tree (one "
    "carry-fold per merge in rank order — pure codegen) and applied "
    "corpus-wide; per-document word and BPE-token counts come out of "
    "one aggregate. Application is embarrassingly parallel at any "
    "corpus size: the model is a tiny merge list, the data never "
    "shuffles before the per-doc count. The segmentation itself is "
    "merge-history-dependent (no SQL equivalent), so the driver "
    "surface checks what IS exact: per-doc word counts (whitespace "
    "tokenization, mirrored by the oracle), per-doc token-count "
    "bounds n_words ≤ n_bpe_tokens ≤ total word chars (every word "
    "maps to ≥1 subtoken, subtokens never exceed characters), and "
    "the lossless-roundtrip invariant concat(subtokens) == word over "
    "the ENTIRE vocabulary after all merge folds. Exact segmentation "
    "vs a pure-Python reference apply stays in tests/test_llm.py.",
)
def llm_tokenizer_apply(spark, sf_dir):
    # r11 optimization-round restructure (output byte-identical; see
    # OPTIMIZATION_r11.md): the entry used to make FOUR independent
    # passes over the exploded corpus — word_freqs inside bpe_train,
    # bpe_apply's (doc, word, count) aggregate, the roundtrip
    # vocabulary, and the per-doc char bound — and segmented the
    # vocabulary twice through the interpreted fold chain. Now ONE
    # exploded-corpus aggregate is materialized (raw-cased so the char
    # bound keeps its original length(raw w) semantics) and everything
    # derives from it: train frequencies = sum(cnt) per lower(w)
    # (identical to word_freqs by associativity of count), the
    # segmentation+roundtrip share a single padded-string pass
    # (bpe.seg_col — codegen replace chain, not the fold), and the
    # char bound is sum(cnt·length(w)). materialize (not a leaked
    # persist) keeps each bench sample recomputing from parquet.
    from .iterutil import materialize
    from .llm import bpe

    docs = _t(spark, sf_dir, "documents")
    wc_raw = materialize(
        docs.select("doc_id", F.explode(bpe.tokens_col("text")).alias("w"))
        # empty tokens are not words (see bpe.word_freqs)
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cnt"))
    )
    wf = (
        wc_raw.select(F.lower("w").alias("w"), "cnt")
        .groupBy("w")
        .agg(F.sum("cnt").alias("freq"))
    )
    merges = [(x, y) for x, y, _ in bpe.bpe_train_words(wf, n_merges=6)]
    # One vocabulary pass serves BOTH the subtoken counts and the
    # lossless-roundtrip invariant: stripping the padding spaces from
    # the segmented string must give back the word (≡ concat(syms)).
    seg = (
        wc_raw.select(F.lower("w").alias("w"))
        .distinct()
        .select("w", bpe.seg_col(F.col("w"), merges).alias("s"))
        .select(
            "w",
            bpe.seg_n_subtokens(F.col("s")).alias("n_subtokens"),
            (
                F.replace(F.col("s"), F.lit(" "), F.lit("")) == F.col("w")
            ).alias("rt_ok"),
        )
    )
    rt = seg.agg(
        F.coalesce(F.every(F.col("rt_ok")), F.lit(True)).alias("ok")
    )
    per_doc = (
        wc_raw.select("doc_id", F.lower("w").alias("w"), "cnt")
        .join(seg.select("w", "n_subtokens"), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_subtokens"))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
    )
    chars = wc_raw.groupBy("doc_id").agg(
        F.sum(F.col("cnt") * F.length("w")).cast("long").alias("n_word_chars")
    )
    return (
        per_doc.join(chars, "doc_id")
        .crossJoin(F.broadcast(rt))
        .select(
            "doc_id",
            "n_words",
            (
                (F.col("n_bpe_tokens") >= F.col("n_words"))
                & (F.col("n_bpe_tokens") <= F.col("n_word_chars"))
            ).alias("tokens_in_bounds"),
            F.col("ok").alias("roundtrip_ok"),
        )
    )


@parity(
    "llm_perplexity",
    sql=f"""
    WITH tk AS (
      SELECT doc_id, list_transform({_TOK}, x -> lower(x)) AS tk FROM documents
    ),
    bg AS (
      SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT) + 1] AS w2
      FROM tk, UNNEST(range(1, len(tk))) u(i)
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    v AS (SELECT COUNT(*) AS v FROM
          (SELECT DISTINCT w FROM (SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg))),
    lm AS (
      SELECT c12.w1, c12.w2, -ln((c12.c12 + 0.1) / (c1.c1 + 0.1 * v.v)) AS nlp
      FROM c12 JOIN c1 USING (w1) CROSS JOIN v
    )
    SELECT bg.doc_id, (ROUND(exp(AVG(lm.nlp)) + 1e-9, 4) + 0.0) AS ppl,
           COUNT(*) AS n_bigrams
    FROM bg JOIN lm ON bg.w1 = lm.w1 AND bg.w2 = lm.w2
    GROUP BY bg.doc_id
    """,
    doc="CCNet-style perplexity scoring with a corpus-trained bigram LM "
    "(public wiki-LM + KenLM recipe, LM computed in-engine): add-0.1-"
    "smoothed P(w2|w1), per-doc ppl = exp(mean NLL over its bigrams) — "
    "the 'does this text look like the corpus' quality signal. Scale "
    "shape: bigrams via zip_with of the token array with its own shift "
    "(map-side, one explode), LM = two keyed aggregates, scoring is a "
    "plain equi-join on the bigram key that co-partitions at any scale "
    "— the LM is corpus-sized DATA, never driver state; only V crosses "
    "as a 1-row broadcast.",
)
def llm_perplexity(spark, sf_dir):
    return text.perplexity_filter(_t(spark, sf_dir, "documents"))


@parity(
    "llm_search_bm25",
    sql=f"""
    WITH dl AS (SELECT doc_id, len({_TOK}) AS dl FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) AS sum_dl FROM dl),
    tok AS (SELECT doc_id, lower(unnest({_TOK})) AS w FROM documents),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
           WHERE w IN ('join', 'window', 'scan') GROUP BY 1, 2),
    dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf * (1.2 + 1.0))
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / (s.sum_dl / s.n_docs))) AS contrib
      FROM tf JOIN dfreq d USING (w) JOIN dl USING (doc_id) CROSS JOIN stats s
    ),
    agg AS (
      SELECT doc_id, (ROUND(SUM(contrib) + 1e-9, 4) + 0.0) AS score,
             COUNT(*) AS n_terms_matched
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, score, n_terms_matched,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
    FROM agg ORDER BY score DESC, doc_id LIMIT 10
    """,
    doc="BM25 retrieval (Robertson/Okapi, public formula) for a "
    "bag-of-terms query over the corpus — the lexical-search op a "
    "training pipeline uses for contamination lookups and eval-set "
    "retrieval. Tokens are filtered to the query terms BEFORE the "
    "(doc, term) aggregate, so all post-explode work is proportional "
    "to matching docs, not corpus size; N/avgdl are a broadcast 1-row "
    "aggregate, df a |terms|-row broadcast, final top-k a "
    "TakeOrderedAndProject on the rounded score (deterministic "
    "doc_id tie-break).",
)
def llm_search_bm25(spark, sf_dir):
    return text.bm25_search(
        _t(spark, sf_dir, "documents"), ["join", "window", "scan"], k=10
    )


@parity(
    "llm_quality_filter",
    sql=f"""
    WITH base AS (
      SELECT doc_id, lang,
             len({_TOK}) AS n_tokens,
             (ROUND(COALESCE((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))) * 1.0 / NULLIF(length(text), 0), 0) + 1e-9, 4) + 0.0) AS punct_ratio,
             (ROUND(COALESCE(len(list_filter({_TOK}, x -> x IN ('the', 'a', 'and', 'of', 'to'))) * 1.0 / NULLIF(len({_TOK}), 0), 0) + 1e-9, 4) + 0.0) AS stop_ratio
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             (ROUND(0.4 * least(n_tokens / 50.0, 1.0) + 0.3 * (1.0 - punct_ratio) + 0.3 * stop_ratio + 1e-9, 4) + 0.0) AS quality
      FROM base
    ),
    ranked AS (
      SELECT lang, doc_id, quality,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC) AS BIGINT) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n_grp
      FROM scored
    )
    SELECT lang, doc_id, quality, rn FROM ranked WHERE rn <= CEIL(n_grp * 0.5)
    """,
    doc="Per-language top-50% quality retention: rank docs by the rounded "
    "heuristic quality score WITHIN each language and keep the top half "
    "(integer ceil cutoff; doc_id tie-break). A per-group percentile "
    "filter — the curation step a global threshold gets wrong for "
    "low-resource languages.",
)
def llm_quality_filter(spark, sf_dir):
    return text.quality_filter_pct(_t(spark, sf_dir, "documents"), keep_frac=0.5)


@parity(
    "llm_embed_pca",
    sql="""
    SELECT vec_id, true AS bessel_ok,
           true AS orthonormal_ok, true AS var_desc_ok
    FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) = 64
      AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    """,
    doc="Distributed PCA over the embedding column: mapInPandas moment "
    "partials (count / sum / d×d Gram per partition — bounded, "
    "data-size-independent collect), d×d eigendecomposition on the "
    "driver, then map-only zip_with/aggregate projection onto the top-4 "
    "components (broadcast literals, no UDF, no shuffle). Sign-fixed "
    "components for determinism. Eigenvectors are engine-specific up "
    "to float detail (no SQL equivalent), so the driver surface is the "
    "exact finite-row membership plus per-row and fit invariants every "
    "correct PCA satisfies: Bessel's inequality sum_j pc_j² ≤ "
    "‖x − mean‖² per row, component orthonormality, and descending "
    "explained variance. Agreement with numpy PCA (values, not just "
    "invariants) stays in tests/test_llm.py.",
)
def llm_embed_pca(spark, sf_dir):
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")
    mean, comps, evar = similarity.pca_fit(emb, k=4, dim=64)
    if not comps:  # empty corpus → zero rows, stable verdict schema
        return emb.limit(0).select(
            "vec_id",
            F.lit(True).alias("bessel_ok"),
            F.lit(True).alias("orthonormal_ok"),
            F.lit(True).alias("var_desc_ok"),
        )
    c = np.asarray(comps)
    ortho = bool(np.abs(c @ c.T - np.eye(len(comps))).max() < 1e-9)
    vdesc = all(a >= b - 1e-12 for a, b in zip(evar, evar[1:]))
    proj = similarity.pca_project(emb, mean, comps, round_to=6, dim=64)
    mu_lit = F.array(*[F.lit(float(x)) for x in mean])
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            mu_lit,
            lambda x, m: (x - m) * (x - m),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norms = similarity.finite_vectors(emb, dim=64).select(
        "vec_id", d2.alias("__d2")
    )
    pc2 = sum(F.col(f"pc{j}") * F.col(f"pc{j}") for j in range(1, 5))
    return proj.join(norms, "vec_id").select(
        "vec_id",
        # relative + absolute slack: for a 1e30-magnitude vector both
        # sides are ~6e61 with ~1e45 of float64 fold noise — an absolute
        # epsilon alone would let rounding decide the verdict
        (pc2 <= F.col("__d2") * F.lit(1.0 + 1e-9) + F.lit(1e-3)).alias(
            "bessel_ok"
        ),
        F.lit(ortho).alias("orthonormal_ok"),
        F.lit(vdesc).alias("var_desc_ok"),
    )


@parity(
    "ml_kmeans_profile",
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           true AS k_le_requested, true AS sizes_sum_ok,
           true AS dist_nonneg_ok, true AS inertia_improved_ok
    FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) = 64
      AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    """,
    doc="K-means cluster profile as a declared query: deterministic "
    "Lloyd fit (llm.similarity.kmeans_fit — first-k init, 3 iterations, "
    "per-partition partials on the driver), then a map-only "
    "similarity.nearest_udf assignment pass and per-cluster size / mean "
    "distance-to-centroid. Cluster contents are fit-specific (the "
    "iterative fit has no SQL equivalent), so the driver surface is a "
    "verdict row over invariants any correct Lloyd run satisfies: the "
    "profile covers exactly the finite corpus (sizes sum to the "
    "oracle-exact finite count), ≤ k clusters, non-negative mean "
    "distances, and total inertia under the FITTED centroids no worse "
    "than under the first-k init (Lloyd never increases inertia). The "
    "per-cluster profile itself (library surface kmeans_profile path) "
    "stays determinism-tested in tests/test_llm.py.",
)
def ml_kmeans_profile(spark, sf_dir):
    # Geometric op: profile the finite corpus only (a NaN vector has no
    # nearest centroid).
    emb = similarity.finite_vectors(_t(spark, sf_dir, "embeddings"), dim=64)
    cents = similarity.kmeans_fit(emb, k=8, iters=3)
    n_row = emb.agg(F.count("*").alias("n_vectors"))
    if not cents:  # empty corpus → verdict row with n_vectors = 0
        return n_row.select(
            "n_vectors",
            F.lit(True).alias("k_le_requested"),
            F.lit(True).alias("sizes_sum_ok"),
            F.lit(True).alias("dist_nonneg_ok"),
            F.lit(True).alias("inertia_improved_ok"),
        )

    def profile(centroids):
        assigned = emb.withColumn(
            "__cents", similarity._array_lit(centroids)
        ).withColumn(
            "cluster", similarity.nearest_udf([centroids])("embedding")[0]
        )
        d2 = F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.element_at("__cents", F.col("cluster") + 1),
                lambda x, c: (x - c) * (x - c),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return assigned.withColumn("d2", d2).groupBy("cluster").agg(
            F.count("*").alias("n_members"),
            F.avg(F.sqrt(F.col("d2"))).alias("avg_dist"),
            F.sum("d2").alias("inertia"),
        )

    init = similarity.kmeans_fit(emb, k=8, iters=0)
    fitted = profile(cents).agg(
        F.count("*").alias("k"),
        F.sum("n_members").alias("n_assigned"),
        F.coalesce(F.min("avg_dist"), F.lit(0.0)).alias("min_avg"),
        F.coalesce(F.sum("inertia"), F.lit(0.0)).alias("inertia_fit"),
    )
    init_in = profile(init).agg(
        F.coalesce(F.sum("inertia"), F.lit(0.0)).alias("inertia_init")
    )
    return (
        n_row.crossJoin(F.broadcast(fitted))
        .crossJoin(F.broadcast(init_in))
        .select(
            "n_vectors",
            (F.col("k") <= F.lit(8)).alias("k_le_requested"),
            (F.col("n_assigned") == F.col("n_vectors")).alias("sizes_sum_ok"),
            (F.col("min_avg") >= F.lit(0.0)).alias("dist_nonneg_ok"),
            (
                F.col("inertia_fit")
                <= F.col("inertia_init") * F.lit(1.0 + 1e-9) + F.lit(1e-6)
            ).alias("inertia_improved_ok"),
        )
    )


@parity(
    "llm_shuffle_epoch",
    sql="""
    WITH k AS (
      SELECT doc_id,
             ((xor(doc_id, 7) & 2147483647) * 2654435761) % 2147483647 AS shuffle_key
      FROM documents
    )
    SELECT doc_id, shuffle_key,
           CAST(shuffle_key % 8 AS INT) AS shard,
           ROW_NUMBER() OVER (PARTITION BY shuffle_key % 8
                              ORDER BY shuffle_key, doc_id) AS pos
    FROM k
    """,
    doc="Deterministic epoch shuffle + shard assignment for training "
    "dataloaders: seeded Knuth-multiplicative permutation key per doc "
    "(pure 31-bit-safe integer arithmetic — identical on any engine, "
    "partitioning, or row order), shard = key mod n_shards, position "
    "within shard. Changing the seed reshuffles the epoch with zero "
    "RNG state. At 100 TB the position column comes free from "
    "repartition(shard) + sortWithinPartitions(key) at write time — "
    "the hash does the shuffling, no global sort ever runs.",
)
def llm_shuffle_epoch(spark, sf_dir):
    return mixing.epoch_shuffle(
        _t(spark, sf_dir, "documents"), seed=7, n_shards=8
    )


@parity(
    "llm_length_buckets",
    sql=f"""
    SELECT doc_id, lang, len({_TOK}) AS n_tokens,
           NTILE(4) OVER (PARTITION BY lang
                          ORDER BY len({_TOK}), doc_id) AS bucket
    FROM documents WHERE text IS NOT NULL
    """,
    doc="Curriculum length bucketing: equal-frequency token-length "
    "buckets per language (ntile with full deterministic tiebreak) — "
    "the pre-batching step that keeps same-length documents together "
    "so padding waste stays bounded. Window partitions by language "
    "(thousands of parallel partitions at corpus scale, never a "
    "global sort); a group too big for one task switches to broadcast "
    "approx-quantile boundaries + map-side binning.",
)
def llm_length_buckets(spark, sf_dir):
    return packing.length_buckets(_t(spark, sf_dir, "documents"), n_buckets=4)


@parity(
    "e2e_llm_data_pipeline",
    sql=f"""
    WITH q AS (
      SELECT doc_id,
             (ROUND(0.4 * least(len({_TOK}) / 50.0, 1.0)
                   + 0.3 * (1.0 - ROUND((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))) * 1.0 / length(text) + 1e-9, 4))
                   + 0.3 * ROUND(len(list_filter({_TOK}, x -> x IN ('the', 'a', 'and', 'of', 'to'))) * 1.0 / len({_TOK}) + 1e-9, 4)
                   + 1e-9, 4) + 0.0) AS quality
      FROM documents WHERE text IS NOT NULL
    ),
    lid AS (
      SELECT doc_id,
             CASE WHEN length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) > 0 THEN 'zh'
                  WHEN greatest(hits_en, hits_es, hits_de, hits_fr) <= 0 THEN 'und'
                  WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
                  WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
                  WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
                  ELSE 'fr' END AS pred_lang
      FROM (
        SELECT doc_id, text,
               len(list_filter({_TOK}, x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS hits_en,
               len(list_filter({_TOK}, x -> x IN ('el', 'la', 'de', 'que', 'y'))) AS hits_es,
               len(list_filter({_TOK}, x -> x IN ('der', 'die', 'und', 'das', 'ist'))) AS hits_de,
               len(list_filter({_TOK}, x -> x IN ('le', 'la', 'et', 'les', 'des'))) AS hits_fr
        FROM documents
      )
    ),
    kept AS (
      SELECT d.doc_id, d.text, lid.pred_lang
      FROM documents d JOIN q USING (doc_id) JOIN lid USING (doc_id)
      WHERE q.quality >= 0.5 AND lid.pred_lang IN ('en', 'de')
    ),
    surv AS (
      SELECT * FROM kept
      WHERE doc_id IN (SELECT MIN(doc_id) FROM kept GROUP BY text)
    )
    SELECT doc_id, pred_lang, len({_TOK}) AS n_tokens,
           NTILE(4) OVER (PARTITION BY pred_lang
                          ORDER BY len({_TOK}), doc_id) AS bucket,
           CAST(((xor(doc_id, 3) & 2147483647) * 2654435761) % 2147483647 % 4 AS INT) AS shard
    FROM surv
    """,
    doc="End-to-end pretraining data prep as ONE declarative plan: "
    "quality scoring (C4/Gopher-style heuristics) -> language ID -> "
    "keep en/de above the quality bar -> exact dedup (min doc_id per "
    "content) -> curriculum length buckets per language -> "
    "deterministic epoch-shard assignment. The scalar stages (quality, "
    "langid, token count, shard key) fuse into ONE projection over ONE "
    "scan via the libraries' expression builders — no self-joins; the "
    "whole pipeline is the scan + the dedup aggregate + the per-"
    "language bucket window (plan-asserted in tests/test_scale_plans). "
    "The oracle replays the identical pipeline as chained CTEs.",
)
def e2e_llm_data_pipeline(spark, sf_dir):
    from pyspark.sql import Window as W

    from .llm.dedup import tokens_col
    from .llm.mixing import shuffle_key_expr
    from .llm.text import lang_pred_expr, quality_exprs

    # NULL-text rows dropped at ingest (mirrored in the oracle's q CTE
    # and in llm_filter_funnel, whose after_dedup must equal this
    # pipeline's output count).
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    _, _, _, quality = quality_exprs("text")
    pred, _ = lang_pred_expr("text")
    enriched = docs.select(
        "doc_id",
        "text",
        F.size(tokens_col("text")).alias("n_tokens"),
        quality.alias("quality"),
        pred.alias("pred_lang"),
        (shuffle_key_expr("doc_id", 3) % 4).cast("int").alias("shard"),
    )
    # Window BEFORE the quality/lang filter: quality and pred_lang are
    # pure functions of text (the window's partition key), so every
    # text-group passes or fails the filter as a whole and the survivor
    # set is identical either way. Ordering it this way matters because
    # a filter above a Project gets pushed into the scan with the
    # quality/langid expressions INLINED — evaluating the two most
    # expensive expressions in the pipeline twice per row (measured 99s
    # vs 53s for the expression stage at sf10-equivalent) — while a
    # non-partition-key predicate is NOT pushed through a Window.
    surv = enriched.withColumn(
        "__keep", F.min("doc_id").over(W.partitionBy("text"))
    ).filter(
        (F.col("quality") >= 0.5)
        & F.col("pred_lang").isin("en", "de")
        & (F.col("doc_id") == F.col("__keep"))
    )
    return surv.select(
        "doc_id",
        "pred_lang",
        "n_tokens",
        F.ntile(4)
        .over(W.partitionBy("pred_lang").orderBy("n_tokens", "doc_id"))
        .alias("bucket"),
        "shard",
    )


@parity(
    "llm_dedup_semantic",
    sql=f"""
    WITH RECURSIVE corpus AS ({_VALID_CORPUS}),
    {_COLLAPSE_CLUSTER_SQL.format(thr=0.4)}
    """,
    doc="Semantic (embedding-cosine) deduplication, SemDeDup-style "
    "(Abbas et al. 2023, public): near-dup pairs at cosine ≥ 0.4 → "
    "connected components → canonical keep/drop per cluster. The "
    "parity surface uses the exact all-pairs cosine graph so the "
    "oracle can replay it (the oracle collapses identical vectors and "
    "runs the transitive-closure recursive CTE over the distinct-rep "
    "graph — exact, exhaustive, and sf1/sf10-tractable since key-offset "
    "replication grows members but not distinct vectors), generated by "
    "the blocked-matmul Arrow path — row-identical "
    "to the expression fold (same EPS-round-then-threshold) and ~15× "
    "faster (sf0.1: 29.5s → the matmul is seconds); the 100 TB path "
    "swaps in the sign-LSH bucketed pair generator "
    "(cosine_near_dup_pairs_lsh) with identical downstream clustering "
    "— candidates only within hash buckets, never all-pairs.",
)
def llm_dedup_semantic(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity.cosine_near_dup_pairs_arrow(emb, threshold=0.4, dim=64).select(
        "id_a", "id_b"
    )
    # node set = the geometric corpus (finite vectors) — an invalid
    # vector has no cosine geometry, hence no cluster membership
    ids = similarity.finite_vectors(emb, dim=64).select(F.col("vec_id").alias("doc_id"))
    return (
        dedup.dedup_clusters(ids, pairs)
        .select(
            F.col("doc_id").alias("vec_id"),
            "cluster_id",
            "is_canonical",
        )
    )


@parity(
    "llm_shard_budget",
    sql=f"""
    WITH tok AS (SELECT doc_id, lang, len({_TOK}) AS n_tokens FROM documents)
    SELECT doc_id, lang, n_tokens,
           CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
           CAST(FLOOR((CAST(SUM(n_tokens) OVER w AS BIGINT) - n_tokens) / 2000.0) AS INT) AS shard
    FROM tok
    WINDOW w AS (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
    """,
    doc="Token-budget shard assignment: each language's documents are "
    "walked in doc_id order and a new training shard starts every "
    "2000 tokens (a doc belongs to the shard its first token falls "
    "in) — the corpus-to-dataloader-files step. The running count is "
    "the TWO-PHASE distributed prefix sum (bucket subtotals → tiny "
    "offsets frame → bounded intra-bucket windows, operators/"
    "windows.py::partitioned_prefix_sum), so one language never "
    "serializes through a single window task; the oracle states the "
    "same result as the naive one-window cumsum.",
)
def llm_shard_budget(spark, sf_dir):
    return packing.budget_shards(
        _t(spark, sf_dir, "documents"), budget_tokens=2000
    ).select(
        "doc_id",
        "lang",
        "n_tokens",
        "cum_tokens",
        "shard",
    )


@parity(
    "llm_format_dpo",
    sql=rf"""
    WITH ranked AS (
      SELECT doc_id, lang, text, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
      WHERE lang IN ('en', 'de') AND text IS NOT NULL
    ),
    chosen AS (SELECT lang, rk AS pair_id, doc_id, text FROM ranked
               WHERE rk <= n / 2),
    rejected AS (SELECT lang, n + 1 - rk AS pair_id, doc_id, text FROM ranked
                 WHERE rk > n - n / 2)
    SELECT c.lang, CAST(c.pair_id AS BIGINT) AS pair_id,
           c.doc_id AS chosen_id, r.doc_id AS rejected_id,
           concat(
             '{{"prompt":"Write a long ', c.lang, ' document.",',
             '"chosen":"',
             {_json_escape_sql('c.text')},
             '","rejected":"',
             {_json_escape_sql('r.text')},
             '"}}'
           ) AS sample
    FROM chosen c JOIN rejected r ON r.lang = c.lang AND r.pair_id = c.pair_id
    """,
    doc="Preference-pair (DPO/RLHF-style) sample rendering: per "
    "language, rank documents by a deterministic quality proxy "
    "(n_chars, doc_id tiebreak), pair rank i with rank n+1-i "
    "(best-vs-worst), and render one JSON training sample per pair "
    "via to_json over a struct — the oracle reproduces Spark's JSON "
    "escaping byte-for-byte. One window ranking plus one equi-join on "
    "(lang, pair_id): both sides hash-partition the same way, so the "
    "pairing join co-locates; no crossJoin, no driver state.",
)
def llm_format_dpo(spark, sf_dir):
    from pyspark.sql import Window as W

    # A preference pair needs BOTH texts: NULL-text docs can't be
    # rendered into a sample (to_json would silently DROP the null
    # field while the oracle's concat renders "") — excluded from the
    # ranking pool on both engines.
    d = _t(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de") & F.col("text").isNotNull()
    )
    w = W.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = d.select(
        "doc_id",
        "lang",
        "text",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(W.partitionBy("lang")).alias("n"),
    )
    half = (F.col("n") / 2).cast("long")
    chosen = ranked.filter(F.col("rk") <= half).select(
        "lang",
        F.col("rk").alias("pair_id"),
        F.col("doc_id").alias("chosen_id"),
        F.col("text").alias("__c_text"),
    )
    rejected = ranked.filter(F.col("rk") > F.col("n") - half).select(
        "lang",
        (F.col("n") + 1 - F.col("rk")).alias("pair_id"),
        F.col("doc_id").alias("rejected_id"),
        F.col("text").alias("__r_text"),
    )
    joined = chosen.join(rejected, ["lang", "pair_id"])
    sample = F.to_json(
        F.struct(
            F.concat(
                F.lit("Write a long "), F.col("lang"), F.lit(" document.")
            ).alias("prompt"),
            F.col("__c_text").alias("chosen"),
            F.col("__r_text").alias("rejected"),
        )
    )
    return joined.select(
        "lang", "pair_id", "chosen_id", "rejected_id", sample.alias("sample")
    )


@parity(
    "llm_source_overlap",
    sql=r"""
    WITH h AS (
      SELECT DISTINCT
             sha256(array_to_string(regexp_split_to_array(trim(text, ' '), '\s+')[1:5], ' ')) AS hash,
             source
      FROM documents),
    tot AS (SELECT source, COUNT(*) AS n_docs FROM h GROUP BY source)
    SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared,
           (ROUND(COUNT(*) * 1.0 / LEAST(ta.n_docs, tb.n_docs) + 1e-9, 4) + 0.0) AS overlap
    FROM h a
    JOIN h b ON a.hash = b.hash AND a.source < b.source
    JOIN tot ta ON ta.source = a.source
    JOIN tot tb ON tb.source = b.source
    GROUP BY a.source, b.source, ta.n_docs, tb.n_docs
    """,
    doc="Cross-source duplicate-overlap matrix: for every source pair, "
    "how many distinct content fingerprints (sha2-256 of the 5-token "
    "document prefix — the cheap head-fingerprint used before "
    "committing to full-content dedup) appear in both, and the "
    "overlap coefficient (shared / smaller side) — the diagnostic "
    "that decides which corpus sources to dedup against each other "
    "before mixing. The self-join carries 32-byte digests, not "
    "document text; plan is the dedup shape: one hash-shuffle "
    "self-join on the digest + a keyed count; per-source totals are "
    "a tiny broadcast frame.",
)
def llm_source_overlap(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    h = docs.select(
        F.sha2(
            F.array_join(F.slice(dedup.tokens_col("text"), 1, 5), " "), 256
        ).alias("hash"),
        "source",
    ).distinct()
    tot = h.groupBy("source").agg(F.count("*").alias("n_docs"))
    a = h.select(F.col("hash"), F.col("source").alias("src_a"))
    b = h.select(F.col("hash"), F.col("source").alias("src_b"))
    pairs = (
        a.join(b, "hash")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    ta = tot.select(
        F.col("source").alias("src_a"), F.col("n_docs").alias("na")
    )
    tb = tot.select(
        F.col("source").alias("src_b"), F.col("n_docs").alias("nb")
    )
    return (
        pairs.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            r_(F.col("n_shared") / F.least("na", "nb"), 4).alias("overlap"),
        )
    )


@parity(
    "llm_subsample_frequent",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, CAST(i AS INT) AS pos, t[CAST(i AS INT)] AS w
      FROM (SELECT doc_id, {_TOK} AS t FROM documents),
           UNNEST(range(1, len(t) + 1)) u(i)
    ),
    freq AS (
      SELECT w, COUNT(*) AS cnt, COUNT(*) * 1.0 / (SELECT COUNT(*) FROM tok) AS f
      FROM tok GROUP BY w
    ),
    scored AS (
      SELECT tok.doc_id, tok.pos, tok.w, freq.cnt,
             LEAST(sqrt(0.001 / freq.f), 1.0) AS p_keep,
             (((xor(hash_key, 99) & 2147483647) * 2654435761) % 2147483647)
               / 2147483647.0 AS u
      FROM (
        SELECT doc_id, pos, w,
               doc_id * 1000003 + pos AS hash_key
        FROM tok
      ) tok JOIN freq ON freq.w = tok.w
    )
    SELECT doc_id, pos, w, CAST(cnt AS BIGINT) AS corpus_count,
           (ROUND(p_keep + 1e-9, 4) + 0.0) AS p_keep
    FROM scored
    WHERE u < p_keep
    """,
    doc="Frequent-word subsampling (word2vec-style, Mikolov et al. "
    "2013): each token kept with p = min(sqrt(t/f), 1) where f is its "
    "corpus frequency — the step that deflates stopword mass before "
    "embedding training. The keep decision is a DETERMINISTIC hash "
    "threshold on (doc_id, position) — the same seeded Knuth-"
    "multiplicative realization as the repo's samplers, so any engine "
    "reproduces the exact kept set (no RNG state). Plan: one explode, "
    "one word-frequency aggregate joined back (broadcast at vocab "
    "scale vs corpus), one map-side filter.",
)
def llm_subsample_frequent(spark, sf_dir):
    from .llm.dedup import tokens_col

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(tokens_col("text")).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    from pyspark.sql import Window as W

    freq = tok.groupBy("w").agg(F.count("*").alias("cnt"))
    # total tokens = sum of vocab counts — derived on the TINY vocab
    # frame (window over the aggregate), not a second corpus scan
    freq = freq.withColumn(
        "f", F.col("cnt") / F.sum("cnt").over(W.partitionBy())
    )
    p_keep = F.least(F.sqrt(F.lit(0.001) / F.col("f")), F.lit(1.0))
    hash_key = F.col("doc_id") * F.lit(1000003) + F.col("pos")
    u = (
        (
            hash_key.bitwiseXOR(F.lit(99)).bitwiseAND(F.lit(2147483647))
            * F.lit(2654435761)
        )
        % F.lit(2147483647)
    ) / F.lit(2147483647.0)
    return (
        tok.join(F.broadcast(freq), "w")
        .select(
            "doc_id",
            "pos",
            "w",
            F.col("cnt").alias("corpus_count"),
            r_(p_keep, 4).alias("p_keep"),
            u.alias("__u"),
            p_keep.alias("__p"),
        )
        .filter(F.col("__u") < F.col("__p"))
        .drop("__u", "__p")
    )


@parity(
    "llm_augment_spanmask",
    sql=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    spans AS (
      SELECT doc_id, CAST(i AS INT) AS span_idx,
             array_to_string(t[(CAST(i AS INT)*3+1):(CAST(i AS INT)*3+3)], ' ') AS span_text
      FROM tok, UNNEST(range(0, len(t) + 1)) u(i)
      WHERE CAST(i AS INT)*3 < len(t)
    ),
    flagged AS (
      SELECT doc_id, span_idx, span_text,
             (((xor(doc_id * 131 + span_idx, 17) & 2147483647) * 2654435761)
               % 2147483647) % 100 < 15 AS masked
      FROM spans
    ),
    keyed AS (
      SELECT doc_id, span_idx, span_text, masked,
             CASE WHEN masked THEN
               ROW_NUMBER() OVER (PARTITION BY doc_id, masked ORDER BY span_idx) - 1
             END AS k
      FROM flagged
    )
    SELECT doc_id,
           string_agg(CASE WHEN masked THEN '<extra_id_' || k || '>'
                           ELSE span_text END, ' ' ORDER BY span_idx) AS corrupted,
           string_agg(CASE WHEN masked THEN '<extra_id_' || k || '> ' || span_text END,
                      ' ' ORDER BY span_idx) AS targets,
           CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
    FROM keyed
    GROUP BY doc_id
    """,
    doc="T5-style span corruption (Raffel et al. 2020 denoising "
    "objective): tokens partitioned into 3-token spans, ~15% of spans "
    "masked by a DETERMINISTIC hash on (doc_id, span_idx) (same "
    "seeded Knuth-multiplicative realization as the samplers — the "
    "corrupted/target pair reproduces exactly on any engine), masked "
    "spans replaced by ordinal <extra_id_K> sentinels in the input "
    "and emitted after their sentinel in the target. Plan: one "
    "explode to spans, one window for K, one ordered re-aggregation "
    "per doc — no UDF, per-doc working set bounded by doc length.",
)
def llm_augment_spanmask(spark, sf_dir):
    from pyspark.sql import Window as W

    from .llm.dedup import tokens_col

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", tokens_col("text").alias("t"))
    spans = tok.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, CAST((size(t) - 1) / 3 AS INT)), "
                "i -> array_join(slice(t, i * 3 + 1, 3), ' '))"
            )
        ).alias("span_idx", "span_text"),
    )
    hashed = (
        (F.col("doc_id") * F.lit(131) + F.col("span_idx"))
        .bitwiseXOR(F.lit(17))
        .bitwiseAND(F.lit(2147483647))
        * F.lit(2654435761)
    ) % F.lit(2147483647)
    flagged = spans.withColumn("masked", hashed % 100 < 15)
    wk = W.partitionBy("doc_id", "masked").orderBy("span_idx")
    keyed = flagged.withColumn(
        "k",
        F.when(F.col("masked"), F.row_number().over(wk) - 1),
    )
    inp = F.when(
        F.col("masked"), F.concat(F.lit("<extra_id_"), F.col("k"), F.lit(">"))
    ).otherwise(F.col("span_text"))
    tgt = F.when(
        F.col("masked"),
        F.concat(
            F.lit("<extra_id_"), F.col("k"), F.lit("> "), F.col("span_text")
        ),
    )
    agg = keyed.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("span_idx", inp.alias("s")))
                ),
                lambda x: x["s"],
            ),
            " ",
        ).alias("corrupted"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("masked"),
                            F.struct("span_idx", tgt.alias("s")),
                        )
                    )
                ),
                lambda x: x["s"],
            ),
            " ",
        ).alias("targets"),
        F.sum(F.col("masked").cast("long")).alias("n_masked"),
    )
    return agg.withColumn(
        "targets", F.when(F.col("n_masked") > 0, F.col("targets"))
    )


@parity(
    "ml_eval_confusion",
    sql=f"""
    WITH h AS (
      SELECT doc_id, lang,
             len(list_filter({_TOK}, x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS hits_en,
             len(list_filter({_TOK}, x -> x IN ('el', 'la', 'de', 'que', 'y'))) AS hits_es,
             len(list_filter({_TOK}, x -> x IN ('der', 'die', 'und', 'das', 'ist'))) AS hits_de,
             len(list_filter({_TOK}, x -> x IN ('le', 'la', 'et', 'les', 'des'))) AS hits_fr,
             length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS n_cjk
      FROM documents
    ),
    p AS (
      SELECT lang AS true_lang,
             CASE WHEN n_cjk > 0 THEN 'zh'
                  WHEN greatest(hits_en, hits_es, hits_de, hits_fr) <= 0 THEN 'und'
                  WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
                  WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
                  WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
                  ELSE 'fr' END AS pred_lang
      FROM h
    ),
    cm AS (SELECT true_lang, pred_lang, COUNT(*) AS n FROM p GROUP BY 1, 2),
    stats AS (
      SELECT cm.*,
             SUM(n) OVER (PARTITION BY true_lang) AS n_true,
             SUM(n) OVER (PARTITION BY pred_lang) AS n_pred
      FROM cm
    )
    SELECT true_lang, pred_lang, n,
           (ROUND(CASE WHEN true_lang = pred_lang THEN n * 1.0 / n_pred END + 1e-9, 4) + 0.0) AS precision,
           (ROUND(CASE WHEN true_lang = pred_lang THEN n * 1.0 / n_true END + 1e-9, 4) + 0.0) AS recall,
           (ROUND(CASE WHEN true_lang = pred_lang
                      THEN 2.0 * n / (n_true + n_pred) END + 1e-9, 4) + 0.0) AS f1
    FROM stats
    """,
    doc="Classifier evaluation as an operator: confusion matrix of the "
    "language-ID heuristic against the labeled lang column, with "
    "per-class precision / recall / F1 carried on the diagonal rows — "
    "the eval primitive every model in the pipeline reports through. "
    "One prediction projection (map-side), one (true, pred) keyed "
    "count, and the class marginals via two windows over the tiny "
    "classes² frame; at 100 TB the only fact-sized work is the scan "
    "and one aggregate.",
)
def ml_eval_confusion(spark, sf_dir):
    from pyspark.sql import Window as W

    from .llm.text import lang_pred_expr

    docs = _t(spark, sf_dir, "documents")
    pred, _ = lang_pred_expr("text")
    p = docs.select(
        F.col("lang").alias("true_lang"), pred.alias("pred_lang")
    )
    cm = p.groupBy("true_lang", "pred_lang").agg(F.count("*").alias("n"))
    wt = W.partitionBy("true_lang")
    wp = W.partitionBy("pred_lang")
    diag = F.col("true_lang") == F.col("pred_lang")
    n_true = F.sum("n").over(wt)
    n_pred = F.sum("n").over(wp)
    return cm.select(
        "true_lang",
        "pred_lang",
        "n",
        F.when(diag, r_(F.col("n") / n_pred, 4)).alias("precision"),
        F.when(diag, r_(F.col("n") / n_true, 4)).alias("recall"),
        F.when(diag, r_(F.lit(2.0) * F.col("n") / (n_true + n_pred), 4)).alias(
            "f1"
        ),
    )


@parity(
    "llm_dataset_card",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, lang, source, n_chars, len({_TOK}) AS n_tokens, text
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             COUNT(DISTINCT lang) AS n_langs,
             COUNT(DISTINCT source) AS n_sources,
             COUNT(DISTINCT text) AS n_unique_texts,
             CAST(quantile_disc(n_tokens, 0.5) AS BIGINT) AS median_tokens,
             MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
      FROM tok
    )
    SELECT n_docs, total_tokens, total_chars, n_langs, n_sources,
           (ROUND((n_docs - n_unique_texts) * 1.0 / n_docs + 1e-9, 4) + 0.0) AS dup_rate,
           median_tokens, CAST(min_tokens AS BIGINT) AS min_tokens,
           CAST(max_tokens AS BIGINT) AS max_tokens
    FROM stats
    """,
    doc="Dataset card: the one-row corpus summary a data release ships "
    "with — doc/token/char totals, language and source cardinalities, "
    "exact-duplicate rate (1 - distinct texts / docs), and the "
    "token-length min/median/max. ONE aggregate pass (distinct-count "
    "aggregates expand to partial sketchless distincts under a single "
    "scan; the median is the exact discrete percentile). The "
    "provenance/summary artifact generated after every pipeline run.",
)
def llm_dataset_card(spark, sf_dir):
    from .llm.dedup import tokens_col

    tok = _t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        "n_chars",
        "text",
        F.size(tokens_col("text")).alias("n_tokens"),
    )
    s = tok.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("text").alias("n_unique_texts"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_tokens)")
        .cast("long")
        .alias("median_tokens"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
    )
    return s.select(
        "n_docs",
        "total_tokens",
        "total_chars",
        "n_langs",
        "n_sources",
        # try_divide: an empty corpus has n_docs == 0 → NULL dup_rate
        # (DuckDB's x/0), not an ANSI DIVIDE_BY_ZERO crash
        r_(
            F.try_divide(
                F.col("n_docs") - F.col("n_unique_texts"), F.col("n_docs")
            ),
            4,
        ).alias("dup_rate"),
        "median_tokens",
        "min_tokens",
        "max_tokens",
    )


@parity(
    "llm_multimodal_resize",
    sql="""
    WITH d AS (SELECT doc_id, (doc_id % 5) + 2 AS w, (doc_id % 3) + 2 AS h
               FROM documents WHERE doc_id < 50),
    o AS (
      SELECT doc_id, w, h, CAST(i AS INT) % 3 AS c,
             (CAST(i AS INT) // 3) % 4 AS x, (CAST(i AS INT) // 3) // 4 AS y
      FROM d, UNNEST(range(0, 48)) u(i)
    ),
    m AS (
      SELECT doc_id, w, h,
             (doc_id * 7 + 3 * (CAST(FLOOR(y * h / 4.0) AS INT) * w
                                + CAST(FLOOR(x * w / 4.0) AS INT)) + c) % 256 AS px
      FROM o
    )
    SELECT doc_id, CAST(w AS BIGINT) AS src_width, CAST(h AS BIGINT) AS src_height,
           CAST(4 AS BIGINT) AS out_width, CAST(4 AS BIGINT) AS out_height,
           CAST(SUM(px) AS BIGINT) AS resized_sum,
           (ROUND(SUM(px) / 48.0 + 1e-9, 4) + 0.0) AS resized_mean
    FROM m GROUP BY doc_id, w, h
    """,
    doc="Image RESIZE through the engine (the pre-batching geometric "
    "transform): binary PPM decoded, nearest-neighbor resampled to "
    "4x4 with vectorized numpy index arithmetic (sx = x*w // 4 floor "
    "mapping — a real kernel, not a stub) inside one "
    "map_doc_kernel pass; features come from the RESIZED raster and the "
    "oracle recomputes every resampled pixel from the source formula "
    "and the same floor mapping, so an off-by-one in the index "
    "arithmetic breaks the match "
    "(llm/multimodal.py::ppm_resize_features).",
)
def llm_multimodal_resize(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.ppm_resize_features(docs)


@parity(
    "llm_multimodal_resample",
    sql="""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
    s AS (SELECT doc_id, i FROM d, UNNEST(range(0, 59)) u(i)
          WHERE i < (doc_id % 50) + 10 AND i % 2 = 0),
    v AS (SELECT doc_id, ((doc_id * 31 + i * 17) % 4096) - 2048 AS smp FROM s)
    SELECT doc_id,
           CAST(8000 + (doc_id % 5) * 1000 AS BIGINT) AS src_rate,
           CAST((8000 + (doc_id % 5) * 1000) // 2 AS BIGINT) AS out_rate,
           CAST((doc_id % 50) + 10 AS BIGINT) AS n_src,
           COUNT(*) AS n_out,
           CAST(SUM(smp) AS BIGINT) AS sum_out,
           (ROUND(sqrt(SUM(smp * smp) * 1.0 / COUNT(*)) + 1e-9, 4) + 0.0) AS rms_out
    FROM v GROUP BY doc_id
    """,
    doc="Audio RESAMPLE through the engine (rate normalization before "
    "batching): WAV decode + integer-factor decimation (keep every "
    "2nd sample — numpy-vectorized, the real downsampling kernel) in "
    "one map_doc_kernel pass; features come from the RESAMPLED "
    "signal and the oracle recomputes them from the source formula "
    "restricted to even sample indexes, so an off-by-one in the "
    "decimation stride breaks the match "
    "(llm/multimodal.py::wav_resample_features).",
)
def llm_multimodal_resample(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return multimodal.wav_resample_features(docs)


@parity(
    "llm_filter_funnel",
    sql=f"""
    WITH q AS (
      SELECT doc_id, text,
             (ROUND(0.4 * least(len({_TOK}) / 50.0, 1.0)
                   + 0.3 * (1.0 - ROUND((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))) * 1.0 / length(text) + 1e-9, 4))
                   + 0.3 * ROUND(len(list_filter({_TOK}, x -> x IN ('the', 'a', 'and', 'of', 'to'))) * 1.0 / len({_TOK}) + 1e-9, 4)
                   + 1e-9, 4) + 0.0) AS quality,
             CASE WHEN length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) > 0 THEN 'zh'
                  WHEN greatest(hits_en, hits_es, hits_de, hits_fr) <= 0 THEN 'und'
                  WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
                  WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
                  WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
                  ELSE 'fr' END AS pred_lang
      FROM (
        SELECT doc_id, text,
               len(list_filter({_TOK}, x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS hits_en,
               len(list_filter({_TOK}, x -> x IN ('el', 'la', 'de', 'que', 'y'))) AS hits_es,
               len(list_filter({_TOK}, x -> x IN ('der', 'die', 'und', 'das', 'ist'))) AS hits_de,
               len(list_filter({_TOK}, x -> x IN ('le', 'la', 'et', 'les', 'des'))) AS hits_fr
        FROM documents WHERE text IS NOT NULL
      )
    ),
    flags AS (
      SELECT doc_id, quality >= 0.5 AS pass_quality,
             pred_lang IN ('en', 'de') AS pass_lang,
             doc_id = MIN(CASE WHEN quality >= 0.5 AND pred_lang IN ('en', 'de')
                               THEN doc_id END)
                      OVER (PARTITION BY text) AS pass_dedup
      FROM q
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
           CAST(SUM(CASE WHEN pass_quality THEN 1 ELSE 0 END) AS BIGINT) AS after_quality,
           CAST(SUM(CASE WHEN pass_quality AND pass_lang THEN 1 ELSE 0 END) AS BIGINT) AS after_lang,
           CAST(SUM(CASE WHEN pass_quality AND pass_lang AND pass_dedup THEN 1 ELSE 0 END) AS BIGINT) AS after_dedup,
           (ROUND(SUM(CASE WHEN pass_quality AND pass_lang AND pass_dedup THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*) + 1e-9, 4) + 0.0) AS retention
    FROM flags
    """,
    doc="Filter-cascade attrition report (pipeline observability): how "
    "many documents survive each stage of e2e_llm_data_pipeline's "
    "EXACT cascade — quality bar → predicted-language allowlist → "
    "post-filter exact dedup (min surviving doc_id per content, the "
    "same rule and order as the pipeline) — plus end-to-end "
    "retention, in ONE pass: every stage is a boolean flag column "
    "and the funnel is cumulative-AND conditional counts (no "
    "per-stage re-filtering, no N scans). after_dedup equals the e2e "
    "pipeline's output row count by construction (asserted in "
    "tests).",
)
def llm_filter_funnel(spark, sf_dir):
    from pyspark.sql import Window as W

    from .llm.text import lang_pred_expr, quality_exprs

    # NULL-text rows are dropped at ingest (same rule as the e2e
    # pipeline, keeping after_dedup == its output count): a contentless
    # row has no defined quality score, and engines disagree on how
    # NULL propagates through the score formula.
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    _, _, _, quality = quality_exprs("text")
    pred, _ = lang_pred_expr("text")
    scored = docs.select(
        "doc_id",
        "text",
        (quality >= 0.5).alias("pass_quality"),
        pred.isin("en", "de").alias("pass_lang"),
    )
    surv_min = F.min(
        F.when(F.col("pass_quality") & F.col("pass_lang"), F.col("doc_id"))
    ).over(W.partitionBy("text"))
    flagged = scored.withColumn(
        "pass_dedup", F.col("doc_id") == surv_min
    )
    c1 = F.col("pass_quality")
    c2 = c1 & F.col("pass_lang")
    c3 = c2 & F.col("pass_dedup")
    return flagged.agg(
        F.count("*").alias("n_input"),
        F.sum(c1.cast("long")).alias("after_quality"),
        F.sum(c2.cast("long")).alias("after_lang"),
        F.sum(c3.cast("long")).alias("after_dedup"),
        r_(F.sum(c3.cast("long")) / F.count("*"), 4).alias("retention"),
    )


@parity(
    "llm_sentiment_lexicon",
    sql=f"""
    WITH tok AS (SELECT doc_id, lang, {_TOK} AS t FROM documents),
    h AS (
      SELECT doc_id, lang, len(t) AS n_tokens,
             len(list_filter(t, x -> x IN ('fast', 'good', 'best', 'up'))) AS pos_hits,
             len(list_filter(t, x -> x IN ('slow', 'bad', 'worst', 'down'))) AS neg_hits
      FROM tok
    )
    SELECT doc_id, lang, CAST(pos_hits AS BIGINT) AS pos_hits,
           CAST(neg_hits AS BIGINT) AS neg_hits,
           (ROUND((pos_hits - neg_hits) * 1.0 / n_tokens + 1e-9, 4) + 0.0) AS polarity,
           CASE WHEN pos_hits > neg_hits THEN 'pos'
                WHEN neg_hits > pos_hits THEN 'neg' ELSE 'neu' END AS label
    FROM h
    """,
    doc="Lexicon-based sentiment scoring (the 'Large Scale Sentiment "
    "Analysis with Spark' EDBT workload shape, lexicon-matching "
    "variant): per-document positive/negative lexicon hit counts, "
    "length-normalized polarity in [-1, 1], argmax label with "
    "deterministic neutral ties. Pure map-side expression over one "
    "scan — the same array_filter codegen family as language ID; at "
    "100 TB a real lexicon (thousands of entries) broadcasts as an "
    "array literal or joins token-exploded against a lexicon table, "
    "both engine-side.",
)
def llm_sentiment_lexicon(spark, sf_dir):
    from .llm.dedup import tokens_col

    d = _t(spark, sf_dir, "documents")
    t = tokens_col("text")
    pos = F.size(F.filter(t, lambda x: x.isin("fast", "good", "best", "up")))
    neg = F.size(
        F.filter(t, lambda x: x.isin("slow", "bad", "worst", "down"))
    )
    return d.select(
        "doc_id",
        "lang",
        pos.cast("long").alias("pos_hits"),
        neg.cast("long").alias("neg_hits"),
        r_((pos - neg) / F.size(t), 4).alias("polarity"),
        F.when(pos > neg, F.lit("pos"))
        .when(neg > pos, F.lit("neg"))
        .otherwise(F.lit("neu"))
        .alias("label"),
    )


@parity(
    "llm_novelty_ratio",
    sql=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    ng AS (SELECT DISTINCT doc_id,
                  t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS g
           FROM tok, UNNEST(range(1, len(t))) u(i) WHERE len(t) >= 2),
    first_seen AS (SELECT g, MIN(doc_id) AS first_doc FROM ng GROUP BY g)
    SELECT ng.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN first_seen.first_doc = ng.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           (ROUND(SUM(CASE WHEN first_seen.first_doc = ng.doc_id
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*) + 1e-9, 4) + 0.0) AS novelty
    FROM ng JOIN first_seen ON first_seen.g = ng.g
    GROUP BY ng.doc_id
    """,
    doc="Corpus novelty tracking: per document, the share of its "
    "distinct word-bigrams never seen in any EARLIER document "
    "(doc_id order = ingestion order) — the curation signal that "
    "separates fresh content from recombinations as a crawl grows, "
    "and the memorization-risk proxy for training-data audits. "
    "Shingle explode (map-side, distinct per doc) → one first-seen "
    "aggregate on the gram key → co-partitioned join back on the "
    "same key (no second shuffle of the gram frame) → per-doc "
    "ratio. Same inverted-index shape as the n-gram dedup family.",
)
def llm_novelty_ratio(spark, sf_dir):
    from .llm.dedup import ngrams_over_tokens, tokens_col

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col("text").alias("t"))
    ng = (
        toks.select(
            "doc_id", F.explode(ngrams_over_tokens("t", 2)).alias("g")
        )
        .distinct()
    )
    first_seen = ng.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        ng.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
            r_(
                F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
                / F.count("*"),
                4,
            ).alias("novelty"),
        )
    )
