"""Vector similarity search and embedding near-duplicate detection over
an embedding column (SURVEY.md §2.10 `llm_similarity_*`, `llm_embed_*`).

Operators:
- exact top-k on the (q_id, n_id, sim, rank) contract: brute_force_topk
  (broadcast queries × corpus — the reference every approximate path is
  tested against) and brute_force_topk_arrow (the same rows from an
  Arrow-batched numpy matmul);
- approximate top-k on the same contract: lsh_bucketed_topk (sign-LSH
  hyperplane buckets), ivf_topk (k-means inverted lists), pq_topk
  (product-quantization ADC scan with exact re-rank) and ivfpq_topk
  (the two composed);
- embedding near-dup pairs on the (id_a, id_b, sim) contract:
  cosine_near_dup_pairs (all-pairs — the reference),
  cosine_near_dup_pairs_arrow (blocked numpy matmul) and
  cosine_near_dup_pairs_lsh (banded sign-LSH), plus
  cosine_near_dup_edges_lsh, the connectivity-equivalent edge frame fed
  to dedup.dedup_clusters;
- the fits behind them (kmeans_fit, pq_codebooks, pca_fit /
  pca_project) and rrf_fuse for hybrid lexical ⊕ vector search.

Each stage the operators share exists once: _vectors (ingest guard, id
and vector aliases, norm), _rounded_cosine and its numpy mirror
_np_rounded_cosine (cosine + EPS, rounded), _arrow_matrix (the Arrow
vector decoder of every numpy kernel), _rank_top_k (the row_number
tail over (sim desc, n_id)), _sign_bands (the sign-LSH band keys of
lsh_bucketed_topk and the near-dup LSH ops), _nearest (the
nearest-centroid kernel of every quantizer) with its two callers
_lloyd (the one k-means loop of kmeans_fit and pq_codebooks) and
nearest_udf (IVF lists and probes, PQ codes, the k-means profile),
_partition_sums (the bounded per-partition moment pass of _lloyd and
pca_fit), _pq_fit and _adc_refine (PQ lookup tables, ADC score and
exact re-rank), and _collapsed_vectors (the identical-vector collapse
of the near-dup ops, whose candidate rep pairs come from
dedup.bucket_pairs and which dedup.member_pairs / dedup.member_edges
finish).

Arithmetic uses built-in higher-order array functions (zip_with /
aggregate) in DOUBLE precision — JVM codegen, no Python UDF — except in
the Arrow twins and the quantizer fits and assignments, which run numpy
over Arrow batches.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..genutil import posexplode_col
from .dedup import bucket_pairs, collapse_identical, member_edges, member_pairs

# Tie-safe rounding epsilon (see trino_demo_spark.parity.EPS).
EPS = 1e-9

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
NORM = (
    "sqrt(aggregate({a}, CAST(0 AS DOUBLE), "
    "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
)


def finite_vectors(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """Ingest guard for every geometric operator (similarity / ANN /
    near-dup / k-means / PCA): drop rows whose vector cannot participate
    in vector arithmetic — NULL cell, wrong dimensionality, or any
    non-finite component. At corpus scale these are routine data
    conditions (failed embedding calls, schema drift, overflowed
    upstream math), and they poison everything downstream: a NaN vector
    ranks ABOVE every real neighbor in a descending cosine sort on both
    Spark and DuckDB (NaN compares greatest), and a NULL/ragged cell
    hard-crashes the Arrow matmul batch. ``x - x = 0`` is false for
    NaN and ±Inf (both yield NaN) — one codegen-friendly predicate, no
    UDF. Oracle mirror: ``embedding IS NOT NULL AND len(list_filter(
    embedding, x -> x IS NULL OR NOT isfinite(x))) = 0`` — the ``x IS
    NULL`` arm matters: the engine's forall yields NULL (row dropped)
    on a NULL component, while DuckDB's bare isfinite(NULL) is NULL and
    list_filter would silently skip the element."""
    col = F.col(vec_col)
    ok = col.isNotNull() & F.forall(col, lambda x: (x - x) == F.lit(0.0))
    if dim is not None:
        ok = ok & (F.size(col) == F.lit(dim))
    return df.filter(ok)


def with_norm(df: DataFrame, vec_col: str = "embedding", out: str = "norm") -> DataFrame:
    return df.withColumn(out, F.expr(NORM.format(a=vec_col)))


def cosine_expr(a: str, b: str, norm_a: str, norm_b: str):
    # Zero-norm vectors (padding rows, failed embedding calls) define
    # cosine as 0.0 rather than a DIVIDE_BY_ZERO under ANSI mode —
    # mirrored by COALESCE(dot / NULLIF(…, 0), 0) in the oracles.
    return F.coalesce(
        F.try_divide(
            F.expr(DOT.format(a=a, b=b)), F.col(norm_a) * F.col(norm_b)
        ),
        F.lit(0.0),
    )


def _vectors(
    df: DataFrame, id_col: str, vec_col: str, dim: int | None, prefix: str = ""
) -> DataFrame:
    """The vector side of every operator: finite_vectors (with the
    caller's declared dimensionality), then the id and vector aliased to
    ``<prefix>id`` / ``<prefix>emb``, then their ``<prefix>norm``."""
    return with_norm(
        finite_vectors(df, vec_col, dim).select(
            F.col(id_col).alias(prefix + "id"), F.col(vec_col).alias(prefix + "emb")
        ),
        prefix + "emb",
        prefix + "norm",
    )


def _rounded_cosine(a: str, b: str, norm_a: str, norm_b: str, round_to: int):
    """The ``sim`` column of every operator: cosine_expr plus the
    tie-safe EPS, rounded, so rankings and thresholds are deterministic
    and engine-independent."""
    return F.round(cosine_expr(a, b, norm_a, norm_b) + F.lit(EPS), round_to).alias(
        "sim"
    )


def _arrow_matrix(col):
    """float64 (rows × width) matrix of a non-empty Arrow list column of
    equal-length vectors. A ragged column raises: pass ``dim`` to drop
    ragged rows at ingest."""
    import pyarrow as pa

    width = len(col[0])
    flat = col.cast(pa.list_(pa.float64(), width)).flatten().to_numpy()
    return flat.reshape(-1, width)


def _np_rounded_cosine(a, b, round_to: int):
    """numpy mirror of _rounded_cosine: every row of float64 matrix
    ``a`` against every row of ``b``. A zero-norm row gives cosine 0.0
    (as cosine_expr), not a silent inf/nan from the vectorized
    division. float64 matmul differs from the fold only in summation
    order (~1e-15 relative), which the EPS-before-round absorbs."""
    import numpy as np

    norm_a, norm_b = (np.sqrt((m * m).sum(axis=1)) for m in (a, b))
    den = norm_a[:, None] * norm_b[None, :]
    return np.round(
        np.divide(a @ b.T, den, out=np.zeros_like(den), where=den != 0) + EPS,
        round_to,
    )


def _rank_top_k(pairs: DataFrame, k: int) -> DataFrame:
    """The tail of every top-k operator: per q_id, row_number over
    (sim desc, n_id) — ties broken by neighbor id — kept to rank ≤ k."""
    w = W.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "sim", "rank")
    )


def _array_lit(values):
    """A (nested) list of numbers as a DOUBLE array literal — hyperplanes,
    centroids and codebooks ride into the plan this way."""
    if isinstance(values, (list, tuple)):
        return F.array(*[_array_lit(v) for v in values])
    return F.lit(float(values))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × corpus, window row_number.

    Similarities are rounded and ties broken by neighbor id so rankings
    are deterministic and engine-independent. ``dim`` is the caller's
    declared embedding dimensionality (schema contract): when given,
    ragged vectors are dropped at ingest alongside NULL/non-finite ones
    — a finite wrong-length vector would otherwise NULL-pad the
    zip_with dot product (silent garbage) or crash the Arrow matmul.
    """
    q = _vectors(queries, id_col, vec_col, dim, "q_")
    c = _vectors(corpus, id_col, vec_col, dim, "n_")
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", _rounded_cosine("q_emb", "n_emb", "q_norm", "n_norm", round_to))
    )
    return _rank_top_k(pairs, k)


def brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul (mapInArrow) —
    the production-throughput version of brute_force_topk, same results.

    brute_force_topk's zip_with/aggregate dot product is an interpreted
    HOF (~64 boxed ops per pair); here each task computes ONE
    (batch × dim) @ (dim × |Q|) float64 matmul and emits only its LOCAL
    top-k per query, so the final exchange carries
    num_partitions × |Q| × k rows into the global top-k window (the
    map-side-combine of similarity search). Measured 21.3s → well under
    a second of compute at sf10-equivalent (200k × 64, 20 queries).

    Parity: float64 matmul vs the fold differs only in summation order
    (~1e-15 relative); the shared EPS-before-round discipline absorbs
    it, so output is row-identical to brute_force_topk and the same
    DuckDB oracle applies. Queries are collected to the driver — by the
    same bounded-query-set contract the broadcast in brute_force_topk
    already assumes.
    """
    import numpy as np

    corpus = finite_vectors(corpus, vec_col, dim)
    qrows = finite_vectors(queries, vec_col, dim).select(id_col, vec_col).collect()
    spark = corpus.sparkSession
    if not qrows:
        return spark.createDataFrame(
            [], "q_id long, n_id long, sim double, rank long"
        )
    q_ids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    kk, rt = k, round_to

    def local_topk(batches):
        import pyarrow as pa

        for b in batches:
            if not b.num_rows:
                continue
            ids = b.column(0).to_numpy().astype(np.int64)
            sims = _np_rounded_cosine(_arrow_matrix(b.column(1)), q_mat, rt)
            out_q, out_n, out_s = [], [], []
            for j, q_id in enumerate(q_ids):
                mask = ids != q_id
                cids, csim = ids[mask], sims[mask, j]
                # top-k by (sim desc, n_id asc): lexsort is stable,
                # last key primary
                order = np.lexsort((cids, -csim))[:kk]
                out_q.append(np.full(len(order), q_id))
                out_n.append(cids[order])
                out_s.append(csim[order])
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(c)) for c in (out_q, out_n, out_s)],
                names=["q_id", "n_id", "sim"],
            )

    local = corpus.select(id_col, vec_col).mapInArrow(
        local_topk, "q_id long, n_id long, sim double"
    )
    return _rank_top_k(local, k)


def _hyperplanes(dim: int, num_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no RNG dependency): a
    hash-mixed lattice mapped into [-1, 1]. Fixed for a given (dim,
    num_planes) so bucketing is stable across runs and engines."""
    planes = []
    for j in range(num_planes):
        row = []
        for d in range(dim):
            h = (j * 2654435761 + d * 40503 + 12345) * 2246822519 % 4294967296
            row.append((h % 2000) / 1000.0 - 1.0)
        planes.append(row)
    return planes


def _sign_bands(
    df: DataFrame, vec: str, dim: int, num_planes: int, bands: int, *keep: str
) -> DataFrame:
    """(band, bkey) rows, one per band of each ``df`` row with the
    ``keep`` columns: bkey is the band's sign-LSH key, the sign bits of
    vec·h over its num_planes // bands fixed hyperplanes, first plane
    the high bit. One aggregate over element variables per key (no
    bit-array column for Catalyst to inline per band). The keys leave
    through posexplode_col, never as a projected join key: constraint
    inference misses a column used inside aggregate's merge lambda and
    pushes the other side's key expression below an equi-join on it, a
    filter that fails at run time with an unbound attribute (seen on
    lsh_bucketed_topk at sf0.01). posexplode_col also skips the
    inferred Generate pre-filter that would evaluate the keys again."""
    w = num_planes // bands
    keys = F.expr(
        f"transform(sequence(0, {bands - 1}), k -> "
        f"aggregate(slice(__planes, k * {w} + 1, {w}), 0, (acc, p) -> "
        "acc * 2 + CASE WHEN " + DOT.format(a="p", b=vec) + " >= 0 THEN 1 ELSE 0 END))"
    )
    planed = df.withColumn("__planes", _array_lit(_hyperplanes(dim, num_planes)))
    return posexplode_col(planed, keys, "band", "bkey", *keep)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 8,
    round_to: int = 4,
) -> DataFrame:
    """Approximate cosine top-k: sign-LSH bucket join.

    Bucket id = bit pattern of sign(v·h_j) for num_planes fixed
    hyperplanes (_sign_bands with one band of all the planes); queries
    and corpus join only within their bucket. Recall can be raised by
    multi-probe (flipping low-margin bits) or repeated tables; kept
    single-table here.
    """

    def bucketed(df: DataFrame, p: str) -> DataFrame:
        cols = (p + "id", p + "emb", p + "norm")
        return _sign_bands(df, p + "emb", dim, num_planes, 1, *cols)

    # dim doubles as the ingest dimensionality contract: a ragged vector
    # would mis-project against the fixed dim-sized hyperplanes.
    q = bucketed(_vectors(queries, id_col, vec_col, dim, "q_"), "q_")
    c = bucketed(_vectors(corpus, id_col, vec_col, dim, "n_"), "n_")
    pairs = (
        c.join(F.broadcast(q), "bkey")
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", _rounded_cosine("q_emb", "n_emb", "q_norm", "n_norm", round_to))
    )
    return _rank_top_k(pairs, k)


def _collapsed_vectors(
    df: DataFrame, id_col: str, vec_col: str, dim: int | None
):
    """Prelude of the cosine near-dup ops: finite, non-zero vectors
    collapsed to one rep per bit-identical vector. Returns
    dedup.collapse_identical's (groups, mem) over (id, emb).

    Zero vectors have no cosine (the guarded divide yields 0.0, below
    any positive threshold), so they are dropped BEFORE the collapse,
    where identical zero vectors would group together and masquerade as
    sim-1.0 duplicates."""
    rows = _vectors(df, id_col, vec_col, dim).filter(
        F.col("emb").isNotNull() & (F.col("norm") > 0)
    )
    return collapse_identical(rows.select("id", "emb"), "emb", "id")


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ t).
    Brute-force all-pairs — correctness baseline; the LSH bucket join
    (cosine_near_dup_pairs_lsh) is the scale path (same output contract).

    Identical-vector collapse (r10, exact): all-pairs cosine runs over
    DISTINCT vectors only; identical vectors have bit-identical dot
    products, so within-group pairs are emitted directly at sim 1.0
    (round(cos±ulp + EPS, 4) of a self-cosine is exactly 1.0) and
    cross-group rep pairs expand to member pairs after the threshold
    filter (dedup.member_pairs). Output is row-identical to the naive n²
    form; compute drops from corpus² to distinct² (the r9 scaled corpora
    replicate vectors bit-identically, so this is the difference between
    4·10⁸ and 2·10⁶ pair evaluations at sf1). Zero-norm vectors have no
    cosine (the naive form's guarded divide yields 0.0 < any positive
    threshold), so they are excluded from pair generation before the
    collapse. That exclusion makes threshold <= 0 ill-defined (the
    pre-r10 guarded divide emitted zero-norm pairs at sim 0.0; this form
    cannot), so non-positive thresholds are rejected (ADVICE r10)."""
    if threshold <= 0.0:
        raise ValueError(
            "cosine_near_dup_pairs requires threshold > 0: zero-norm "
            "vectors are excluded from pair generation, so a non-positive "
            "threshold would silently return fewer pairs than the naive "
            "guarded-divide form"
        )
    groups, mem = _collapsed_vectors(df, id_col, vec_col, dim)
    reps = with_norm(groups.select(F.col("rep"), "emb"), "emb", "norm")
    a = reps.select(
        F.col("rep").alias("rep_a"),
        F.col("emb").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = reps.select(
        F.col("rep").alias("rep_b"),
        F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    rep_pairs = (
        a.crossJoin(b)
        .filter(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b", _rounded_cosine("emb_a", "emb_b", "norm_a", "norm_b", round_to))
        .filter(F.col("sim") >= threshold)
    )
    return member_pairs(mem, rep_pairs, "sim", threshold)


def cosine_near_dup_pairs_arrow(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Brute-force near-dup pairs via blocked numpy matmul — row-identical
    to cosine_near_dup_pairs (same EPS-round-then-threshold, id_a < id_b)
    and sharing its oracle, but each task multiplies its Arrow batch
    against the broadcast rep matrix instead of running 64 interpreted
    fold ops per pair. Same QUADRATIC compute contract as the expression
    version (this is the exact baseline the LSH path is recall-checked
    against — at true 100 TB scale use cosine_near_dup_pairs_lsh).

    Identical-vector collapse (r10, exact — same argument as the fold
    version): the matmul runs over DISTINCT vectors only; within-group
    pairs are emitted directly at sim 1.0 and surviving rep pairs expand
    to member pairs through the narrow member frame. The broadcast
    shrinks from corpus×dim to distinct×dim and the matmul from corpus²
    to distinct² (sf10 replicated corpus: 854s → seconds). Zero-norm
    vectors have no cosine (the unconstrained matmul's guarded divide
    yielded 0.0 < any positive threshold) and are excluded before the
    collapse. Bounded-DISTINCT-corpus contract: the rep matrix is
    collected to the driver and broadcast, so the distinct-vector count
    must fit in memory — the declared exact-baseline boundary.
    threshold <= 0 is rejected for the same reason as the fold version
    (zero-norm vectors excluded → sim-0.0 pairs unreachable)."""
    if threshold <= 0.0:
        raise ValueError(
            "cosine_near_dup_pairs_arrow requires threshold > 0: zero-norm "
            "vectors are excluded from pair generation, so a non-positive "
            "threshold would silently return fewer pairs than the naive "
            "guarded-divide form"
        )
    import numpy as np

    groups, mem = _collapsed_vectors(df, id_col, vec_col, dim)
    spark = df.sparkSession
    reps = groups.select(F.col("rep"), "emb").collect()
    if not reps:
        return spark.createDataFrame([], "id_a long, id_b long, sim double")
    b_ids = spark.sparkContext.broadcast(
        np.asarray([r[0] for r in reps], dtype=np.int64)
    )
    b_mat = spark.sparkContext.broadcast(
        np.asarray([r[1] for r in reps], dtype=np.float64)
    )
    rt, thr = round_to, threshold

    def pairs_gen(batches):
        import pyarrow as pa

        ids_all, m_all = b_ids.value, b_mat.value
        chunk = max(16, (64 * 1024 * 1024 // 8) // max(len(ids_all), 1))
        for b in batches:
            if not b.num_rows:
                continue
            ids = b.column(0).to_numpy().astype(np.int64)
            m = _arrow_matrix(b.column(1))
            for lo in range(0, len(ids), chunk):
                hi = lo + chunk
                sims = _np_rounded_cosine(m[lo:hi], m_all, rt)
                keep = (sims >= thr) & (ids[lo:hi, None] < ids_all[None, :])
                ai, bj = np.nonzero(keep)
                if len(ai):
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(ids[lo:hi][ai]),
                            pa.array(ids_all[bj]),
                            pa.array(sims[ai, bj]),
                        ],
                        names=["rep_a", "rep_b", "sim"],
                    )

    rep_pairs = groups.select("rep", "emb").mapInArrow(
        pairs_gen, "rep_a long, rep_b long, sim double"
    )
    return member_pairs(mem, rep_pairs, "sim", threshold)


def cosine_near_dup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 16,
    bands: int = 4,
    round_to: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded sign-LSH — the
    100 TB path with the same (id_a, id_b, sim) contract as
    `cosine_near_dup_pairs` (which stays the test oracle).

    num_planes fixed hyperplanes are split into `bands` bands of
    num_planes/bands sign bits; two vectors are candidates if ANY band's
    bit pattern matches (banding boosts recall exactly like MinHash LSH:
    P(candidate) = 1-(1-p^b)^L for per-plane collision prob
    p = 1-θ/π). Candidates get the exact cosine and the threshold filter,
    so false positives cost only compute — recall is the only
    approximation. For sim ≥ 0.95 (θ ≤ 18.2°, p ≥ 0.899) with b=4, L=4
    the per-pair recall is ≥ 98.5%, → 1 rapidly as sim → 1 (true
    near-dups). Work is bounded by bucket sizes (self-join per (band,
    key)), never O(n²); hyperplanes are deterministic so results are
    stable across runs and engines.

    Band keys come from _sign_bands.

    Identical-vector collapse (same shape as minhash_lsh_pairs, same
    measured reason): exact-duplicate docs carry bit-identical
    embeddings, every member of such a cluster lands in every band
    bucket together, and the bucket self-join goes quadratic in cluster
    size — the sf1-equivalent scaling study clocked this as the one
    remaining super-linear query (13.8×/decade). LSH therefore runs
    over DISTINCT vectors only; within-cluster pairs are emitted
    directly (identical vectors ⇒ sim exactly 1.0 after the
    +EPS-round), and cross-cluster rep pairs expand to member pairs
    only after the threshold filter. Output is row-identical; compute
    is linear in corpus size, and only the pair OUTPUT stays quadratic
    in cluster size (inherent to the pair contract —
    `dedup_clusters` is the linear-output representation)."""
    mem, rep_pairs = _lsh_collapse_rep_pairs(
        df, threshold, id_col, vec_col, dim, num_planes, bands, round_to
    )
    # a rep pair colliding in several bands arrives once per band
    return member_pairs(mem, rep_pairs.distinct(), "sim", threshold)


def _lsh_collapse_rep_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    dim: int,
    num_planes: int,
    bands: int,
    round_to: int,
):
    """Shared sign-LSH core: identical-vector collapse, banded bucket
    self-join (dedup.bucket_pairs) over the DISTINCT reps, exact-cosine
    re-check. Returns
    (mem, rep_pairs) where mem is the narrow (rep, mid) member frame
    and rep_pairs is (rep_a, rep_b, sim) above the threshold — NOT
    deduplicated: a rep pair colliding in k ≤ bands bands appears k
    times. The pair contract dedups it; the connectivity consumer
    (the edges → dedup_clusters path, whose edge normalization ends in
    its own .distinct()) does not need to, which saves one exchange of
    the threshold-surviving pairs (r12)."""
    groups, mem = _collapsed_vectors(df, id_col, vec_col, dim)
    keyed = _sign_bands(
        with_norm(groups.select(F.col("rep").alias("id"), "emb"), "emb", "norm"),
        "emb", dim, num_planes, bands, "id", "emb", "norm",
    )
    rep_pairs = (
        bucket_pairs(keyed, ["band", "bkey"], "id", "rep", "emb", "norm")
        .select(
            "rep_a",
            "rep_b",
            _rounded_cosine("emb_a", "emb_b", "norm_a", "norm_b", round_to),
        )
        .filter(F.col("sim") >= threshold)
    )
    return mem, rep_pairs


def cosine_near_dup_edges_lsh(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 16,
    bands: int = 4,
    round_to: int = 4,
) -> DataFrame:
    """Connectivity-equivalent edge frame for CLUSTERING (id_a, id_b) —
    the input to dedup_clusters when only components matter, not the
    pair contract.

    cosine_near_dup_pairs_lsh must emit every member pair: C(m,2) rows
    per identical-vector group and |A|·|B| per surviving rep pair —
    inherently quadratic in duplicate multiplicity (at a 1000-replica
    corpus that is 10⁹ rows for 2k groups). Connected components only
    need CONNECTIVITY, and a rep–member star (m-1 edges per group) plus
    the rep-level threshold edges spans exactly the same components:
    within a group every member reaches its rep directly, and any
    cross-group member pair routes through the two reps. This keeps the
    semantic-dedup composition linear in corpus size + distinct² in
    pair generation — the 100 TB shape (dedup.member_edges)."""
    mem, rep_pairs = _lsh_collapse_rep_pairs(
        df, threshold, id_col, vec_col, dim, num_planes, bands, round_to
    )
    return member_edges(mem, rep_pairs, threshold)


def _nearest(X, C, n: int = 1):
    """The nearest-centroid kernel of every quantizer: the indices of
    the ``n`` nearest rows of centroid matrix ``C`` for each row of
    ``X`` (rows × n, nearest first) by squared L2. The row-constant
    ‖x‖² is dropped — the order is that of ‖c‖² − 2x·c, one matmul per
    batch — and ties go to the lowest centroid index (stable sort)."""
    import numpy as np

    d = (C * C).sum(axis=1) - 2.0 * (X @ C.T)
    return np.argsort(d, axis=1, kind="stable")[:, :n]


def _codes(X, books, n: int = 1):
    """_nearest against m codebooks at once: book j (k × w) quantizes
    columns [j·w, (j+1)·w) of ``X``. Returns rows × (m·n) indices, the n
    of book 0 first."""
    import numpy as np

    w = books.shape[2]
    return np.hstack(
        [_nearest(X[:, j * w : (j + 1) * w], C, n) for j, C in enumerate(books)]
    )


def nearest_udf(books, n: int = 1):
    """The corpus- and query-side assignment of every quantizer: an
    Arrow UDF mapping a vector column to array<int>, the n nearest
    centroid indices (_codes) of each of the m codebooks, book 0 first.
    One book with n=1 is the IVF list / k-means cluster (take ``[0]``),
    n=nprobe the IVF probes, m books the PQ codes."""
    import numpy as np
    import pyarrow as pa

    B = np.asarray(books, dtype=np.float64)
    out_type = pa.list_(pa.int32())

    def assign(col):
        if len(col) == 0:
            return pa.array([], out_type)
        idx = _codes(_arrow_matrix(col), B, n).astype(np.int32)
        return pa.FixedSizeListArray.from_arrays(idx.ravel(), idx.shape[1]).cast(
            out_type
        )

    return F.arrow_udf(assign, "array<int>")


def _partition_sums(df: DataFrame, vec_col: str, moments):
    """Σ over the corpus of ``moments(X)``, a list of fixed-shape numpy
    arrays computed from one Arrow batch's (rows × width) float64
    matrix. One map-only mapInArrow pass adds up all batches of a
    partition and yields once per partition, so the one collect carries
    numPartitions × len(moments) rows whatever the corpus size; the
    partials are reduced in numpy on the driver. Returns the flattened
    sums (callers reshape), or None for an empty corpus."""
    import numpy as np
    import pyarrow as pa

    def partials(batches):
        acc = None
        for b in batches:
            if b.num_rows:
                parts = moments(_arrow_matrix(b.column(0)))
                acc = parts if acc is None else [a + p for a, p in zip(acc, parts)]
        if acc is not None:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(range(len(acc)), pa.int32()),
                    pa.array(
                        [np.ravel(a).astype(np.float64) for a in acc],
                        pa.list_(pa.float64()),
                    ),
                ],
                names=["i", "v"],
            )

    rows = df.select(vec_col).mapInArrow(partials, "i int, v array<double>").collect()
    if not rows:
        return None
    sums = [0.0] * (1 + max(r["i"] for r in rows))
    for r in rows:
        sums[r["i"]] = sums[r["i"]] + np.asarray(r["v"])
    return sums


def _lloyd(df: DataFrame, vec_col: str, id_col: str, k: int, iters: int, m: int):
    """Deterministic Lloyd's k-means of m codebooks at once, book j over
    columns [j·w, (j+1)·w) with w = width // m (m=1: the whole vector).
    Init is the first k vectors by id, one collect, sliced per book.
    Each iteration is one _partition_sums pass that assigns every slice
    with _nearest and accumulates (slice, cluster) counts and sums; the
    driver divides, and an empty cluster keeps its previous centroid.
    Returns an m × k' × w array (k' = min(k, corpus size)), or None for
    an empty corpus."""
    import numpy as np

    init = df.orderBy(id_col).limit(k).select(vec_col).collect()
    if not init:
        return None
    X0 = np.asarray([r[0] for r in init], dtype=np.float64)
    w = X0.shape[1] // m
    books = X0[:, : m * w].reshape(len(X0), m, w).transpose(1, 0, 2)
    kk = len(X0)

    def moments(X, books):
        idx = (_codes(X, books) + kk * np.arange(m)).ravel()
        sums = np.zeros((m * kk, w))
        np.add.at(sums, idx, X[:, : m * w].reshape(-1, w))
        return [np.bincount(idx, minlength=m * kk), sums]

    for _ in range(iters):
        cnt, sums = _partition_sums(df, vec_col, partial(moments, books=books))
        cnt = cnt.reshape(m, kk, 1)
        books = np.where(
            cnt > 0, sums.reshape(m, kk, w) / np.maximum(cnt, 1), books
        )
    return books


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    iters: int = 3,
    dim: int | None = None,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means over the embedding column: _lloyd
    with one whole-vector codebook (first-k-by-id init, one corpus pass
    and one bounded collect per iteration; only per-partition k×dim
    count / sum partials reach the driver).

    This is the IVF coarse quantizer: at 100 TB, fit on a sample, then a
    single assignment pass partitions the corpus into k inverted lists.
    """
    books = _lloyd(finite_vectors(df, vec_col, dim), vec_col, id_col, k, iters, 1)
    # Empty corpus (a legal outcome of an upstream filter at any scale):
    # no centroids to fit. Callers short-circuit on [].
    return [] if books is None else books[0].tolist()


def _empty_topk(q: DataFrame) -> DataFrame:
    """Zero-row (q_id, n_id, sim, rank) frame with id types taken from
    the query side — the graceful result of every ANN path when the
    corpus (hence the fitted quantizer) is empty."""
    return q.limit(0).select(
        F.col("q_id"),
        F.col("q_id").alias("n_id"),
        F.lit(0.0).alias("sim"),
        F.lit(0).cast("long").alias("rank"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 3,
    round_to: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: k-means coarse quantizer partitions
    the corpus into inverted lists; each query probes its `nprobe`
    nearest lists only. Candidate volume drops from N to ~N·nprobe/k —
    the classic trade against recall, and the scale path when the query
    set is too large to broadcast against the whole corpus (the sign-LSH
    variant is the hash-based alternative with the same contract)."""
    q = _vectors(queries, id_col, vec_col, dim, "q_")
    c = _vectors(corpus, id_col, vec_col, dim, "n_")
    centroids = kmeans_fit(c, "n_emb", "n_id", k=num_centroids, iters=iters)
    if not centroids:
        return _empty_topk(q)
    c = c.withColumn("cluster", nearest_udf([centroids])("n_emb")[0])
    q = q.select(
        "q_id",
        "q_emb",
        "q_norm",
        F.explode(nearest_udf([centroids], nprobe)("q_emb")).alias("cluster"),
    )
    pairs = (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", _rounded_cosine("q_emb", "n_emb", "q_norm", "n_norm", round_to))
    )
    return _rank_top_k(pairs, k)


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 4,
    dim: int | None = None,
):
    """Distributed PCA fit over an embedding column — the dimensionality
    reducer in front of clustering / visualization / cheap ANN.

    Scale shape: one _partition_sums pass computes the moment partials
    (count, sum vector, d×d Gram matrix) with numpy on Arrow batches;
    only `numPartitions` partial rows per moment — each O(d²) floats,
    data-size-independent — reach the driver, where the d×d covariance
    eigendecomposition runs (d=64 → microseconds). Same bounded-collect
    discipline as kmeans_fit above: the corpus itself never leaves the
    executors, and the fit cost is one full scan.

    Sign convention for determinism: each component is flipped so its
    largest-|weight| coordinate is positive (ties → lowest index wins).
    Returns (mean[d], components[k][d] ordered by descending variance,
    explained_var[k])."""
    import numpy as np

    sums = _partition_sums(
        finite_vectors(df, vec_col, dim),
        vec_col,
        lambda m: [len(m), m.sum(axis=0), m.T @ m],
    )
    if sums is None:
        # Empty corpus: nothing to fit. ([], [], []) — pca_project on an
        # empty component list degrades to the id column alone.
        return [], [], []
    n, s, g = sums
    mu = s / n[0]
    cov = g.reshape(len(s), len(s)) / n[0] - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = []
    for idx in order:
        v = evecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append(v.tolist())
    return mu.tolist(), comps, [float(evals[i]) for i in order]


def pca_project(
    df: DataFrame,
    mean,
    components,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Project embeddings onto fitted principal components: the mean and
    the k×d component matrix ride along as broadcast array literals and
    each score is a zip_with/aggregate dot product — JVM-side array
    math, no UDF, map-only (zero shuffle at any scale)."""
    df = finite_vectors(df, vec_col, dim)
    if not components:
        # Empty fit (empty corpus): no projection columns to compute.
        return df.limit(0).select(F.col(id_col))
    mu_lit = F.array(*[F.lit(float(x)) for x in mean])
    centered = F.zip_with(F.col(vec_col).cast("array<double>"), mu_lit, lambda x, m: x - m)
    out = df.withColumn("__c", centered)
    cols = [F.col(id_col)]
    for j, comp in enumerate(components, start=1):
        w_lit = F.array(*[F.lit(float(x)) for x in comp])
        dot = F.aggregate(
            F.zip_with(F.col("__c"), w_lit, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(F.round(dot + F.lit(1e-9), round_to).alias(f"pc{j}"))
    return out.select(*cols)


def pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the vector into m subspaces
    of dim/m and fit a deterministic k-means (ksub centroids) per
    subspace — all m in one _lloyd loop, so each iteration is one corpus
    pass whatever m is. Vectors pass the whole-vector finite_vectors
    guard at ``dim``, as in every other fit. Only per-partition partials
    of m·ksub·(dim/m) = ksub·dim floats reach the driver — the codebook
    is tiny at any corpus scale; at 100 TB fit on a sample, like the IVF
    coarse quantizer."""
    books = _lloyd(
        finite_vectors(corpus, vec_col, dim), vec_col, id_col, ksub, iters, m
    )
    return [[] for _ in range(m)] if books is None else books.tolist()


def _pq_fit(c: DataFrame, dim: int, m: int, ksub: int, iters: int):
    """The PQ stages of pq_topk and ivfpq_topk, fitted on the (n_id,
    n_emb) corpus side: (books_lit, codes, lut), or None for an empty
    corpus. ``codes`` encodes n_emb as its m per-subspace nearest-
    centroid indices (nearest_udf); ``lut`` is a query's m×ksub table of
    sub-vector · centroid dots, read from the codebook literal in a
    ``__pq`` column."""
    books = pq_codebooks(c, "n_emb", "n_id", dim, m, ksub, iters)
    if not books[0]:
        return None
    # A corpus smaller than ksub fits fewer centroids than requested —
    # the LUT expression must iterate the FITTED size or element_at
    # walks off the codebook.
    ksub = len(books[0])
    dsub = dim // m
    cent = "element_at(element_at(__pq, j + 1), c + 1)"
    sub_dot = (
        f"aggregate(zip_with({cent}, slice(q_emb, j * {dsub} + 1, {dsub}), "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, d) -> acc + d)"
    )
    lut = F.expr(
        f"transform(sequence(0, {m - 1}), j -> "
        f"transform(sequence(0, {ksub - 1}), c -> {sub_dot}))"
    )
    return _array_lit(books), nearest_udf(books)("n_emb"), lut


def _adc_refine(
    pairs: DataFrame, m: int, refine: int, k: int, round_to: int
) -> DataFrame:
    """ADC scan + exact re-rank over (query with lut) × (corpus with
    codes) pairs: each pair's score is m table lookups over the norm
    product; the top-`refine` candidates per query by that score are
    re-ranked by exact cosine and cut to the top k."""
    adc = F.expr(
        f"aggregate(sequence(0, {m - 1}), CAST(0 AS DOUBLE), (acc, j) -> "
        "acc + element_at(element_at(lut, j + 1), element_at(codes, j + 1) + 1))"
    )
    scored = pairs.withColumn(
        "adc_sim",
        F.coalesce(F.try_divide(adc, F.col("q_norm") * F.col("n_norm")), F.lit(0.0)),
    )
    w_adc = W.partitionBy("q_id").orderBy(F.col("adc_sim").desc(), F.col("n_id"))
    cands = scored.withColumn("cr", F.row_number().over(w_adc)).filter(
        F.col("cr") <= refine
    )
    sim = _rounded_cosine("q_emb", "n_emb", "q_norm", "n_norm", round_to)
    return _rank_top_k(cands.select("q_id", "n_id", sim), k)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    refine: int = 32,
    round_to: int = 4,
) -> DataFrame:
    """PQ/ADC approximate top-k with exact re-rank — the third ANN path
    next to sign-LSH and IVF, composable with both (encode each IVF list
    with PQ for the classic IVF-PQ).

    1. ENCODE (map-only): each corpus vector → m small codes, the
       nearest centroid per subspace (nearest_udf against the shipped
       codebook). The corpus never shuffles; an encoded row is m bytes of
       code instead of dim floats — the memory/IO compression that makes
       100 TB ANN feasible.
    2. ADC scan: each query precomputes its m×ksub lookup table (dot of
       its subvector with every centroid) ONCE; scoring a pair is then m
       table lookups instead of a dim-length dot product — the
       asymmetric-distance trick from the PQ paper (Jégou et al., 2011,
       public). Queries+LUTs broadcast against the encoded corpus.
    3. REFINE: top-`refine` candidates per query by ADC score are
       re-ranked by EXACT cosine; top-k of that is returned with the
       same (q_id, n_id, sim, rank) contract as the other ANN paths, so
       recall is the only approximation (measured in tests vs brute
       force).
    """
    q = _vectors(queries, id_col, vec_col, dim, "q_")
    c = _vectors(corpus, id_col, vec_col, dim, "n_")
    pq = _pq_fit(c, dim, m, ksub, iters)
    if pq is None:
        return _empty_topk(q)
    books_lit, codes, lut = pq
    enc = c.withColumn("codes", codes)
    q = q.withColumn("__pq", books_lit).withColumn("lut", lut).drop("__pq")
    pairs = enc.join(F.broadcast(q), F.col("n_id") != F.col("q_id"))
    return _adc_refine(pairs, m, refine, k, round_to)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_centroids: int = 8,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    refine: int = 32,
    round_to: int = 4,
) -> DataFrame:
    """IVF-PQ: the two ANN stages composed the way a production index
    does it (coarse quantizer prunes the candidate set, PQ codes make
    scanning the survivors cheap). Corpus rows carry (cluster, codes,
    norm) — cluster from the IVF coarse quantizer, codes from the PQ
    codebooks; queries probe their nprobe nearest lists and ADC-score
    only rows in probed lists (candidate volume ~N·nprobe/k_coarse,
    per-pair cost m lookups), then the top-refine survivors are
    re-ranked by exact cosine. At 100 TB: the corpus is encoded ONCE
    (map-only, m bytes + 4 bytes per vector), the scan touches only
    probed lists, and only the fits' per-partition partials (k×dim and
    ksub·dim floats each) ever leave the executors."""
    q = _vectors(queries, id_col, vec_col, dim, "q_")
    c = _vectors(corpus, id_col, vec_col, dim, "n_")
    coarse = kmeans_fit(c, "n_emb", "n_id", k=num_centroids, iters=iters)
    if not coarse:
        return _empty_topk(q)
    pq = _pq_fit(c, dim, m, ksub, iters)
    if pq is None:
        return _empty_topk(q)
    books_lit, codes, lut = pq
    enc = c.withColumn("cluster", nearest_udf([coarse])("n_emb")[0]).withColumn(
        "codes", codes
    )
    q = q.withColumn("__pq", books_lit).select(
        "q_id",
        "q_emb",
        "q_norm",
        lut.alias("lut"),
        F.explode(nearest_udf([coarse], nprobe)("q_emb")).alias("cluster"),
    )
    pairs = enc.join(F.broadcast(q), "cluster").filter(F.col("n_id") != F.col("q_id"))
    return _adc_refine(pairs, m, refine, k, round_to)


def rrf_fuse(
    lex: DataFrame,
    vec: DataFrame,
    id_col: str = "doc_id",
    k_rrf: int = 60,
    topk: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009, public) of
    a lexical and a vector retrieval leg: rrf(d) = Σ_legs 1/(k + rank_d),
    the standard score-free hybrid-search combiner (BM25 ⊕ ANN) of a
    RAG/retrieval pipeline.

    Inputs are (id, rank) frames — each leg's top-k, already bounded —
    so the fusion is a full outer join of two ≤k-row frames followed by
    a ≤2k-row top-k: trivially broadcastable at any corpus scale; all
    the heavy lifting stays in the legs. Ranks surface COALESCE-0 (never
    NULL) so the int columns hash identically across engines, and the
    fused score is rounded with the repo EPS before the deterministic
    (score desc, id) tie-break."""
    l = lex.select(F.col(id_col), F.col("rank").alias("lex_rank"))
    v = vec.select(F.col(id_col), F.col("rank").alias("vec_rank"))
    fused = l.join(v, [id_col], "outer")

    def contrib(c: str):
        return F.coalesce(
            F.lit(1.0) / (F.lit(k_rrf) + F.col(c)), F.lit(0.0)
        )

    scored = fused.select(
        F.col(id_col),
        F.coalesce("lex_rank", F.lit(0)).cast("long").alias("lex_rank"),
        F.coalesce("vec_rank", F.lit(0)).cast("long").alias("vec_rank"),
        F.round(
            contrib("lex_rank") + contrib("vec_rank") + F.lit(EPS), round_to
        ).alias("rrf_score"),
    )
    return (
        scored.orderBy(F.col("rrf_score").desc(), F.col(id_col))
        .limit(topk)
        .withColumn(
            "rank",
            F.row_number()
            .over(W.orderBy(F.col("rrf_score").desc(), F.col(id_col)))
            .cast("long"),
        )
    )
