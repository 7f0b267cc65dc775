"""Document deduplication operators (SURVEY.md §2.10 `llm_dedup_*`).

Four tiers, each a pure DataFrame plan (no Python in the hot path):

1. exact        — hash-groupBy on content. One shuffle on the hash.
2. ngram        — exact n-gram Jaccard on co-shingled candidate pairs.
3. minhash-LSH  — MinHash signatures + banded LSH bucketing; candidate
                  generation is shuffle-bounded (join on band hash), never
                  O(n²). The 100 TB path.
4. simhash      — 64-bit SimHash per doc + banded near-pair search.

Design: all shingling/hashing uses built-in expressions (split, transform,
slice, xxhash64) so everything stays in whole-stage codegen. Each stage
the pair ops share exists once: bucket_pairs (the one candidate
generator — a self-join of rows sharing a bucket key: a shingle, a
(band, band-hash) of MinHash or SimHash, a sign-LSH band key in
similarity.py, a collapse group), collapse_identical (one rep per
identical shingle set, signature or vector), and member_pairs, or
member_edges for the clustering edge frames, which expand rep pairs
back to member pairs. dedup_clusters normalizes every edge frame it
builds through _undirected.
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..genutil import explode_col, posexplode_col
from ..iterutil import Rounds, materialize

_log = logging.getLogger(__name__)

# Tie-safe rounding epsilon (see trino_demo_spark.parity.EPS).
EPS = 1e-9

# How long an observed-fingerprint getter waits, AFTER the materializing
# action has returned, for its metrics to arrive before falling back to
# the aggregate (see _observe_fingerprint).
_OBSERVE_WAIT_S = 30.0


def tokens_col(text_col: str):
    """Whitespace tokenization, mirrored exactly by the DuckDB oracles
    (regexp_split_to_array(trim(text), '\\s+'))."""
    return F.split(F.trim(F.col(text_col)), r"\s+")


def ngrams_sql(tokens_ref: str, n: int = 3) -> str:
    """SQL-string form of ngrams_over_tokens, for callers that embed the
    gram array inside a larger expression (e.g. text.py's sorted-run
    fold) instead of projecting it as its own column."""
    count = f"(size({tokens_ref}) - {n - 1})"

    def suffix(j: int) -> str:
        s = f"slice({tokens_ref}, {j + 1}, {count})"
        if j == n - 1:
            return s
        return f"zip_with({s}, {suffix(j + 1)}, (x, y) -> concat(x, ' ', y))"

    return (
        f"CASE WHEN size({tokens_ref}) >= {n} THEN {suffix(0)} ELSE array() END"
    )


def ngrams_over_tokens(tokens_ref: str, n: int = 3):
    """n-gram array built from zip_with over n shifted slices of the
    token array.

    IMPORTANT perf note: never index an outer column inside a lambda
    (`t[i + j]`): Catalyst's projection collapse freely inlines `t` as the
    original split(), and an expression inside a lambda body re-evaluates
    PER ELEMENT — an O(tokens²) regex-split blowup that survives any
    attempt to "materialize tokens first" in a chained select (collapse
    undoes it; measured 3-6× on the minhash path). Zipping shifted slices
    keeps every lambda argument an element variable: the token expression
    is evaluated O(n) times per row, never per element."""
    return F.expr(ngrams_sql(tokens_ref, n))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group identical content, keep the smallest id.

    Groups directly on the text for oracle parity; content_hash (sha2) is
    also emitted — at 100 TB one would group on the 256-bit hash to keep
    shuffle rows narrow (hash collisions are negligible at 2^-128).
    """
    return (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
        .select(
            "keep_id",
            "n_copies",
            F.sha2(F.col(text_col), 256).alias("content_hash"),
        )
    )


def ngram_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """(id, shingle) pairs; distinct=False skips the dedup shuffle for
    consumers where duplicates are harmless (min-hash)."""
    toks = df.select(F.col(id_col).alias("id"), tokens_col(text_col).alias("t"))
    out = toks.select("id", F.explode(ngrams_over_tokens("t", n)).alias("g"))
    return out.distinct() if distinct else out


def _spread_few_splits(df: DataFrame) -> DataFrame:
    """Round-robin repartition to defaultParallelism ONLY when the input
    plan would otherwise under-parallelize (fewer partitions than
    cores) — r12, VERDICT r11 item 5: the unconditional form forced a
    full raw-corpus shuffle even at cluster scale where the scan
    already has ample splits, buying nothing. Probing via
    ``df.rdd.getNumPartitions()`` plans the query but runs no job."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def doc_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Per-doc DISTINCT shingle set, built MAP-SIDE (r11 optimization
    round): ``array_sort(array_distinct(ngrams))`` as a per-row
    expression replaces the explode + groupBy(id) + collect_set
    formulation — the sets are identical (collect_set over a doc's
    exploded grams IS the per-row distinct; the sort fixes the
    nondeterministic set order), but the corpus-wide shuffle of
    EXPLODED (id, gram) rows — the widest frame in the exact-Jaccard
    op — is gone outright (guide §2.4). Docs with no shingles (fewer
    than n tokens, or NULL text) produce no row, exactly as explode
    dropped them. The conditional repartition buys parallelism on
    few-split inputs and moves raw doc rows, not grams — the same
    documented trade as minhash_signatures' map-side path.

    PRECONDITION (ADVICE r11): ``id_col`` must be unique per row. The
    old explode+groupBy(id) formulation merged shingles ACROSS rows
    sharing an id (and across NULL ids); the map-side form yields one
    set-row per INPUT ROW. Every caller here passes a key column
    (doc_id / vec_id of a corpus table), where the two are identical;
    a caller with duplicate ids would silently diverge from the
    grouped semantics."""
    toks = _spread_few_splits(df).select(
        F.col(id_col).alias("id"), tokens_col(text_col).alias("t")
    )
    sets = toks.select(
        "id",
        F.array_sort(F.array_distinct(ngrams_over_tokens("t", n))).alias(
            "gs"
        ),
    )
    return sets.filter(F.size("gs") > 0)


def collapse_identical(df: DataFrame, key_col: str, id_col: str):
    """Identical-key collapse shared by the exact/capped Jaccard and the
    sign-LSH near-dup paths: group ids whose `key_col` value (shingle
    set, embedding vector, ...) is bit-identical. Returns (groups, mem):
    groups = (key_col, members sorted-id-array, rep = min member) and
    mem = the narrow exploded (rep, mid) frame.

    collect_SET + sort: an id reaching the operator twice must not
    become a self-pair downstream — expansion relies on member
    uniqueness for the same guarantee the pre-collapse ``a.id < b.id``
    joins gave structurally.

    The groups frame is cached, not materialized-and-unpersisted: the
    returned plans are lazy, so the cache must outlive this function.
    (An eager count here was tried and measured no faster — the
    concurrent broadcast-exchange jobs that consume downstream joins
    hit the cache either way.) The cache lives until the session drops
    it (the driver sweep clears caches between queries); it is
    vocabulary/distinct-key-sized, not corpus-sized."""
    groups = (
        df.groupBy(key_col)
        .agg(F.array_sort(F.collect_set(id_col)).alias("members"))
        .withColumn("rep", F.element_at("members", 1))
        .cache()
    )
    mem = explode_col(groups.select("rep", "members"), "members", "mid", "rep")
    return groups, mem


def bucket_pairs(
    df: DataFrame, keys: list[str], id_col: str, out: str, *carry: str
) -> DataFrame:
    """Every unordered pair of ``df`` rows that agree on all ``keys``:
    (<out>_a, <out>_b), the two rows' ``id_col`` values with <out>_a <
    <out>_b, plus <c>_a / <c>_b for each carried column ``c``. A pair
    comes back once per bucket it shares (k bands or k shingles, k
    rows): callers dedupe, count (the shared-shingle multiplicity) or
    keep the repeats. The one candidate generator of the near-dup ops
    here and in similarity.py; pair work is bounded by the bucket
    sizes, never O(n²) over the frame."""
    a, b = df.alias("a"), df.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    return a.join(b, on + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]).select(
        F.col(f"a.{id_col}").alias(f"{out}_a"),
        F.col(f"b.{id_col}").alias(f"{out}_b"),
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
    )


def within_group_pairs(mem: DataFrame, value_name: str) -> DataFrame:
    """All (id_a < id_b) pairs inside each collapse group, tagged with
    the similarity an identical pair has: Jaccard/cosine of a value
    with itself is exactly 1.0 after the +EPS round.

    The pairs come from a rep-keyed self-join of the exploded member
    frame (bucket_pairs), NOT from materializing the C(m,2) combination
    array inside one row: a boilerplate cluster of ~200k identical docs
    would otherwise build ~2e10 structs in a single task's single row
    before exploding (executor OOM), while the join streams the same
    quadratic OUTPUT through spillable operators."""
    return bucket_pairs(mem, ["rep"], "mid", "id").withColumn(
        value_name, F.lit(1.0)
    )


def expand_cross_pairs(
    cpairs: DataFrame, mem: DataFrame, value_name: str
) -> DataFrame:
    """Expand threshold-surviving (rep_a, rep_b, <value>) cluster pairs
    to member pairs via two joins against the NARROW exploded member
    frame — never by exploding one member array while the other rides
    along as a column (a mega-cluster pair would copy |A|·|B| ids per
    row batch). Member ids of distinct clusters interleave, so the pair
    order is normalized; the id_a != id_b guard keeps the pair contract
    when one id appears in two different collapse groups (possible for
    keyed-by-vector collapse if an id ships two distinct embeddings)."""
    xa = mem.select(F.col("rep").alias("rep_a"), F.col("mid").alias("id_x"))
    xb = mem.select(F.col("rep").alias("rep_b"), F.col("mid").alias("id_y"))
    return (
        cpairs.join(xa, "rep_a")
        .join(xb, "rep_b")
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
            value_name,
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )


def member_pairs(
    mem: DataFrame, rep_pairs: DataFrame, value_name: str, threshold: float
) -> DataFrame:
    """Finish a collapsed pair op: the (id_a, id_b, <value>) member pairs
    of threshold-surviving (rep_a, rep_b, <value>) rep pairs plus the
    within-group pairs. An identical pair's value is exactly 1.0, so the
    within-group pairs belong to the result only when 1.0 ≥ threshold —
    the same ``value >= threshold`` contract the rep pairs were filtered
    by."""
    cross = expand_cross_pairs(rep_pairs, mem, value_name)
    if 1.0 >= threshold:
        return within_group_pairs(mem, value_name).unionByName(cross)
    return cross


def member_edges(
    mem: DataFrame, rep_pairs: DataFrame, threshold: float
) -> DataFrame:
    """Connectivity-equivalent (id_a, id_b) edge frame of a collapsed
    pair op, for dedup_clusters: a rep–member star per collapse group
    plus the rep pairs themselves. The stars stand for within-group
    pairs of value exactly 1.0, so they are emitted only when
    1.0 ≥ threshold (see member_pairs)."""
    edges = rep_pairs.select(F.col("rep_a").alias("id_a"), F.col("rep_b").alias("id_b"))
    if 1.0 >= threshold:
        stars = mem.filter(F.col("mid") != F.col("rep")).select(
            F.col("rep").alias("id_a"), F.col("mid").alias("id_b")
        )
        return stars.unionByName(edges)
    return edges


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    |A∩B| from a self-join on the shingle, |A∪B| = |A|+|B|−|A∩B|.
    Integer counts → the Jaccard division is bit-identical across engines.
    Scale: the shingle self-join is the classic inverted-index pattern;
    hot shingles should be frequency-capped upstream (drop shingles with
    document frequency > df_max) — see minhash_lsh_pairs for the
    sub-quadratic path.

    Identical-shingle-SET collapse (the exact-op twin of the minhash
    signature collapse and the sign-LSH vector collapse, same measured
    reason): duplicate-heavy corpora put every member of an exact-dup
    cluster into every shingle posting list, making the inverted-index
    join quadratic in cluster size — at sf10-equivalent (100-copy
    clusters) the join materialized ~2.5e9 intermediate rows. Jaccard
    depends only on the shingle SET, so the join runs over distinct
    sets: identical-set pairs are emitted directly (Jaccard exactly
    1.0), cross-set rep pairs expand to member pairs after the
    threshold filter. Row-identical output; compute linear in corpus
    size, only the pair OUTPUT stays quadratic in cluster size
    (inherent to the pair contract — dedup_clusters is the
    linear-output representation)."""
    mem, cpairs = _set_jaccard_rep_pairs(df, id_col, text_col, n, threshold, None)
    return member_pairs(mem, cpairs, "jaccard", threshold)


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, num_perm: int = 32,
) -> DataFrame:
    """MinHash signature per doc: min over shingles of xxhash64(shingle,
    seed) for num_perm seeds. All hashing JVM-side.

    MAP-SIDE: ids are unique per row, so there is no explode + groupBy —
    each signature column is a per-row array aggregate. Two engine tricks
    matter here (both measured, each worth ~2-6×):

    1. Hash each shingle ONCE with two independent 64-bit hashes and
       derive the num_perm permutations as h1 + s·h2
       (Kirsch-Mitzenmacher), instead of num_perm string hashes.
    2. Materialize the hash arrays through an exchange before fanning out
       to the num_perm min-columns: Catalyst's projection collapse would
       otherwise substitute the whole shingling pipeline into EVERY
       signature expression and recompute it num_perm times. After the
       exchange the signature exprs reference a materialized attribute.

    The first (conditional — r12, only on few-split inputs) repartition
    buys parallelism; both exchanges move raw doc rows / 2×num-shingle
    longs — far less than the shingle explosion a groupBy plan would
    shuffle. Docs shorter than n tokens get NULL signatures (empty
    shingle array)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = _spread_few_splits(df).select(
        F.col(id_col).alias("id"), tokens_col(text_col).alias("t")
    )
    grams = toks.select("id", ngrams_over_tokens("t", n).alias("gs"))
    hashed = grams.select(
        "id",
        F.expr("transform(gs, g -> xxhash64(g))").alias("h1"),
        F.expr("transform(gs, g -> xxhash64(g, 7))").alias("h2"),
    ).repartition(par)  # barrier: stop projection collapse from inlining
    # Combine in a 31-bit domain: ANSI mode (Spark 4 default) raises on
    # int64 overflow, and masked values keep (num_perm+1)·2^31 « 2^63.
    sig_cols = [
        F.expr(
            f"array_min(zip_with(h1, h2, (a, b) -> "
            f"(a & 2147483647) + CAST({s} AS BIGINT) * (b & 2147483647)))"
        ).alias(f"mh_{s}")
        for s in range(num_perm)
    ]
    return hashed.select("id", *sig_cols)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH + signature-estimated
    Jaccard. rows_per_band = num_perm // bands; a pair is a candidate iff
    all rows of some band agree (standard S-curve selectivity).

    Scale: candidates come from groupBy on (band, band_hash) — shuffle
    volume is O(n·bands), pair generation only within buckets. This is the
    100 TB near-dedup shape (MinHashLSH as in Lee et al., "Deduplicating
    Training Data Makes Language Models Better").

    Identical-signature collapse: real corpora carry exact-duplicate
    clusters (boilerplate repeated 100s-1000000s of times), and every
    member of such a cluster has the SAME signature. Banding raw docs
    makes candidate generation quadratic in cluster size times `bands`
    (measured: 10× data with 100-copy clusters cost 36× — the one
    super-linear query in the sf10-equivalent scaling study, PERF.md).
    So LSH runs over DISTINCT signatures only; member pairs are expanded
    afterwards from the per-signature member lists. Both est_jaccard and
    band candidacy depend only on the signatures, so the output is
    row-for-row identical — compute is linear in corpus size, and only
    the pair OUTPUT stays quadratic in cluster size (inherent to the
    pair contract; `dedup_clusters` is the representation that avoids
    even that for mega-clusters, which would also bloat the per-signature
    member arrays here).
    """
    r = num_perm // bands
    # Docs shorter than n tokens carry all-NULL signatures (empty
    # shingle set) — they can't be near-duplicates of anything, and
    # xxhash64 skips NULL inputs so they'd all collide into ONE band
    # bucket (quadratic useless pairs with est_jaccard counted over
    # NULL<=>NULL matches). Drop them before banding.
    sig = minhash_signatures(df, id_col, text_col, n, num_perm).filter(
        F.col("mh_0").isNotNull()
    )
    sig_arr = F.array(*[F.col(f"mh_{i}") for i in range(num_perm)])
    # Identical signatures estimate to exactly 1.0 (and always share
    # every band), so within-cluster pairs bypass LSH entirely
    # (member_pairs).
    groups, mem = collapse_identical(sig.select("id", sig_arr.alias("sig")), "sig", "id")
    # All bands in ONE pass over the distinct signatures (posexplode of
    # the band-hash array), instead of `bands` unioned scans.
    band_hashes = F.array(
        *[
            F.xxhash64(*[F.element_at("sig", b * r + i + 1) for i in range(r)])
            for b in range(bands)
        ]
    )
    buckets = posexplode_col(groups, band_hashes, "band", "bh", "rep")
    cand = bucket_pairs(buckets, ["band", "bh"], "rep", "rep").distinct()
    # One ARRAY column per side through the estimate joins, not
    # num_perm scalar columns: the shuffled row narrows to (rep, array)
    # and the match count is a single zip_with/aggregate expression —
    # measured ~15% off the query at sf0.1 vs the 32-column form.
    sa = groups.select(F.col("rep").alias("rep_a"), F.col("sig").alias("__sig_a"))
    sb = groups.select(F.col("rep").alias("rep_b"), F.col("sig").alias("__sig_b"))
    matches = F.expr(
        "aggregate(zip_with(__sig_a, __sig_b, (x, y) -> IF(x <=> y, 1, 0)), "
        "0, (acc, v) -> acc + v)"
    )
    est = (matches / F.lit(float(num_perm))).alias("est_jaccard")
    cpairs = (
        cand.join(sa, "rep_a")
        .join(sb, "rep_b")
        .select(
            "rep_a", "rep_b", F.round(est + F.lit(EPS), 4).alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    return member_pairs(mem, cpairs, "est_jaccard", threshold)


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    candidate_threshold: float = 0.35,
) -> DataFrame:
    """The PRODUCTION near-dup pipeline (VERDICT r6 §next-round-6b):
    banded MinHash-LSH candidate generation + EXACT n-gram Jaccard
    verification computed on the candidates ONLY.

    Raw LSH candidates trade precision for recall by design — measured
    operating point at est≥0.5, b=8/r=4, J-truth≥0.5: recall 0.96 /
    precision 0.19 at sf0.01 and recall 0.98 / precision 0.02 at sf0.1
    (PERF.md r7; precision falls with corpus size because the number of
    moderately-similar pairs whose NOISY 32-perm estimate crosses the
    bar grows quadratically while true near-dups grow linearly). The
    fix is this second stage: join each candidate pair to the two
    docs' distinct shingle-set arrays and compute |A∩B|/|A∪B| exactly
    (array_intersect — integer counts, bit-identical across engines),
    keeping pairs with true Jaccard ≥ `threshold`. Precision becomes
    1.0 BY CONSTRUCTION; recall stays the candidate-stage recall
    (lifted by generating candidates at the lower
    `candidate_threshold`, default 0.35, so estimate noise around the
    final bar doesn't drop true pairs).

    Scale: stage 1 is the shuffle-bounded LSH path (O(n·bands), never
    all-pairs); stage 2 costs O(|candidates| · shingles-per-doc) — the
    verification join ships each doc's shingle array only to its
    candidate pairs. This is the standard two-stage shape (candidate
    generation + verification) for corpus-scale near-dedup.
    """
    cand = minhash_lsh_pairs(
        df, id_col, text_col, n, num_perm, bands, candidate_threshold
    ).select("id_a", "id_b")
    # r11 optimization round: the pre-aggregation .distinct() was
    # redundant — collect_set dedups per doc anyway — so the
    # verification sets now cost ONE exploded-gram shuffle, not two
    # (identical sets; order is irrelevant to array_intersect/size).
    # The fully map-side form (doc_shingle_sets + a repartition(id)
    # barrier, as in the posting-list path) was tried and REJECTED
    # here: sets feeds BOTH sides of the candidate join, and the
    # barrier shuffle + double probe measured 1.9-2.0s vs 1.6-1.75s
    # for this form at sf0.1 — the groupBy's exchange doubles as the
    # branch-dedup point for free (ReusedExchange).
    sets = (
        ngram_shingles(df, id_col, text_col, n, distinct=False)
        .groupBy("id")
        .agg(F.collect_set("g").alias("gs"))
    )
    sa = sets.select(F.col("id").alias("id_a"), F.col("gs").alias("__gs_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("gs").alias("__gs_b"))
    inter = F.size(F.array_intersect("__gs_a", "__gs_b"))
    union = F.size("__gs_a") + F.size("__gs_b") - inter
    jac = inter / union
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jac + F.lit(EPS), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document from token hashes: bit j of the
    fingerprint is the sign of the vote sum over tokens (+1 if the token's
    hash has bit j set, else −1).

    MAP-SIDE like minhash_signatures: token hashes are materialized once
    as an array column (behind an exchange barrier so projection collapse
    can't inline the hashing into all 64 bit-vote expressions), each bit's
    vote is a per-row array aggregate, and the fingerprint is assembled
    with shifts. The input is spread with _spread_few_splits, like
    minhash_signatures'."""
    par = df.sparkSession.sparkContext.defaultParallelism
    hashed = (
        _spread_few_splits(df)
        .select(
            F.col(id_col).alias("id"),
            F.expr(
                "transform({t}, tk -> xxhash64(tk))".format(
                    t="split(trim(" + text_col + "), '\\\\s+')"
                )
            ).alias("hs"),
        )
        .repartition(par)
    )
    vote = (
        "aggregate(hs, 0L, (acc, h) -> acc + CASE WHEN (h >> {j}) & 1 = 1 "
        "THEN 1L ELSE -1L END)"
    )
    fp = None
    for j in range(64):
        bit = F.when(F.expr(vote.format(j=j)) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, j)
        fp = term if fp is None else fp.bitwiseXOR(term)
    return hashed.select("id", fp.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 8
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, candidate-generated by
    16-bit band equality (pigeonhole: distance ≤ 3 guarantees a matching
    band of 4; wider distances are probabilistic). NULL-text documents
    are dropped before banding, as minhash_lsh_pairs drops empty
    signatures: simhash gives them all fingerprint 0, so they would
    pair with each other at Hamming distance 0."""
    s = simhash(df.filter(F.col(text_col).isNotNull()), id_col, text_col)
    # All 4 bands in ONE pass over the fingerprints (posexplode of the
    # band array, as in minhash_lsh_pairs): unioned per-band scans would
    # each recompute the SimHash from the documents.
    band_keys = F.array(
        *[F.shiftright("simhash", b * 16).bitwiseAND(F.lit(0xFFFF)) for b in range(4)]
    )
    bands = posexplode_col(s, band_keys, "band", "bh", "id", "simhash")
    cand = bucket_pairs(bands, ["band", "bh"], "id", "id", "simhash").distinct()
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def ngram_jaccard_pairs_capped(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    df_max: int = 1000,
) -> DataFrame:
    """ngram_jaccard_pairs with hot-shingle capping: shingles whose
    document frequency exceeds df_max are dropped before the self-join.
    At 100 TB a boilerplate shingle ("all rights reserved") appears in
    millions of docs and would alone produce O(df²) join rows; capping
    bounds the worst shingle's contribution at df_max². Jaccard becomes
    a slight underestimate for pairs sharing only hot shingles —
    exactly the pairs that aren't near-duplicates.

    Two dedup-robustness properties on top of the raw-df formulation:
    (1) df is counted over DISTINCT shingle-sets, so a million exact
    copies of one page don't make its shingles "hot" — hotness means
    many DIFFERENT documents share the shingle, which is what
    boilerplate is; (2) identical-set pairs are emitted directly
    (Jaccard exactly 1.0) and never pass through the posting lists, so
    the cap can no longer silently drop whole exact-duplicate clusters
    (with raw-doc df, a 100-copy cluster under df_max=5 lost ALL its
    shingles and produced zero pairs — a recall cliff on precisely the
    highest-confidence duplicates). Same identical-set collapse as
    ngram_jaccard_pairs, so compute is also linear in corpus size."""
    mem, cpairs = _set_jaccard_rep_pairs(df, id_col, text_col, n, threshold, df_max)
    return member_pairs(mem, cpairs, "jaccard", threshold)


def _jaccard_posting_lists(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    df_max: int | None,
):
    """Distinct-set posting lists feeding the Jaccard self-join:
    (groups, mem, rsh) where rsh is the (rep, g) exploded shingle list
    after the optional hot-shingle df cap. Shared by the pair ops and
    the candidate-count diagnostic so the cap they measure is the cap
    that runs."""
    # r11 optimization round: per-doc sets assembled map-side — no
    # exploded-gram shuffle at all (see doc_shingle_sets).
    doc_sets = doc_shingle_sets(df, id_col, text_col, n)
    groups, mem = collapse_identical(doc_sets, "gs", "id")
    rsh = explode_col(groups.select("rep", "gs"), "gs", "g", "rep")
    if df_max is not None:
        freq = rsh.groupBy("g").agg(F.count("*").alias("df"))
        rsh = rsh.join(freq.filter(F.col("df") <= df_max).select("g"), "g")
    return groups, mem, rsh


def jaccard_candidate_pair_count(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    df_max: int | None = None,
) -> int:
    """Scale diagnostic: how many DISTINCT representative pairs enter
    the Jaccard verification join — the quantity the df cap exists to
    bound. A shingle shared by f representatives contributes C(f, 2)
    raw join rows; without a cap one boilerplate shingle in f=10⁶ docs
    is ~5·10¹¹ rows. Pre-flight this count before running exact
    Jaccard on an unfamiliar corpus; if it explodes, use
    ngram_jaccard_pairs_capped (or MinHash-LSH) instead."""
    _, _, rsh = _jaccard_posting_lists(df, id_col, text_col, n, df_max)
    return bucket_pairs(rsh, ["g"], "rep", "rep").distinct().count()


def _set_jaccard_rep_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    df_max: int | None,
):
    """Identical-set collapse + rep-level threshold Jaccard pairs —
    the shared core of the exact and df-capped pair ops (which differ
    only in the optional hot-shingle filter on the posting lists) and
    the connectivity-equivalent edge frame (ngram_jaccard_edges).
    Returns (mem, cpairs)."""
    groups, mem, rsh = _jaccard_posting_lists(df, id_col, text_col, n, df_max)
    # a rep pair comes back once per shared shingle: the count is |A∩B|
    inter = (
        bucket_pairs(rsh, ["g"], "rep", "rep")
        .groupBy("rep_a", "rep_b")
        .agg(F.count("*").alias("common"))
    )
    sizes = groups.select("rep", F.size("gs").alias("n_sh"))
    sa = sizes.select(F.col("rep").alias("rep_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("rep").alias("rep_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    cpairs = (
        inter.join(sa, "rep_a")
        .join(sb, "rep_b")
        .select(
            "rep_a", "rep_b", F.round(jac + F.lit(EPS), 4).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return mem, cpairs


def ngram_jaccard_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    df_max: int | None = None,
) -> DataFrame:
    """Connectivity-equivalent (id_a, id_b) edge frame for CLUSTERING —
    the TEXT twin of similarity.cosine_near_dup_edges_lsh (r10) and the
    input to dedup_clusters when only components matter, not the pair
    contract.

    ngram_jaccard_pairs must emit every member pair: C(m,2) rows per
    identical-text group and |A|·|B| per surviving rep pair —
    inherently quadratic in duplicate multiplicity (a 1000-replica
    corpus makes that ~2.5e9 rows for 5k distinct texts). Connected
    components only need CONNECTIVITY: a rep–member star (m−1 edges per
    group) plus the rep-level threshold pairs spans exactly the same
    components — within a group every member reaches its rep directly,
    and any cross-group member pair routes through the two reps. Edge
    volume stays linear in corpus size + distinct² in pair generation —
    the 100 TB shape for exact-Jaccard text clustering (pinned
    equivalent to the pair path in
    tests/test_llm.py::test_ngram_edges_cluster_equivalent_to_pairs)."""
    mem, cpairs = _set_jaccard_rep_pairs(
        df, id_col, text_col, n, threshold, df_max
    )
    return member_edges(mem, cpairs, threshold)


def _edge_fingerprint(df: DataFrame) -> tuple:
    """Order-insensitive (count, xor-of-xxhash64) fingerprint of a
    (u, v) edge frame — one map-side-combined aggregate, 1 row to the
    driver. The fallback of the observed (in-action) fingerprint below
    when its metrics never arrive, pinned equal to it by
    tests/test_llm.py::test_observed_fingerprint_matches_agg."""
    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _observe_fingerprint(df: DataFrame):
    """Attach the edge fingerprint as OBSERVED METRICS (r12 optimization
    round): `Dataset.observe` computes the same (count, xor-of-hash)
    aggregate as `_edge_fingerprint` via accumulators DURING whatever
    action next executes `df` — here the eager checkpoint inside
    iterutil.materialize — so the CC loop's convergence check costs no
    separate job and, at scale, no second full read of the just-
    checkpointed edge frame per round. Returns (df_with_metrics, getter);
    call ``getter(materialized)`` AFTER the materializing action, with
    the frame it produced. The getter waits at most _OBSERVE_WAIT_S for
    the metrics (Observation.get alone blocks forever if they never
    fire — e.g. an action that skips the CollectMetrics node); on
    timeout it logs a warning and returns _edge_fingerprint(materialized)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import Observation

    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    )

    def get(materialized: DataFrame) -> tuple:
        jvm = obs._jvm
        deadline = jvm.scala.concurrent.duration.Duration.create(
            int(_OBSERVE_WAIT_S * 1000), "ms"
        )
        try:
            jvm.scala.concurrent.Await.ready(obs._jo.future(), deadline)
        except Py4JJavaError as exc:
            cls = exc.java_exception.getClass().getName()
            if cls != "java.util.concurrent.TimeoutException":
                raise
            _log.warning(
                "observed edge fingerprint did not arrive within %.1f s; "
                "recomputing it with a separate aggregate job",
                _OBSERVE_WAIT_S,
            )
            return _edge_fingerprint(materialized)
        got = obs.get
        return (got["n"], got["h"])

    return out, get


def _undirected(ab: DataFrame) -> DataFrame:
    """The edge set of dedup_clusters from an (a, b) frame: self-loops
    dropped, each undirected edge once as (u, v) with u < v."""
    return (
        ab.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
    )


def dedup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
    stats: "dict | None" = None,
) -> DataFrame:
    """Connected components over the near-dup pair graph → canonical doc
    per cluster (cluster id = min doc id in the component). Completes the
    dedup flow: pairs from any of the near-dup ops (ngram / MinHash /
    SimHash / embedding-cosine) become keep/drop decisions. `pairs`
    must reference ids drawn from `ids` (every pair generator here
    derives from the same corpus frame, so that holds by construction).

    Alternating large-star / small-star (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond" — the published
    MapReduce-scale CC algorithm): each round rewrites the EDGE set
    with two groupBy+join passes; at convergence every component is a
    star rooted at its minimum id. Guaranteed O(log² n) rounds
    (observed O(log n): a 200-node path — diameter 199 — closes in 9
    rounds; the sf0.1 semantic graph in 6). Min-label propagation was
    tried first and retired: plain propagation is O(diameter) rounds,
    and even with pointer-jump path compression a new minimum entering
    a flattened tree at a border node still crawls edge-by-edge to the
    old root before compression can broadcast it — the same sf0.1
    graph needed 11 rounds (measured; identical changed-count
    trajectory with and without jumps). The loop runs on the driver
    but touches only DataFrames plus a scalar edge-delta per round.

    Every per-round frame goes through iterutil.materialize, not a
    bare localCheckpoint: LogicalRDD checkpoints preserve the origin
    plan's ESTIMATED stats, and Catalyst's size-only join estimate is
    the BigInt product of its children, so iterated self-joins double
    the sizeInBytes digit count every round — the driver ends up inside
    BigInteger.multiply for minutes per round (see iterutil docstring
    for the measurements). Materializing also evaluates the upstream
    pair generator (all-pairs cosine / LSH banding / shingle join)
    exactly ONCE instead of once per round."""
    e = _undirected(pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")))
    e, fp_get = _observe_fingerprint(e)
    with Rounds() as rounds:
        e = rounds.hold(materialize(e))
        fp_prev = fp_get(e)
        converged = False
        for _ in range(max_iters):
            # large-star: for every node u (symmetric view), connect each
            # STRICTLY LARGER neighbor v to m(u) = min(Γ(u) ∪ {u}).
            sym = e.unionByName(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            mins = sym.groupBy("u").agg(
                F.least(F.min("v"), F.first("u")).alias("m")
            )
            # ls KEEPS its .distinct() (r12, measured both ways): every
            # consumer is duplicate-insensitive (mins2 is a min-aggregate,
            # ss ends in its own distinct) and |ls| ≤ 2|e| before dedup, so
            # dropping it is SAFE — but an sf10 interleaved A/B read the
            # no-dedup variant consistently 15-25% SLOWER on the dup-heavy
            # clusters graph: large-star output there is dominated by
            # duplicate (v, m) rows (many neighbors share one min), and
            # carrying them through the small-star groupBy + join + final
            # distinct costs more than this one exchange that removes them
            # early. Local sf0.1 was a wash either way; the dedup stays for
            # the scale case.
            ls = _undirected(
                sym.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("a"), F.col("m").alias("b"))
            )
            # ls feeds TWO subtrees inside this round (the mins2 aggregate
            # and the ss join) — persist() makes the large-star pass
            # compute once and serve both from cache, WITHOUT the
            # checkpoint job pair a full materialize costs (~25% of the
            # loop's fixed local-mode overhead). Lineage/stats blowup is
            # still reset every round by ss's materialize below.
            ls = rounds.hold(ls.persist())
            # small-star: direct every edge toward its larger endpoint;
            # connect each smaller neighbor (and the node itself) to the
            # minimum of that in-neighborhood.
            dirn = ls.select(F.col("v").alias("u"), F.col("u").alias("v"))
            mins2 = dirn.groupBy("u").agg(
                F.least(F.min("v"), F.first("u")).alias("m")
            )
            ss = _undirected(
                dirn.join(mins2, "u")
                .select(F.col("v").alias("a"), F.col("m").alias("b"))
                .unionByName(
                    mins2.select(F.col("u").alias("a"), F.col("m").alias("b"))
                )
            )
            ss, ss_fp_get = _observe_fingerprint(ss)
            e = rounds.advance(materialize(ss))
            # Convergence = edge set unchanged. Both passes are monotone
            # (each strictly decreases the sum-of-endpoints potential until
            # the star fixpoint), so no A→B→A cycling is possible and an
            # order-insensitive fingerprint — (count, xor of per-edge
            # hashes) — suffices: a false stop would need two DIFFERENT
            # consecutive edge sets with equal count AND colliding 64-bit
            # xor (~2⁻⁶⁴). r12: the fingerprint rides the checkpoint action
            # as observed metrics (accumulator-merged during the
            # materializing pass — see _observe_fingerprint), so each round
            # runs exactly ONE job and the previous round's value is
            # carried over instead of recomputed; before, the separate
            # fingerprint aggregate re-read the full checkpointed edge
            # frame every round.
            fp_new = ss_fp_get(e)
            converged = fp_new == fp_prev
            if converged:
                break
            fp_prev = fp_new
        # observability only (r11, sf100 span evidence): expose the round
        # count so scale studies can report the O(log² n) claim with the
        # measured number — no dataflow depends on it
        if stats is not None:
            stats["rounds"] = rounds.count
        if not converged:
            raise RuntimeError(
                f"dedup_clusters did not converge within max_iters={max_iters} "
                "rounds of large-star/small-star: returning would silently "
                "split clusters. The bound is O(log² n) rounds (observed "
                "O(log n)), so hitting this signals either max_iters set far "
                "too low or a pathological pair graph."
            )
        # Converged edge set is a union of stars (center u = component min,
        # u < v for every member v). Nodes absent from any pair label
        # themselves.
        lab = e.select(F.col("v").alias("id"), F.col("u").alias("label"))
        return rounds.result(
            ids.select(F.col(id_col).alias("id"))
            .join(lab, "id", "left")
            .select(
                F.col("id").alias(id_col),
                F.coalesce("label", "id").alias("cluster_id"),
                (F.col("id") == F.coalesce("label", "id")).alias("is_canonical"),
            )
        )


# --- incremental dedup against an existing corpus ---------------------------


def bloom_bitmap(
    keys: DataFrame, key_col: str, m_bits: int, k: int
):
    """Build a Bloom-filter bitmap over a key column, distributed.

    Each key sets k bit positions pmod(xxhash64(key, seed), m_bits); the
    positions aggregate into 64-bit words via groupBy(word) + bit_or —
    map-side combined, so the shuffle carries at most m_bits/64 rows per
    partition regardless of corpus size. Only the finished words
    (m_bits/64 longs, e.g. 2 MiB for m=2^24) reach the driver — the
    corpus itself never does. Returns a numpy uint64 array of
    m_bits//64 words.

    Driver/broadcast bound: m_bits is the scale knob. 1e9 corpus keys at
    1% fpp want ~1.2e10 bits (~1.5 GiB) — still broadcastable; beyond
    that, skip the bloom and take the plain shuffle anti-join
    (incremental_dedup(prune=False))."""
    import numpy as np

    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key_col), F.lit(s)), F.lit(m_bits))
                    for s in range(k)
                ]
            )
        ).alias("p")
    )
    words = (
        pos.groupBy((F.col("p") / 64).cast("long").alias("w"))
        .agg(
            # F.shiftleft only takes a literal shift; the SQL form
            # accepts a column.
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))")
            ).alias("bits")
        )
        .collect()
    )
    bitmap = np.zeros(m_bits // 64, dtype=np.uint64)
    for r in words:
        bitmap[r["w"]] = np.uint64(r["bits"] & 0xFFFFFFFFFFFFFFFF)
    return bitmap


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 5,
    prune: bool = True,
) -> DataFrame:
    """Dedup a new batch AGAINST an already-ingested corpus (the
    steady-state shape of a training-data pipeline: yesterday's corpus is
    fixed, today's crawl must drop exact re-crawls), Bloom-pruned.

    Spark 4.1's runtime bloom-filter injection skips LEFT ANTI joins
    (probed: InjectRuntimeFilter never fires for them), so the engine
    builds the filter itself:

    1. Bloom bitmap over corpus text (bloom_bitmap — distributed build,
       only m_bits/64 words reach the driver).
    2. Batch rows compute their k positions JVM-side (xxhash64 in
       codegen) and test the broadcast bitmap in an Arrow-batched pandas
       UDF — pure numpy bit lookups, no hashing in Python.
    3. might_contain=false rows are DEFINITELY new: emitted directly,
       never shuffled. Only the might-contain subset (true dups + fpp of
       the batch) takes the exact left-anti shuffle join that makes the
       result exact.

    At 100 TB the shuffle shrinks from |batch| to |dups| + fpp*|batch|
    on each side — the bloom is a pure prune; correctness never depends
    on it (prune=False drops straight to the plain anti-join, and the
    result is identical either way). Duplicates WITHIN the batch are
    kept — dedup within a batch is exact_dedup's job."""
    key = F.col(text_col)
    corpus_keys = corpus.select(key.alias("__k")).distinct()
    out_cols = [id_col, text_col]

    if not prune:
        pruned_new, candidates = None, batch
    else:
        from pyspark.sql.functions import pandas_udf

        bitmap = bloom_bitmap(corpus_keys, "__k", m_bits, k)

        # pandas_udf rejects variadic signatures — one single-position
        # probe applied k times, AND-ed JVM-side (still one Arrow pass
        # per batch partition per probe; the lookups are pure numpy).
        @pandas_udf("boolean")
        def bit_set(p: pd.Series) -> pd.Series:
            import numpy as np

            v = p.values.astype(np.uint64)
            hit = (bitmap[v >> np.uint64(6)] >> (v & np.uint64(63))) & np.uint64(1)
            return pd.Series(hit.astype(bool))

        mc = None
        for s in range(k):
            probe = bit_set(F.pmod(F.xxhash64(key, F.lit(s)), F.lit(m_bits)))
            mc = probe if mc is None else (mc & probe)
        tagged = batch.withColumn("__mc", mc)
        pruned_new = tagged.filter(~F.col("__mc")).select(*out_cols)
        candidates = tagged.filter(F.col("__mc")).select(*out_cols)

    survivors = candidates.join(
        corpus_keys, candidates[text_col] == corpus_keys["__k"], "left_anti"
    ).select(*out_cols)
    result = (
        survivors if pruned_new is None else pruned_new.unionByName(survivors)
    )
    return result.select(
        F.col(id_col),
        F.sha2(F.col(text_col), 256).alias("content_hash"),
    )


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 10,
) -> DataFrame:
    """C4-style span-level dedup: slice every document into consecutive
    non-overlapping ``span_words``-word spans, keep only the globally
    FIRST occurrence of each distinct span (ordered by (doc, position)),
    and re-assemble each document from its surviving spans.

    This is the intra-corpus "remove any three-sentence span occurring
    more than once" rule of C4 (Raffel et al. 2020, §2.2) re-expressed
    over whitespace tokens (the synthetic corpus has no sentence
    delimiters). Reference analog: the reference corpus has no span
    dedup; this extends the `llm_dedup_*` family for training-data
    pipelines.

    Plan shape (all built-in expressions, whole-stage codegen):
      1. One fold (``aggregate``) turns the token array into the span
         array — O(tokens) per row, no outer-column references inside
         lambdas (see ngrams_over_tokens' perf note), then posexplode.
      2. ``groupBy(span).agg(min(rank))`` finds first occurrences —
         map-side partial aggregation makes hub spans (one span shared
         by 10% of docs) shuffle |distinct spans|, not |occurrences|.
      3. NO join back: rank = doc_id·1e6 + span_idx is injective, so the
         surviving (doc, position) pair is DECODED from the min-rank and
         the span text is the group key itself. (The original join-back
         formulation re-shuffled every occurrence on the raw span string
         and recomputed the slicing for the probe side — part of the
         6× end-to-end win at the sf10-equivalent scale (107.9s → 17.8s
         together with the linear slicing and the posexplode_outer
         shape below) and skew-exposed on hub spans; the decode shape's only |occurrences|-sized exchange
         is the partial-agg map side.)
      4. ``groupBy(doc)`` re-assembles surviving spans in position
         order (sort_array over (idx, span) structs — deterministic);
         per-doc span totals come from the pre-explode array size (a
         projection, not a third aggregation over exploded rows).

    At 100 TB: group on xxhash64(span) instead of the raw string to
    shrink shuffle width (kept as raw text here for oracle parity, same
    trade as exact_dedup). The rank ``doc_id * 1e6 + span_idx`` assumes
    0 ≤ doc_id < ~9e12 and < 1e6 spans/doc; use a struct min at larger
    ids.
    """
    k = span_words
    toks = tokens_col(text_col)
    # Linear span slicing: transform over span indexes + slice, O(k) per
    # span = O(tokens) per doc — replaces the original aggregate() fold,
    # whose per-element array concat is quadratic in doc length. The
    # trailing partial span falls out of ceil + slice's clamp-to-end.
    spans_arr = F.expr(
        "CASE WHEN size(__t) = 0 THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(0, CAST(ceil(size(__t) / {k}.0) AS INT) - 1), "
        f"i -> array_join(slice(__t, i * {k} + 1, {k}), ' ')) END"
    )
    # NULL-text docs must be omitted entirely (the pre-decode formulation
    # dropped them via its non-outer explode, and the DuckDB oracle's
    # UNNEST does too). Filter on the RAW column — a predicate on
    # __spans would be pushed to the scan with the whole span
    # construction inlined (measured 2.5s → 6.4s at sf1).
    with_spans = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks.alias("__t"))
        .select(F.col(id_col), spans_arr.alias("__spans"))
    )
    # posexplode_OUTER, not posexplode: a non-outer Generate infers a
    # `size(arr) > 0 AND isnotnull(arr)` pre-filter that predicate
    # pushdown drags below the projections, re-evaluating the whole
    # span-construction expression (split inlined and all) two more
    # times per row — no repartition barrier stops filter pushdown.
    # Outer generate infers nothing; empty docs surface one NULL-index
    # row dropped by a cheap attribute filter. Measured 8.2s → 1.0s on
    # the explode stage at sf1-equivalent.
    spans = (
        with_spans.select(
            F.col(id_col),
            F.posexplode_outer("__spans").alias("span_idx", "span"),
        )
        .filter(F.col("span_idx").isNotNull())
        .withColumn(
            "rank",
            F.col(id_col).cast("long") * F.lit(1_000_000)
            + F.col("span_idx").cast("long"),
        )
    )
    kept = (
        spans.groupBy("span")
        .agg(F.min("rank").alias("first_rank"))
        .select(
            # integer DIV, not `/`: float division loses the decode above
            # 2^53 for large doc_ids
            F.expr("first_rank DIV 1000000").alias(id_col),
            (F.col("first_rank") % F.lit(1_000_000))
            .cast("int")
            .alias("span_idx"),
            "span",
        )
    )
    totals = with_spans.select(
        F.col(id_col), F.size("__spans").cast("long").alias("n_spans")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_idx", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("n_spans"),
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        )
    )
