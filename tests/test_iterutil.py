"""materialize() contract: lineage truncation must survive BOTH
checkpoint modes, and the reliable mode must engage exactly when a
checkpoint directory is set on the context (the cluster-mode contract —
localCheckpoint blocks are block-manager state, and an evicted round-N
block kills round N+1 of any iterative operator; seen live with
ml_pagerank at sf100-equivalent under a constrained JVM). Plus the
round owner's release rule, on each of the four round loops."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from trino_demo_spark.iterutil import materialize


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_materialize_local_mode_default(spark, tmp_path):
    # precondition: suite session has no checkpoint dir
    assert spark.sparkContext.getCheckpointDir() is None
    df = spark.range(1000).select("id", (F.col("id") * 3).alias("v"))
    m = materialize(df)
    assert m.count() == 1000
    assert m.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]
    # lineage truncated: the optimized plan is a bare scan-of-RDD, no
    # Range/Project ancestry
    assert "LogicalRDD" in _plan(m) or "Scan ExistingRDD" in _plan(m)


def test_materialize_stats_reset_iterated_self_join(spark):
    """r11: materialize no longer runs a separate count() — the eager
    checkpoint's pass populates the persisted cache before the stats
    snapshot. This pins the property the count() existed for: iterated
    self-joins through materialize must NOT compound estimated stats
    (Catalyst's size-only join estimate is the BigInt product of its
    children; un-reset, the digit count doubles per round and planning
    time blows up by round ~20). Assert the actual snapshot is sane:
    after many rounds the checkpointed frame's estimated size stays
    within a constant factor of its true cached size instead of
    growing as product^rounds."""
    df = spark.range(500).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v")
    )
    for _ in range(8):
        j = (
            df.alias("a")
            .join(df.alias("b"), F.col("a.v") == F.col("b.u"))
            .select(F.col("a.u").alias("u"), F.col("b.v").alias("v"))
        )
        df = materialize(j)
    # py4j converts the scala BigInt's underlying value to a Python int
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    # two longs x <=500 rows: true size is a few KB. The un-reset
    # product after 8 rounds would exceed 2^(8 bits-per-round growth)
    # ~ 1e40; one loose order-of-magnitude bound suffices.
    assert 0 < size < 10_000_000, size


def test_materialize_reliable_when_checkpoint_dir_set(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        df = spark.range(500).select("id", (F.col("id") % 7).alias("k"))
        m = materialize(df)
        assert m.count() == 500
        # reliable checkpoint writes files under the dir (localCheckpoint
        # writes nothing there)
        ckpt_root = tmp_path / "ckpt"
        files = [p for p in ckpt_root.rglob("*") if p.is_file()]
        assert files, "reliable checkpoint must persist files on disk"
        # correctness preserved through the truncation
        assert (
            m.groupBy("k").count().orderBy("k").collect()
            == df.groupBy("k").count().orderBy("k").collect()
        )
    finally:
        # un-set for the rest of the shared session (Spark has no unset
        # API; empty string is rejected, so re-pointing at a throwaway
        # subdir keeps later tests on the reliable path harmless — but
        # the suite contract is no checkpoint dir, so restore via the
        # underlying conf knob)
        # (the un-set itself has no public API — Spark only ever lets
        # you SET a dir — so the restore goes through the scala setter)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty()
        )
        assert sc.getCheckpointDir() is None


def _pagerank(spark, iters):
    from trino_demo_spark.ml import pagerank

    edges = spark.range(200).select(
        (F.col("id") % 50).alias("src"), ((F.col("id") * 7 + 3) % 50).alias("dst")
    )
    return [pagerank(edges, iters=iters)]


def _pagerank_iters0(spark):
    (out,) = _pagerank(spark, 0)
    ranks = {r["rank"] for r in out.collect()}
    # 50 nodes: every src/dst residue mod 50 is hit
    assert ranks == {round(1 / 50 + 1e-9, 8)}
    return [out]


def _als(spark):
    from trino_demo_spark.ml import als_fit_distributed

    ratings = spark.range(300).select(
        (F.col("id") % 30).alias("user_id"),
        ((F.col("id") * 7) % 20).alias("item"),
        ((F.col("id") % 5) + 1).cast("double").alias("rating"),
    )
    return list(als_fit_distributed(ratings, iters=3))


def _path(spark):
    """61 documents joined by a 60-edge path: one cluster, 7 CC rounds."""
    ids = spark.range(61).select(F.col("id").alias("doc_id"))
    path = spark.range(60).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    return ids, path


def _clusters(spark):
    from trino_demo_spark.llm.dedup import dedup_clusters

    stats = {}
    out = dedup_clusters(*_path(spark), stats=stats)
    assert stats["rounds"] == 7
    return [out]


def _bpe(spark):
    from trino_demo_spark.llm.bpe import bpe_train_words

    words = spark.createDataFrame(
        [("lower", 5), ("lowest", 2), ("newer", 6), ("wider", 3)], "w string, freq bigint"
    )
    assert len(bpe_train_words(words, n_merges=6)) == 6
    return []


@pytest.mark.parametrize(
    "build, reads",
    [
        (lambda s: _pagerank(s, 4), 1),  # the final ranks
        (_pagerank_iters0, 1),  # 1/n per node: the edges, through the node set
        (_als, 2),  # item_f, users
        (_clusters, 1),  # the converged edge set
        (_bpe, 0),  # the merge list is plain Python
    ],
    ids=["pagerank", "pagerank_iters0", "als", "clusters", "bpe"],
)
def test_round_loops_leave_only_what_the_result_reads(spark, build, reads):
    """After the returned frames are collected, the only RDDs a round
    loop leaves persisted are the checkpoints those frames still read:
    every per-round frame, in-round cache and loop invariant is
    released by the loop's owner (iterutil.Rounds)."""
    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    before = set(jsc.getPersistentRDDs().keys())
    frames = build(spark)  # held, so the JVM cannot clean what they read
    for df in frames:
        df.collect()
    assert len(set(jsc.getPersistentRDDs().keys()) - before) == reads
    assert cache.isEmpty()


def test_clusters_raise_when_not_converged(spark):
    """A pair graph that needs more rounds than ``max_iters`` raises
    instead of returning split clusters: the path closes in 7 rounds, so
    2 fall short. The rounds made are still reported, and the failed
    loop leaves nothing persisted."""
    from trino_demo_spark.llm.dedup import dedup_clusters

    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    before = set(jsc.getPersistentRDDs().keys())
    stats = {}
    with pytest.raises(RuntimeError, match="did not converge within max_iters=2 "):
        dedup_clusters(*_path(spark), max_iters=2, stats=stats)
    assert stats["rounds"] == 2
    assert set(jsc.getPersistentRDDs().keys()) <= before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
