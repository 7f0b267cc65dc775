"""Lineage, stats and storage hygiene for iterative DataFrame algorithms.

Three traps hit any loop of the form ``df = f(df)``:

1. **Lineage growth** — if ``df`` feeds two branches of the next round
   (a self-join, or a main/convergence-check pair), the logical plan
   doubles per round and every action re-executes all prior rounds.
   ``localCheckpoint`` fixes this.

2. **Estimated-stats growth** — ``localCheckpoint`` (and reliable
   ``checkpoint``) wrap the materialized RDD in a ``LogicalRDD`` that
   PRESERVES the origin plan's estimated ``Statistics``. Catalyst's
   size-only estimate for a join is the BigInt PRODUCT of its
   children's ``sizeInBytes``, so an iterated self-join doubles the
   *digit count* of the estimate every round: by round ~18 the driver
   spends minutes per round inside ``BigInteger.multiply`` during
   planning (measured on a 2 000-row frame: 0.3 s/round flat with the
   reset below vs 14 s at round 22 / 219 s at round 24 without — pure
   driver CPU in ``SizeInBytesOnlyStatsPlanVisitor.visitJoin``).

3. **Leaked round frames** — each round's checkpoint and in-round
   cache stays persisted for the life of the session unless released,
   and releasing one that a later round or the lazy result still reads
   fails that read with ``checkpointRDDBlockIdNotFound``.

``materialize`` breaks 1 and 2: persisting first makes the optimized
plan an ``InMemoryRelation``, and the eager checkpoint's materializing
pass populates that cache before ``LogicalRDD.fromDataset`` snapshots
stats — so the snapshot sees the ACTUAL cached byte size, not the
compounded product; the checkpoint then truncates lineage as usual
and the temporary cache is dropped. At real cluster scale the same
discipline applies — swap ``localCheckpoint`` for reliable
``checkpoint`` (executor loss safety); the persist-before-checkpoint
ordering is what resets the stats either way.

``Rounds`` owns 3, with one release rule for every loop:

* a loop **invariant** (an input every round reads, passed to
  ``Rounds``) is held until the loop ends;
* a **per-round** frame (a round's state, or a cache serving one
  round) is held until the next round's state is solid: materialized,
  or computed by an action the loop runs anyway, and handed to
  ``Rounds.advance``;
* when the loop ends, everything held is released except the
  checkpoints the returned lazy result (``Rounds.result``) reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Materialize ``df`` with lineage truncated AND estimated stats
    reset to the actual cached size (see module docstring). Returns the
    checkpointed frame; the temporary cache is unpersisted before
    returning, so no storage is pinned beyond the checkpoint blocks.
    One action: the eager checkpoint's pass runs THROUGH the persisted
    plan, so the cache is populated before the stats snapshot (pinned
    by tests/test_iterutil.py::test_materialize_stats_reset_iterated_self_join).

    If the SparkContext has a checkpoint directory set, the truncation
    uses RELIABLE ``checkpoint`` instead of ``localCheckpoint``:
    localCheckpoint blocks live in the block manager, so under memory
    pressure an evicted/cleaned block from round N kills round N+1 with
    "Block rdd_X_Y does not exist" (observed live: ml_pagerank at
    sf100-equivalent, 600M-row edges on a 40g local JVM). Reliable
    checkpoint files survive eviction and executor loss — setting
    ``sc.setCheckpointDir`` is the cluster-mode contract anyway; this
    just makes every iterative operator honor it automatically.

    IMPORTANT companion conf: Spark never deletes reliable checkpoint
    files unless ``spark.cleaner.referenceTracking.cleanCheckpoints``
    is true (default FALSE), so a per-round materialize would otherwise
    accumulate one frame-sized directory per iteration for the life of
    the application — the same disk-exhaustion failure mode the
    reliable branch exists to fix, moved into the checkpoint store.
    ``session.get_spark`` sets it; any hand-built session that calls
    ``setCheckpointDir`` must set it too (as must any cluster deploy
    that doesn't snapshot checkpoints deliberately)."""
    df.persist()
    try:
        if df.sparkSession.sparkContext.getCheckpointDir() is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)
    finally:
        df.unpersist()


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD under a checkpointed frame's ``LogicalRDD``, else None."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.rdd() if plan.nodeName() == "LogicalRDD" else None


def release(df: DataFrame) -> None:
    """Drop the storage ``df`` pins: its cache entry and, if it is a
    local checkpoint, the persisted RDD under its ``LogicalRDD``
    (reliable checkpoint files are removed by ``cleanCheckpoints``)."""
    df.unpersist()
    rdd = _checkpoint_rdd(df)
    if rdd is not None:
        rdd.unpersist(False)


class Rounds:
    """The owner of one iterative loop's frames, applying the module
    docstring's release rule: a context manager around the loop, built
    with the loop's invariants. ``count`` is the number of rounds
    advanced."""

    def __init__(self, *invariants: DataFrame) -> None:
        self.count = 0
        self._invariants = invariants
        self._round: list[DataFrame] = []
        self._reads: set[int] = set()

    def __enter__(self) -> Rounds:
        return self

    def __exit__(self, *exc) -> None:
        for df in (*self._invariants, *self._round):
            rdd = _checkpoint_rdd(df)
            if rdd is None or rdd.id() not in self._reads:
                release(df)

    def hold(self, df: DataFrame) -> DataFrame:
        """Hold a per-round ``df`` (persisted or checkpointed) until the
        next ``advance``."""
        self._round.append(df)
        return df

    def advance(self, state: DataFrame) -> DataFrame:
        """``state``, already computed, is the new round's state: release
        every other per-round frame and count the round."""
        for df in self._round:
            if df is not state:
                release(df)
        self._round = [state]
        self.count += 1
        return state

    def result(self, df: DataFrame) -> DataFrame:
        """Mark ``df`` as returned: the checkpoints it reads outlive the
        loop."""
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            if leaves.apply(i).nodeName() == "LogicalRDD":
                self._reads.add(leaves.apply(i).rdd().id())
        return df
