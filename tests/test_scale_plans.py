"""Scale-shape assertions: the physical plans the engine promises at
100 TB, checked on small data — broadcasts for dim joins, partition
pruning on partitioned sinks, shuffle-free bucketed joins, single-shuffle
window dedup, LOJ→inner rewrite, parquet filter pushdown."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from trino_demo_spark.operators import relational as rel
from trino_demo_spark.parity import PARITY
import trino_demo_spark.parity_llm  # noqa: F401  (registers llm entries)
import trino_demo_spark.parity_ml  # noqa: F401  (registers ml entries)
from trino_demo_spark.registry import load_table

from .conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_dim_joins_broadcast(spark):
    for q in ("tpch_q3", "tpch_q5"):
        plan = _plan(PARITY[q].fn(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_q18_single_bounded_hint(spark):
    """ADVICE r5 + VERDICT r6 §next-round-2: q18's only join hint is the
    provably-bounded 20-row top-k broadcast into customer; big⋈orders is
    left to AQE because the HAVING-survivor side is LINEAR in SF — an
    OOM to force-broadcast at 100 TB. The r1–r6 SPARK_GRAFT_LOCAL_HINTS
    bench flag that restored that broadcast under local[32] static
    estimates is retired (PERF.md r6 measured unhinted within 2% of
    hinted on the same host), so the shipped plan and the benched plan
    are now the same plan, always."""
    qe = PARITY["tpch_q18"].fn(spark, SF_SMOKE)._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == 1


def test_bounded_side_broadcasts_never_customer(spark):
    """VERDICT r4 §next-round-6: when a HAVING/filter/limit provably
    bounds the fact-derived side, THAT side carries the broadcast hint —
    never customer, the largest dim at 100 TB. Both q18 and q10 hint
    only their bounded 20-row top-k into customer (q18's big⋈orders is
    always AQE-chosen since the r7 hint-flag retirement). The full-width
    customer relation must build the probe (streamed) side of its join
    in both plans. (Keys-only LeftSemi builds of customer/nation — the
    dangling-key guards — are exempt: unhinted, so the planner shuffles
    them once the dim outgrows the broadcast threshold.)"""
    for q in ("tpch_q18", "tpch_q10"):
        plan = _plan(PARITY[q].fn(spark, SF_SMOKE))
        joins = [
            ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln
        ]
        cust_joins = [
            ln for ln in joins if "c_custkey" in ln and "LeftSemi" not in ln
        ]
        assert cust_joins, (q, plan)
        # fact-derived side is always the LEFT child in these plans
        assert all("BuildLeft" in ln for ln in cust_joins), (q, plan)
        assert "SortMergeJoin" not in plan, (q, plan)


def test_gopher_repetition_shuffle_free(spark):
    """llm_gopher_repetition is ONE per-doc map pass (r12: a MapInArrow
    counting kernel over Spark-built token arrays; before that, sorted-
    run folds): no explode, no join, no keyed Exchange anywhere — the
    explode+groupBy+window draft this family replaced cost 5.26 s vs
    3.19 s at sf0.1 and shuffled 18M (doc, n, gram) rows, and THAT
    shape coming back is what this gate exists to catch. The only
    Exchange permitted is the conditional few-split RoundRobin spread
    of raw doc rows feeding the kernel (parallelism on 1-split inputs,
    skipped on ample scans — see dedup._spread_few_splits)."""
    plan = _plan(PARITY["llm_gopher_repetition"].fn(spark, SF_SMOKE))
    assert "MapInArrow" in plan, plan
    assert "Generate" not in plan, plan  # no explode
    assert "Join" not in plan, plan
    assert "hashpartitioning" not in plan, plan  # no keyed shuffle
    assert "rangepartitioning" not in plan, plan
    exchanges = [
        ln for ln in plan.splitlines() if ln.strip().startswith("+- Exchange")
        or ln.strip().startswith("Exchange")
    ]
    assert all("RoundRobinPartitioning" in ln for ln in exchanges), plan
    assert len(exchanges) <= 1, plan


def test_q21_window_reuses_pair_agg_shuffle(spark):
    """tpch_q21 / tpch_q21_full: the repartition(l_orderkey) ahead of
    the (l_orderkey, l_suppkey) aggregate must satisfy BOTH the groupBy
    clustering and the order window, so the fact shuffles ONCE — no
    composite-key Exchange, no second prefix-key Exchange (measured
    20.2 s → 11.1 s at sf1; PERF.md r8)."""
    import re

    for name in ("tpch_q21", "tpch_q21_full"):
        plan = _plan(PARITY[name].fn(spark, SF_SMOKE))
        fact_exchanges = re.findall(
            r"Exchange hashpartitioning\(l_orderkey[^)]*\)", plan
        )
        assert len(fact_exchanges) == 1, (name, fact_exchanges)
        assert not re.search(
            r"hashpartitioning\(l_orderkey#\d+L?, l_suppkey", plan
        ), f"{name}: composite-key exchange crept back"


def test_q9_full_composite_probe_shape(spark):
    """tpch_q9_full: the canonical partsupp probe joins the fact on
    BOTH keys — the composite-key equi-join must appear in the plan
    with no hint forcing a strategy: at smoke SF, AQE legitimately
    broadcasts the tiny derived partsupp; at scale it exceeds the
    threshold and takes the shuffle path (the sf1 span row measured
    that path). The dims (filtered part, supplier, nation) broadcast."""
    import re

    plan = _plan(PARITY["tpch_q9_full"].fn(spark, SF_SMOKE))
    # composite-key equi-join on (partkey, suppkey) present
    assert re.search(
        r"Join \[l_partkey#\d+L?, l_suppkey#\d+L?\], "
        r"\[ps_partkey#\d+L?, ps_suppkey#\d+L?\]",
        plan,
    ), "partsupp probe lost the two-sided composite key"
    # no join-strategy hint anywhere (AQE must stay free to re-plan)
    opt = _optimized(PARITY["tpch_q9_full"].fn(spark, SF_SMOKE))
    assert "JoinHint" not in opt or "leftHint=none, rightHint=none" in opt
    # dims arrive via broadcast
    assert plan.count("BroadcastExchange") >= 3


def test_keep_last_single_shuffle(spark):
    ev = load_table(spark, "events", SF_SMOKE)
    df = rel.keep_last(ev, keys=["user_id"], order_by=[F.col("ts").desc()])
    assert _plan(df).count("Exchange") == 1


def test_loj_null_filter_rewritten_to_inner(spark):
    p = _optimized(PARITY["join_null_filter"].fn(spark, SF_SMOKE))
    assert "Inner" in p and "LeftOuter" not in p


def test_filter_pushdown_reaches_scan(spark):
    df = PARITY["filter_date_lt"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan


def test_column_pruning(spark):
    df = load_table(spark, "lineitem", SF_SMOKE).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # ReadSchema carries only the projected columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:200]


def test_partitioned_sink_prunes(spark):
    PARITY["sink_parquet_partitioned"].fn(spark, SF_SMOKE).collect()
    path = os.path.abspath(
        os.path.join(os.path.dirname(__file__), "..", ".scratch",
                     os.path.basename(SF_SMOKE), "lineitem_by_year")
    )
    years = [d for d in os.listdir(path) if d.startswith("ship_year=")]
    assert len(years) >= 5  # hive-style layout materialized
    pruned = spark.read.parquet(path).filter(F.col("ship_year") == 1997)
    plan = _plan(pruned)
    assert "PartitionFilters" in plan and "ship_year" in plan.split("PartitionFilters")[1][:120]


@pytest.mark.usefixtures("spark")
def test_bucketed_join_no_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_table(spark, "orders", SF_SMOKE).select("o_orderkey", "o_custkey")
        li = load_table(spark, "lineitem", SF_SMOKE).select("l_orderkey", "l_quantity")
        rel.write_bucketed(orders, "b_orders", ["o_orderkey"], 4, sort_cols=["o_orderkey"])
        rel.write_bucketed(li, "b_lineitem", ["l_orderkey"], 4, sort_cols=["l_orderkey"])
        a = spark.table("b_orders")
        b = spark.table("b_lineitem")
        joined = a.join(b, a["o_orderkey"] == b["l_orderkey"])
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        # sanity: result matches the unbucketed join
        n_bucketed = joined.count()
        n_plain = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).count()
        assert n_bucketed == n_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_matches_plain(spark):
    orders = load_table(spark, "orders", SF_SMOKE).select("o_orderkey", "o_custkey")
    cust = load_table(spark, "customer", SF_SMOKE).select("c_custkey", "c_name")
    plain = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        "o_orderkey", "c_custkey"
    )
    salted = rel.salted_join(orders, cust, "o_custkey", "c_custkey", salt=4).select(
        "o_orderkey", "c_custkey"
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_q6_all_filters_pushed(spark):
    plan = _plan(PARITY["tpch_q6"].fn(spark, SF_SMOKE))
    pushed = plan.split("PushedFilters")[1][:400]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, pushed


def test_approx_count_distinct_within_tolerance(spark):
    o = load_table(spark, "orders", SF_SMOKE)
    exact = o.select(F.countDistinct("o_custkey")).first()[0]
    approx = o.select(F.approx_count_distinct("o_custkey", rsd=0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.05


def test_deterministic_sample_stable(spark):
    docs = load_table(spark, "documents", SF_SMOKE)
    s1 = {r.doc_id for r in rel.deterministic_sample(docs, "doc_id", 2).select("doc_id").collect()}
    s2 = {r.doc_id for r in rel.deterministic_sample(docs.repartition(7), "doc_id", 2).select("doc_id").collect()}
    assert s1 == s2 and s1  # identical under re-partitioning
    rate = len(s1) / docs.count()
    assert 0.05 < rate < 0.22  # ~2/16 with small-sample variance


def test_stratified_sample_fractions(spark):
    docs = load_table(spark, "documents", SF_SMOKE)
    out = rel.stratified_sample(docs, "lang", {"en": 0.5, "de": 1.0, "es": 0.0, "fr": 0.0, "zh": 0.0})
    counts = {r.lang: r.cnt for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    full = {r.lang: r.cnt for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert counts.get("de") == full["de"]
    assert "es" not in counts and "fr" not in counts and "zh" not in counts
    assert 0.2 * full["en"] < counts.get("en", 0) < 0.8 * full["en"]


def test_stratified_sample_deterministic(spark):
    docs = load_table(spark, "documents", SF_SMOKE)
    rates = {"en": 0.25, "de": 0.75, "es": 0.75, "fr": 0.75, "zh": 0.75}
    s1 = rel.stratified_sample_deterministic(docs, "lang", "doc_id", rates)
    s2 = rel.stratified_sample_deterministic(
        docs.repartition(7), "lang", "doc_id", rates
    )
    r1 = sorted(r.doc_id for r in s1.select("doc_id").collect())
    r2 = sorted(r.doc_id for r in s2.select("doc_id").collect())
    assert r1 == r2 and r1  # partition-independent, non-empty
    # realized rates track requested rates (4-hex-digit quantization)
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {r.lang: r.n for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, rate in rates.items():
        realized = kept.get(lang, 0) / totals[lang]
        assert abs(realized - rate) < 0.25, (lang, realized, rate)
    # rate edge cases
    assert rel.strata_hex_threshold(0.0) == "0000"
    assert rel.strata_hex_threshold(1.0) == "zzzz"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rel.strata_hex_threshold(1.5)


def test_sessionize_single_exchange(spark):
    plan = _plan(PARITY["win_sessionize"].fn(spark, SF_SMOKE))
    # one hash partitioning by user_id feeds both windows AND the final
    # (user_id, sess_id) aggregate — exactly one shuffle in the plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_udaf_weighted_mean_matches_builtin(spark):
    """The GROUPED_AGG UDAF must agree with the built-in integer-unit
    formulation (which IS the 100 TB path — partial+final agg), and its
    plan must be the documented ArrowAggregatePython shape."""
    from trino_demo_spark.parity import PARITY, r_, u2, usum

    df = PARITY["udaf_weighted_mean"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowAggregatePython" in plan or "AggregateInPandas" in plan, plan

    li = load_table(spark, "lineitem", SF_SMOKE)
    builtin = li.groupBy("l_returnflag").agg(
        r_(
            (
                F.sum(u2("l_extendedprice") * F.round(F.col("l_quantity")).cast("long"))
                / F.sum(F.round(F.col("l_quantity")).cast("long"))
            )
            / F.lit(100.0),
            4,
        ).alias("wavg_price")
    )
    a = sorted((r.l_returnflag, float(r.wavg_price)) for r in df.collect())
    b = sorted((r.l_returnflag, float(r.wavg_price)) for r in builtin.collect())
    assert a == b


def test_merge_upsert_semantics(spark):
    from trino_demo_spark.operators import relational as rel

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    upd = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    out = {r.k: (r.s, r.v) for r in rel.merge_upsert(snap, upd, ["k"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_aqe_splits_skewed_q9_composite_probe(spark):
    """The q9_full shape under a hot part (VERDICT r8 §next-round-5):
    a lineitem-shaped fact with 95% of rows on ONE (partkey, suppkey)
    pair joins a uniform partsupp-shaped fact on the COMPOSITE key,
    then rolls up — AQE must split the skewed partition of that
    composite-key exchange at runtime (skew=true in the final plan)
    and the rollup must still be exact. q9_full itself is hint-free;
    this gate proves the runtime answer it relies on fires for its
    exact join shape when a part goes hot."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # hot (partkey=7, suppkey=3) on 95% of fact rows, like one part
        # dominating a crawl shard; uniform composite-key dim-fact side
        li = spark.range(200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("l_partkey"),
            F.when(F.col("id") % 20 != 0, F.lit(3))
            .otherwise(F.col("id") % 10)
            .alias("l_suppkey"),
            (F.col("id") % 50).cast("long").alias("l_quantity"),
            F.concat(F.lit("pad_pad_pad_pad_pad_"), F.col("id")).alias("pad"),
        )
        ps = (
            spark.range(1000)
            .select(F.col("id").alias("ps_partkey"))
            .crossJoin(
                spark.range(10).select(F.col("id").alias("ps_suppkey"))
            )
            .select(
                "ps_partkey",
                "ps_suppkey",
                (F.col("ps_partkey") * 10 + F.col("ps_suppkey"))
                .cast("long")
                .alias("ps_supplycost_cents"),
            )
        )
        joined = li.hint("merge").join(
            ps,
            (li["l_partkey"] == ps["ps_partkey"])
            & (li["l_suppkey"] == ps["ps_suppkey"]),
        )
        rollup = joined.groupBy("l_suppkey").agg(
            F.sum(F.col("l_quantity") * F.col("ps_supplycost_cents")).alias(
                "cost"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        rows = {r.l_suppkey: (r.cost, r.n) for r in rollup.collect()}
        plan = rollup._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "isFinalPlan=true" in plan, plan
        # exactness under the split: the hot pair's partial sums must
        # reassemble — recompute the hot cell's expected value directly
        hot_n = sum(1 for i in range(200_000) if i % 20 != 0)
        hot_cost = sum(
            (i % 50) * (7 * 10 + 3) for i in range(200_000) if i % 20 != 0
        )
        assert rows[3][1] >= hot_n, rows[3]
        cold_3 = sum(
            (i % 50) * ((i % 1000) * 10 + 3)
            for i in range(200_000)
            if i % 20 == 0 and i % 10 == 3
        )
        cold_n_3 = sum(
            1 for i in range(200_000) if i % 20 == 0 and i % 10 == 3
        )
        assert rows[3] == (hot_cost + cold_3, hot_n + cold_n_3)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join mitigation is live: a 95%-one-key left side joined
    SMJ against a uniform right side gets its skewed partition split at
    runtime (AQEShuffleRead reports isSkew=true) with thresholds scaled
    to test data. This is the declared runtime answer to single-hot-key
    skew at 100 TB (salted_join is the explicit fallback)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("padpadpadpadpadpad_"), F.col("id")).alias("payload"),
        )
        right = spark.range(0, 200_000).select(
            F.col("id").alias("k"), F.lit("r").alias("rv")
        )
        joined = left.hint("merge").join(right, "k")
        # collect() (not a noop write) so the SAME QueryExecution runs and
        # its AdaptiveSparkPlan finalizes — a write creates a new one.
        assert len(joined.collect()) == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "isFinalPlan=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_global_rank_no_single_partition_window(spark):
    """llm_train_order's global row_number must come from bucket-
    partitioned windows + offset broadcast, never a SinglePartition
    exchange (the naive ROW_NUMBER() OVER (ORDER BY key) plan)."""
    df = PARITY["llm_train_order"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(__bucket" in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # offsets join, not shuffled


def test_profile_skew_topk_no_global_sort(spark):
    """Heavy-hitter top-5 must compile to TakeOrderedAndProject (no
    full Sort) and the global stats must ride a broadcast join."""
    plan = _plan(PARITY["profile_skew"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_salted_join_spreads_hot_key(spark):
    """join_skew_salted must join on (key, salt) — the hot key's rows
    land in `salt` distinct shuffle partitions, not one."""
    df = PARITY["join_skew_salted"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "__salt" in plan
    # still a real equi-join (hash-partitioned on key+salt), not a BNLJ
    assert "BroadcastNestedLoopJoin" not in plan


def test_quality_filter_single_window_shuffle(spark):
    """Per-language ranking must be ONE hash partitioning by lang (plus
    the broadcast of the tiny per-lang counts) — no global sort."""
    docs = load_table(spark, "documents", SF_SMOKE)
    from trino_demo_spark.llm import text

    plan = _plan(text.quality_filter_pct(docs))
    assert "hashpartitioning(lang" in plan
    assert "rangepartitioning" not in plan


def test_resample_ffill_no_global_sort(spark):
    """The fill window sorts within per-key partitions only; the day
    spine must broadcast (keys x days is tiny next to fact rows)."""
    from trino_demo_spark.operators import windows as win

    o = load_table(spark, "orders", SF_SMOKE)
    df = win.resample_ffill(
        o, "o_orderpriority", "o_orderdate", "o_totalprice",
        "1995-03-01", "1995-04-30",
    )
    plan = _plan(df)
    assert "rangepartitioning" not in plan
    assert "hashpartitioning(o_orderpriority" in plan


def test_range_join_bucketed_is_hash_join(spark):
    """The bucketized range join must run as a hash equi-join on the
    day bucket — never a BroadcastNestedLoopJoin."""
    plan = _plan(PARITY["join_range_bucketed"].fn(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_tpch_q1_single_exchange(spark):
    """The full Q1 pricing summary must be ONE partial+final hash
    aggregate over the scan — every aggregate map-side combinable, one
    shuffle carrying groups x accumulators only."""
    df = PARITY["tpch_q1"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2  # partial + final


def test_tpch_q21_single_fact_scan(spark):
    """Q21's EXISTS + NOT EXISTS collapse into window counts over the
    per-(order, supplier) frame: the lineitem fact must be scanned
    exactly once (the naive correlated plan scans it three times)."""
    plan = _plan(PARITY["tpch_q21"].fn(spark, SF_SMOKE))
    assert plan.count("FileScan parquet [l_orderkey") == 1


def test_stream_join_attrib_no_range_explosion(spark):
    """The attribution interval join must be an equi-join on user_id
    with the time predicate as a residual — never a nested-loop or
    cartesian plan."""
    plan = _plan(PARITY["stream_join_attrib"].fn(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cdc_changelog_applies_back(spark):
    """snapshot_diff is the inverse of merge_upsert: applying the
    emitted changelog (upsert I/U rows, remove D keys) to the old
    snapshot must reproduce the new snapshot exactly."""
    from trino_demo_spark.registry import load_table

    o = load_table(spark, "orders", SF_SMOKE).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    upd = F.col("o_orderkey") % 10 < 3
    new = o.filter(F.col("o_orderkey") % 10 != 7).select(
        "o_orderkey",
        F.when(upd, F.lit("U")).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        F.when(upd, F.col("o_totalprice") + 10.0).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    ).unionByName(
        o.filter(F.col("o_orderkey") % 10 == 5).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(1.0).alias("o_totalprice"),
        )
    )
    log = rel.snapshot_diff(o, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"])
    upserts = log.filter(F.col("op").isin("I", "U")).select(
        "o_orderkey",
        F.col("new_o_orderstatus").alias("o_orderstatus"),
        F.col("new_o_totalprice").alias("o_totalprice"),
    )
    deletes = log.filter(F.col("op") == "D").select("o_orderkey")
    rebuilt = rel.merge_upsert(o, upserts, ["o_orderkey"]).join(
        deletes, "o_orderkey", "left_anti"
    )
    assert rebuilt.exceptAll(new).count() == 0
    assert new.exceptAll(rebuilt).count() == 0


def test_merge_rollup_associative_batches(spark):
    """Merging per-week rollups one at a time equals the full recompute
    — the accumulators are integer units, so any merge order is exact."""
    from trino_demo_spark.registry import load_table

    ev = load_table(spark, "events", SF_SMOKE)
    v = F.floor(F.col("value") * 1000).cast("long")

    def rollup(df):
        return df.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum(v).alias("vm")
        )

    week = F.weekofyear("ts")
    parts = [rollup(ev.filter(week % 3 == i)) for i in range(3)]
    merged = parts[0]
    for p in parts[1:]:
        merged = rel.merge_rollup(merged, p, ["user_id"], ["n", "vm"])
    full = rollup(ev)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_bm25_topk_no_global_sort(spark):
    """BM25 top-k must plan TakeOrderedAndProject (never a total sort)
    and keep corpus stats as broadcasts."""
    plan = _plan(PARITY["llm_search_bm25"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan


def test_simhash_bands_compute_fingerprint_once_per_side(spark):
    """simhash_near_pairs builds its 4 bands with one explode over the
    fingerprints: the executed plan carries the 64-bit vote projection
    at most twice (once per self-join side), so documents are read and
    hashed once per side, not once per band."""
    from trino_demo_spark.llm import dedup

    df = dedup.simhash_near_pairs(load_table(spark, "documents", SF_SMOKE))
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    votes = [ln for ln in final.splitlines() if "Project" in ln and "aggregate(" in ln]
    assert 1 <= len(votes) <= 2, final


def test_perplexity_lm_join_copartitions(spark):
    """Perplexity scoring joins doc bigrams against the LM on the bigram
    key — a plain equi-join on (w1, w2), never a cartesian product.
    (A BroadcastNestedLoopJoin IS present and fine: it is the 1-row
    vocab-size scalar broadcast, the same pattern as every other
    scalar-comparator entry.)"""
    plan = _plan(PARITY["llm_perplexity"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    import re

    assert re.search(r"(BroadcastHash|SortMerge)Join \[w1#\d+, w2#\d+\]", plan)


def test_partitioning_invariance(spark):
    """The engine's core claim for 100 TB correctness: results are
    bit-identical under ANY partitioning. Re-run representative
    aggregate/join/dedup queries with shuffle.partitions=5 (vs the
    session's 32) and tiny maxPartitionBytes (more input splits) and
    require canonically identical frames — the integer-unit money sums
    and epsilon-rounding discipline is what makes this hold; a plain
    double SUM would fail this test."""
    names = [
        "tpch_q1", "tpch_q5", "agg_groupby_key", "llm_dedup_exact",
        "win_dedup_keeplast", "sink_incremental_rollup", "llm_perplexity",
        # round-5 restructures: top-k-before-dim-join must stay exact
        # under any partitioning (integer-unit sums make the regroup
        # reduction-order-free)
        "tpch_q10", "tpch_q18",
    ]

    def canon(df):
        pdf = df.toPandas()
        cols = sorted(pdf.columns)
        return sorted(zip(*[pdf[c].astype(str) for c in cols]))

    base = {}
    for n in names:
        base[n] = canon(PARITY[n].fn(spark, SF_SMOKE))
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        for n in names:
            assert canon(PARITY[n].fn(spark, SF_SMOKE)) == base[n], (
                f"{n}: result depends on partitioning"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)


def test_snapshot_diff_null_key_classification(spark):
    """A NULL key (legal — the join is eqNullSafe) must classify by
    presence sentinels, not key nullability: unchanged NULL-key rows
    drop out, changed ones emit 'U', and one-sided rows emit I/D."""
    old = spark.createDataFrame(
        [(None, "same"), (1, "a"), (2, "gone")], "k int, v string"
    )
    new = spark.createDataFrame(
        [(None, "same"), (1, "b"), (3, "new")], "k int, v string"
    )
    got = {
        (r.k, r.op) for r in rel.snapshot_diff(old, new, ["k"], ["v"]).collect()
    }
    assert got == {(1, "U"), (2, "D"), (3, "I")}

    changed = spark.createDataFrame([(None, "diff")], "k int, v string")
    got2 = {
        (r.k, r.op)
        for r in rel.snapshot_diff(old, changed, ["k"], ["v"]).collect()
    }
    assert got2 == {(None, "U"), (1, "D"), (2, "D")}


def test_capped_dedup_bounds_hub_shingle_fanout(spark):
    """Skew hardening (VERDICT r3 stretch): one boilerplate shingle shared
    by every doc must NOT produce O(N²) candidate pairs on the capped
    path. Uncapped, N docs sharing a hub 3-gram produce N·(N-1)/2
    intersecting pairs; with df_max the hub shingle is dropped before
    the inverted-index self-join, so candidate volume collapses to the
    cold-shingle pairs only (here: zero, every tail is unique)."""
    from trino_demo_spark.llm import dedup

    n = 120
    hub = "common boilerplate header"
    rows = [(i, f"{hub} unique{i}a unique{i}b unique{i}c unique{i}d") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = dedup.ngram_jaccard_pairs(df, threshold=0.0).count()
    assert uncapped == n * (n - 1) // 2  # the quadratic blow-up is real

    capped = dedup.ngram_jaccard_pairs_capped(df, threshold=0.0, df_max=5).count()
    assert capped == 0  # hub shingle dropped pre-join -> no fan-out


def test_e2e_llm_pipeline_single_scan(spark):
    """The data-prep pipeline's scalar stages (quality, langid, token
    count, shard key) must fuse into one projection over ONE scan — no
    self-joins — leaving only the dedup window and the bucket window
    as exchanges."""
    plan = _plan(PARITY["e2e_llm_data_pipeline"].fn(spark, SF_SMOKE))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan


def test_prefix_sum_no_whole_key_window(spark):
    """partitioned_prefix_sum's promise: the only window partitioned by
    the group key ALONE is the offsets recurrence over the tiny
    subtotal frame (ordered by the bucket id); every big-frame window
    partitions by (key, bucket), and the offsets frame broadcasts
    back. A regression that windows the full input by the bare key —
    the shape that serializes a whole key through one task — fails
    here."""
    import re

    from trino_demo_spark.llm.packing import budget_shards

    docs = load_table(spark, "documents", SF_SMOKE)
    df = budget_shards(docs, budget_tokens=2000)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan  # offsets frame broadcasts back
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    key_only = [s for s in specs if "lang" in s and "__bkt" not in s]
    both = [s for s in specs if "lang" in s and "__bkt" in s]
    # tiny-frame recurrence: key-alone windows must order by the bucket id
    for s in key_only:
        assert "__bkt" in s or "__bkt" in plan.split(s)[0][-200:], s
    # Stronger: a key-alone spec ordering by the ROW order column is the
    # forbidden whole-key shape.
    assert not [s for s in key_only if "doc_id" in s], key_only
    assert both, specs  # the bounded intra-bucket window exists


def test_drift_psi_single_fact_scan(spark):
    """profile_drift_psi reads the orders fact exactly ONCE — both
    period histograms come from one conditional aggregate and the
    totals from a window over the 10-row bucket frame, never a second
    aggregate branch re-scanning the fact."""
    df = PARITY["profile_drift_psi"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("orders.parquet") == 1, plan


def test_interp_linear_single_window_exchange(spark):
    """Both interpolation accumulators (backward last / forward first)
    ride the same (key) partitioning: exactly one Exchange feeds the
    Window stage beyond the spine build."""
    from trino_demo_spark.operators.windows import resample_interp_linear

    o = load_table(spark, "orders", SF_SMOKE).withColumn(
        "v", F.col("o_totalprice").cast("long")
    )
    df = resample_interp_linear(
        o, "o_orderpriority", "o_orderdate", "v", "1995-03-01", "1995-04-30"
    )
    plan = _plan(df)
    assert "Window" in plan
    # no second sort+exchange between the two window frames
    assert plan.count("hashpartitioning(o_orderpriority") <= 2


def test_covariance_matrix_single_fact_scan(spark):
    """agg_covariance_matrix's long-form output comes from stack() over
    the one-row moment frame — exactly one lineitem scan in the plan,
    not a 6-way union of aggregate branches."""
    df = PARITY["agg_covariance_matrix"].fn(spark, SF_SMOKE)
    assert _plan(df).count("lineitem.parquet") == 1


def test_interval_overlap_join_is_hash_join(spark):
    """The bucketized interval-overlap join plans a hash equi-join on
    the bucket id — no BroadcastNestedLoopJoin / CartesianProduct
    (the theta-join shapes it replaces)."""
    df = PARITY["join_interval_overlap"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_funnel_and_brr_single_scan(spark):
    """The observability aggregates promise ONE pass: the filter
    funnel's cumulative stage counts and the BRR replica means are all
    conditional aggregates over a single scan — no per-stage or
    per-replica re-reads."""
    plan = _plan(PARITY["llm_filter_funnel"].fn(spark, SF_SMOKE))
    assert plan.count("documents.parquet") == 1, plan
    plan = _plan(PARITY["agg_brr_ci"].fn(spark, SF_SMOKE))
    assert plan.count("events.parquet") == 1, plan


def test_asof_nearest_single_exchange_no_theta(spark):
    """asof_join_nearest's promise: the union-merge shape shuffles ONCE
    on the (partition, order) keys and never plans the theta-join
    shapes (broadcast nested loop / cartesian) its lateral oracle
    formulation implies."""
    from trino_demo_spark.operators import relational as rel

    ldf = spark.range(0, 200).select(F.col("id").alias("t"))
    rdf = spark.range(0, 50).select(
        (F.col("id") * 4).alias("t"), F.col("id").alias("v")
    )
    df = rel.asof_join_nearest(ldf, rdf, on="t", right_value_cols=["v"])
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # ONE exchange for the merged frame — both window specs (asc/desc)
    # share the same partitioning, so a second shuffle is the exact
    # regression this pins
    assert plan.count("Exchange") == 1, plan


def test_seasonal_decompose_single_fact_scan(spark):
    """Both decomposition windows (trend frame and phase mean) ride the
    SAME daily aggregate — exactly one orders scan in the plan."""
    df = PARITY["win_seasonal_decompose"].fn(spark, SF_SMOKE)
    assert _plan(df).count("orders.parquet") == 1


def test_best_of_n_is_aggregate_only(spark):
    """llm_best_of_n promises argmax WITHOUT a per-group window sort:
    the plan must be HashAggregate (map-side partial + final), with no
    Window operator and no Sort before the aggregate."""
    plan = _plan(PARITY["llm_best_of_n"].fn(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_rrf_fusion_legs_bounded(spark):
    """llm_search_hybrid's fused frame is built from two limited legs:
    the plan must carry the leg limits (TakeOrderedAndProject /
    GlobalLimit), so the fusion join input is ≤k rows per leg."""
    plan = _plan(PARITY["llm_search_hybrid"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan


def test_review_hardening_regressions(spark):
    """Round-4 second-review catches, pinned: NULL-key upsert replaces
    (not duplicates), same-named salted-join keys resolve, NULL inputs
    don't abort the weighted-mean UDAF, fractional interval bounds
    don't skip the last bucket, and degenerate intervals don't kill
    range_join_bucketed."""
    import datetime

    from trino_demo_spark.operators import aggregates as agg_ops

    # merge_upsert: NULL-keyed update replaces the NULL-keyed row
    snap = spark.createDataFrame([(None, "old"), (1, "a")], "k int, v string")
    upd = spark.createDataFrame([(None, "new")], "k int, v string")
    got = {r.k: r.v for r in rel.merge_upsert(snap, upd, ["k"]).collect()}
    assert got == {None: "new", 1: "a"}

    # salted_join: same column name on both sides
    l = spark.createDataFrame([(1, "x")], "k int, lv string")
    r = spark.createDataFrame([(1, "y")], "k int, rv string").withColumnRenamed("k", "k")
    out = rel.salted_join(l, r, "k", "k", salt=4)
    assert out.count() == 1

    # weighted-mean UDAF skips NULL rows like built-ins
    wmean = agg_ops.weighted_mean_udaf()
    df = spark.createDataFrame(
        [(1, 100, 2), (1, None, 3), (1, None, None)],
        "g int, p long, q long",
    )
    row = df.groupBy("g").agg(wmean("p", "q").alias("m")).first()
    assert row.m == pytest.approx(1.0)  # 100 units * 2 / 2 / 100

    # fractional interval bounds: (15.9,16.2)x(16.0,16.1) overlaps
    li = spark.createDataFrame([(1, 15.9, 16.2)], "lid long, ls double, le double")
    ri = spark.createDataFrame([(2, 16.0, 16.1)], "rid long, rs double, re double")
    assert (
        rel.interval_overlap_join_bucketed(li, ri, "ls", "le", "rs", "re", 16).count()
        == 1
    )

    # zero-length interval row must not abort range_join_bucketed
    facts = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 12))], "fid long, ts timestamp"
    )
    iv = spark.createDataFrame(
        [
            ("a", datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 2)),
            ("b", datetime.datetime(2024, 1, 5), datetime.datetime(2024, 1, 5)),
        ],
        "name string, s timestamp, e timestamp",
    )
    assert rel.range_join_bucketed(facts, iv, "ts", "s", "e").count() == 1


def test_star_cc_plans_have_no_cartesian(spark):
    """The large-star/small-star CC rounds and the sign-LSH bucket join
    must plan as hash equi-joins — never BroadcastNestedLoopJoin or
    CartesianProduct. Checked on the full llm_dedup_semantic_lsh
    composition (LSH pairs → star CC): every join in the final labels
    plan and in the pair-generation plan is keyed."""
    from trino_demo_spark.llm import similarity

    emb = load_table(spark, "embeddings", SF_SMOKE)
    pairs = similarity.cosine_near_dup_pairs_lsh(
        emb, threshold=0.95, num_planes=16, bands=4
    )
    p = _plan(pairs)
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    from trino_demo_spark.llm import dedup

    ids = emb.select(F.col("vec_id").alias("doc_id"))
    labels = dedup.dedup_clusters(ids, pairs.select("id_a", "id_b"))
    lp = _plan(labels)
    assert "CartesianProduct" not in lp and "BroadcastNestedLoop" not in lp, lp


def test_hot_shingle_cap_bounds_candidate_fanout(spark):
    """Planted-hub benchmark: one boilerplate shingle shared by EVERY
    doc. Uncapped, that one shingle alone drives the candidate set to
    all-pairs — C(n, 2) representative pairs entering the verification
    join, the quadratic blowup that kills exact Jaccard at corpus
    scale. With the df cap the hub shingle is dropped from the posting
    lists and the candidate count collapses to the pairs that share
    NON-boilerplate content. Asserted on the actual candidate-pair
    count (dedup.jaccard_candidate_pair_count — same posting-list
    builder the pair op runs)."""
    from trino_demo_spark.llm import dedup

    hub = "all rights reserved"  # one 3-shingle shared by all docs
    n_docs = 40
    rows = [
        # each doc: unique filler + the hub phrase; docs 0/1 also share
        # a real near-dup phrase so the capped path keeps a candidate
        (i, f"u{i}a u{i}b u{i}c " + ("shared real content here " if i < 2 else "") + hub)
        for i in range(n_docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = dedup.jaccard_candidate_pair_count(df, n=3, df_max=None)
    capped = dedup.jaccard_candidate_pair_count(df, n=3, df_max=10)
    assert uncapped == n_docs * (n_docs - 1) // 2  # hub → all-pairs
    assert capped == 1  # only the genuinely-overlapping (0, 1) pair
    # and the capped pair op still surfaces that pair
    pairs = dedup.ngram_jaccard_pairs_capped(
        df, n=3, threshold=0.2, df_max=10
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Runtime Bloom-filter join pruning (r9): when a shuffle join's
    build side is selectively filtered, Spark can inject
    might_contain(bloom, xxhash64(key)) into the FACT side's scan
    filter — at 100 TB that drops most of the fact's shuffle volume
    before the exchange, the single biggest runtime win on a
    selective star probe after broadcasting. Thresholds are scaled to
    the toy SF exactly like the skew/AQE gates (the
    application-side-scan threshold exists to skip the bloom on small
    scans — the opposite of cluster conditions). The filter is
    conservative (false positives only), so the rollup must be exact."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, "lineitem", SF_SMOKE)
        orders = load_table(spark, "orders", SF_SMOKE).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            )
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        # the bloom probe must sit on the FACT (lineitem) side
        fact_line = next(
            line for line in plan.splitlines() if "might_contain" in line
        )
        assert "l_orderkey" in fact_line, fact_line
        got = {tuple(r) for r in j.collect()}
        # exactness vs the bloom-free plan
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        want = {tuple(r) for r in j.collect()}
        assert got == want and len(got) == 1
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
