"""Inference-as-operator (SURVEY.md §7 M6).

The reference trains an LSTM client-side and serves it behind KServe,
calling it row-at-a-time over HTTP (localTrinoTest.ipynb:879-886,
KubeflowStockPricePrediction.ipynb:635-664 — a remote-scalar-function
pattern). The idiomatic-Spark replacement keeps inference in the engine:

- model FIT as aggregates: closed-form OLS (slope/intercept from
  covariance/variance) — one partial+final agg pass, no driver data.
- batch INFERENCE as a vectorized pandas_udf over Arrow batches — the
  shape any real model (ONNX/sklearn/torch) plugs into; here the model
  is the linear fit so correctness is oracle-checkable.
- AUTOREGRESSIVE forecast (each prediction feeds the next step,
  localTrinoTest.ipynb:1890-1910) as a driver-side loop over scalars —
  inherently sequential, kept out of the engine per SURVEY §7 "hard
  parts"; only the fitted coefficients and the last observation cross
  the driver boundary.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .iterutil import Rounds, materialize


def linreg_fit(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Closed-form simple OLS: slope = cov_pop(x,y)/var_pop(x),
    intercept = avg(y) − slope·avg(x). Matches DuckDB's
    regr_slope/regr_intercept, including NULL on a zero-variance x
    (try_divide — a bare / throws DIVIDE_BY_ZERO under ANSI mode,
    which is Spark 4's default in the driver's plain session).
    Single aggregate pass."""
    slope = F.try_divide(F.covar_pop(x_col, y_col), F.var_pop(x_col))
    return df.agg(
        slope.alias("slope"),
        (F.avg(y_col) - slope * F.avg(x_col)).alias("intercept"),
    )


def linreg_predict(
    df: DataFrame, fit: DataFrame, x_col: str, out: str = "pred"
) -> DataFrame:
    """Apply the fit engine-side: broadcast the 1-row fit, pure column
    arithmetic (codegen). Nothing collects to the driver."""
    return df.crossJoin(F.broadcast(fit)).withColumn(
        out, F.col("intercept") + F.col("slope") * F.col(x_col)
    ).drop("slope", "intercept")


def make_linear_pandas_udf(slope: float, intercept: float):
    """Vectorized scalar inference UDF — the engine-side home for model
    apply (replaces the reference's per-window KServe HTTP loop). Arrow
    batches in/out; swap the body for onnxruntime/torch and the plan
    shape is unchanged."""

    @pandas_udf("double")
    def predict(x: pd.Series) -> pd.Series:
        return intercept + slope * x

    return predict


def predict_with_pandas_udf(
    df: DataFrame, fit_row, x_col: str, out: str = "pred"
) -> DataFrame:
    """Batch inference via the vectorized UDF, parameterized by a collected
    1-row fit (coefficients are scalars — the only driver crossing)."""
    fn = make_linear_pandas_udf(float(fit_row["slope"]), float(fit_row["intercept"]))
    return df.withColumn(out, fn(F.col(x_col)))


def autoregressive_forecast(
    spark: SparkSession,
    fit_row,
    last_value: float,
    steps: int,
    start_index: int = 1,
) -> DataFrame:
    """AR(1)-style rollout: y_{t+1} = intercept + slope·y_t, each step
    feeding the next (localTrinoTest.ipynb:1890-1910's loop). Sequential
    by construction → tiny driver loop over scalars, result returned as a
    DataFrame for downstream engine ops."""
    slope, intercept = float(fit_row["slope"]), float(fit_row["intercept"])
    rows, y = [], float(last_value)
    for i in range(steps):
        y = intercept + slope * y
        rows.append((start_index + i, y))
    return spark.createDataFrame(rows, "step int, forecast double")


def logreg_fit(
    df,
    vec_col: str = "embedding",
    label_col: str = "y",
    dims: int = 8,
    lr: float = 0.5,
    iters: int = 20,
):
    """Binary logistic regression trained with full-batch gradient
    descent where each step is ONE DataFrame aggregate — the
    iterative-ML-on-the-engine pattern (distributed-gradient descent):

    - weights live on the driver (d+1 floats, broadcast into the plan as
      literals each step — same bounded-state discipline as kmeans_fit);
    - the gradient is sum over rows of (sigmoid(w·x+b) − y)·x, computed
      as codegen array math (zip_with dot product, no UDF) + one
      partial+final aggregate per step;
    - per step the cluster moves d+1 doubles to the driver; data never
      does. At 100 TB each iteration is one scan+reduce — cache the
      features once and the scan is memory-speed;
    - backtracking line search: a proposed step is ACCEPTED only if its
      (clamped) mean log-loss does not increase; otherwise the step is
      rejected and the learning rate halved before the next attempt.
      On well-conditioned data every step accepts and the trajectory is
      the classic fixed-lr one; on hostile scales (unstandardized 1e30
      features) fixed-lr GD oscillates/diverges, and backtracking makes
      the accepted-loss sequence non-increasing BY CONSTRUCTION — the
      invariant the ml_logreg driver surface asserts.

    Returns (weights[dims], bias, losses) — the accepted-step mean
    log-loss trace (non-increasing), for convergence checks.
    The scan cost is fixed at ``iters + 1`` full-batch evaluations:
    one initial loss/gradient evaluation plus one per attempted step
    (accepted or rejected)."""
    from pyspark.sql import functions as F

    n = df.count()
    if n == 0:
        # Nothing to fit: zero weights, zero bias, no loss trace — the
        # model that predicts p=0.5 everywhere (and scores 0 rows).
        return [0.0] * dims, 0.0, []
    feats = df.select(
        F.slice(F.col(vec_col).cast("array<double>"), 1, dims).alias("x"),
        F.col(label_col).cast("double").alias("y"),
    )
    feats = feats.persist()

    def evaluate(w, b):
        """One full-batch pass: (gradient_w, gradient_b, mean log-loss)
        at (w, b) — a single scan+reduce."""
        w_lit = F.array(*[F.lit(x) for x in w])
        z = F.aggregate(
            F.zip_with(F.col("x"), w_lit, lambda x, wi: x * wi),
            F.lit(float(b)),
            lambda acc, v: acc + v,
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = p - F.col("y")
        return feats.agg(
            F.array(
                *[F.sum(err * F.col("x")[i]) for i in range(dims)]
            ).alias("gw"),
            F.sum(err).alias("gb"),
            F.avg(
                -(
                    F.col("y") * F.log(F.greatest(p, F.lit(1e-12)))
                    + (F.lit(1.0) - F.col("y"))
                    * F.log(F.greatest(F.lit(1.0) - p, F.lit(1e-12)))
                )
            ).alias("loss"),
        ).collect()[0]

    with Rounds(feats):
        w = [0.0] * dims
        b = 0.0
        cur = evaluate(w, b)
        losses = [float(cur["loss"])]
        step = lr
        for _ in range(iters):
            w_new = [wi - step * g / n for wi, g in zip(w, cur["gw"])]
            b_new = b - step * cur["gb"] / n
            cand = evaluate(w_new, b_new)
            if float(cand["loss"]) <= losses[-1]:
                w, b, cur = w_new, b_new, cand
                losses.append(float(cur["loss"]))
            else:
                # Rejected: keep (w, b, cur), halve the rate. The loss
                # trace records accepted steps only → non-increasing.
                step /= 2.0
        return w, b, losses


def logreg_predict(
    df,
    weights,
    bias: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 4,
):
    """Score rows with a fitted logistic model: broadcast-literal
    weights, codegen sigmoid(w·x+b) — map-only, no shuffle."""
    from pyspark.sql import functions as F

    dims = len(weights)
    w_lit = F.array(*[F.lit(float(x)) for x in weights])
    z = F.aggregate(
        F.zip_with(
            F.slice(F.col(vec_col).cast("array<double>"), 1, dims),
            w_lit,
            lambda x, wi: x * wi,
        ),
        F.lit(float(bias)),
        lambda acc, v: acc + v,
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return df.select(
        F.col(id_col),
        F.round(p + F.lit(1e-9), round_to).alias("score"),
        (p >= 0.5).alias("predicted"),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    round_to: int = 8,
) -> DataFrame:
    """PageRank by power iteration, entirely as DataFrame joins/aggregates
    (Brin/Page 1998, public): rank' = (1-d)/N + d·(Σ in-contribs +
    dangling_mass/N), with dangling mass redistributed uniformly so rank
    sums to 1 every iteration.

    Scale shape per iteration: ONE join of the edge list against the
    current rank vector on src (both key by node id — at 100 TB
    pre-partition/bucket the edges by src ONCE and every iteration
    reuses the layout), one keyed sum by dst, plus two 1-row broadcast
    aggregates (N, dangling mass). Driver state: nothing but the loop
    counter — ranks stay distributed. Iterations are sequential by
    definition; the edge list is never mutated."""
    # The edge list (and anything derived from the caller's upstream
    # plan) is re-joined every iteration — materialize it once instead
    # of re-running the upstream derivation per round, PRE-PARTITIONED
    # by src: Dataset.checkpoint/localCheckpoint preserve the physical
    # plan's outputPartitioning in the LogicalRDD, so every round's
    # edges⋈ranks join exchanges only the node-sized rank frame, never
    # the edge list. Before this, each iteration reshuffled the full
    # edge frame — at sf100-equivalent (600M edges) 4 iterations
    # accumulated ~45GB of shuffle files and exhausted local disk; on a
    # cluster the same reshuffle is the dominating network cost. The
    # out-degree frame inherits the src partitioning through its
    # groupBy, making that join exchange-free on both sides.
    edges = materialize(
        edges.select(src_col, dst_col).repartition(F.col(src_col))
    )
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .union(edges.select(F.col(dst_col)))
        .distinct()
    )
    out_deg = materialize(
        edges.groupBy(src_col).agg(F.count("*").alias("out_deg"))
    )
    with Rounds(edges, nodes.persist(), out_deg) as rounds:
        n = nodes.count()
        if n == 0:
            # Empty edge list: no nodes, no ranks. Keep the (node, rank)
            # contract with zero rows.
            return rounds.result(nodes.select("node", F.lit(0.0).alias("rank")))
        ranks = nodes.select("node", (F.lit(1.0) / n).alias("rank"))
        for _ in range(iters):
            contribs = (
                edges.join(ranks, edges[src_col] == ranks["node"])
                .join(out_deg, src_col)
                .select(
                    F.col(dst_col).alias("node"),
                    (F.col("rank") / F.col("out_deg")).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("in_sum"))
            )
            # dangling mass: rank held by nodes with no outgoing edges
            dangling = (
                ranks.join(out_deg, ranks["node"] == out_deg[src_col], "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
            )
            ranks = (
                nodes.join(contribs, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (F.coalesce(F.col("in_sum"), F.lit(0.0)) + F.col("dm") / n)
                    ).alias("rank"),
                )
            )
            # Truncate lineage AND reset estimated stats every round (same
            # discipline as dedup_clusters): ranks feeds BOTH next-round
            # branches (contribs and dangling), so without truncation the
            # plan re-executes all prior rounds per branch — measured 366
            # file scans for 4 rounds — and a bare localCheckpoint carries
            # the compounded join-size estimate forward, doubling its BigInt
            # digit count per round (see iterutil docstring). On a cluster
            # use reliable checkpointing instead.
            ranks = rounds.advance(materialize(ranks))
        out = ranks.select(
            "node", F.round(F.col("rank") + F.lit(1e-9), round_to).alias("rank")
        )
        return rounds.result(out)


def feature_hash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 256,
) -> DataFrame:
    """Hashing-trick featurizer (Weinberger et al. 2009, sklearn's
    HashingVectorizer): token → feature index = h(token) mod dim, with
    an independent hash bit choosing ±1 so colliding tokens cancel in
    expectation instead of accumulating bias. Emits the sparse
    representation (id, feat, v) — the form a downstream trainer or
    similarity join actually consumes; densify only at the model
    boundary.

    Stateless by construction — no vocabulary to build, broadcast, or
    version, which is the property that makes it the featurizer of
    choice at corpus scale: any executor can featurize any shard with
    zero coordination. Plan shape: map-side explode + ONE keyed
    partial+final aggregate; output is bounded by rows × dim. Hash is
    md5 (identical hex on any engine — the oracle reproduces index and
    sign exactly).
    """
    from .llm.dedup import tokens_col

    tok = df.select(id_col, F.explode(tokens_col(text_col)).alias("__tk"))
    h = F.md5("__tk")
    feat = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % F.lit(dim)
    ).cast("int")
    sign = F.when(
        F.conv(F.substring(h, 9, 1), 16, 10).cast("int") % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        tok.groupBy(id_col, feat.alias("feat"))
        .agg(F.sum(sign).alias("v"))
    )


def als_fit(
    ratings: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item",
    rating_col: str = "rating",
    iters: int = 5,
    lamb: float = 0.1,
):
    """Alternating least squares matrix factorization with k=2 latent
    factors (Koren/Bell/Volinsky 2009, public) — the recommender-system
    fit, structured so the USER solve (the big side) is entirely
    engine-side:

    - item factors live on the driver (n_items × 2 floats — the same
      bounded-state discipline as kmeans/logreg) and broadcast into the
      plan as a literal lookup each half-step;
    - the user half-step solves each user's 2×2 ridge normal equations
      (A = Σ q qᵀ + λI, b = Σ q·r over the user's rated items) in
      CLOSED FORM as column arithmetic after ONE keyed aggregate — no
      UDF, no per-user driver work, scales with users;
    - the item half-step needs only Σ u uᵀ and Σ u·r per item: one
      keyed aggregate producing an n_items-row frame, solved on the
      driver (2×2 each).

    Per iteration: two aggregates over the ratings, one broadcast.
    Returns (item_factors: {item: (q1, q2)}, user_factors DataFrame
    (user, u1, u2))."""
    from pyspark.sql import functions as F

    items = [r[0] for r in ratings.select(item_col).distinct().orderBy(item_col).collect()]
    if not items:
        # No ratings: empty factor map + zero-row user-factor frame
        # (create_map over an empty item set is untypable, so guard).
        empty_users = ratings.limit(0).select(
            F.col(user_col), F.lit(0.0).alias("u1"), F.lit(0.0).alias("u2")
        )
        return {}, empty_users
    # deterministic non-degenerate init
    q = {it: (1.0, 0.1 * (i + 1)) for i, it in enumerate(items)}

    def user_solve(qmap):
        q1 = F.create_map(
            *[x for it, v in qmap.items() for x in (F.lit(it), F.lit(v[0]))]
        )[F.col(item_col)]
        q2 = F.create_map(
            *[x for it, v in qmap.items() for x in (F.lit(it), F.lit(v[1]))]
        )[F.col(item_col)]
        agg = ratings.groupBy(user_col).agg(
            F.sum(q1 * q1).alias("a11"),
            F.sum(q1 * q2).alias("a12"),
            F.sum(q2 * q2).alias("a22"),
            F.sum(q1 * F.col(rating_col)).alias("b1"),
            F.sum(q2 * F.col(rating_col)).alias("b2"),
        )
        a11 = F.col("a11") + F.lit(lamb)
        a22 = F.col("a22") + F.lit(lamb)
        det = a11 * a22 - F.col("a12") * F.col("a12")
        return agg.select(
            user_col,
            ((a22 * F.col("b1") - F.col("a12") * F.col("b2")) / det).alias("u1"),
            ((a11 * F.col("b2") - F.col("a12") * F.col("b1")) / det).alias("u2"),
        )

    users = None
    for _ in range(iters):
        users = user_solve(q)
        joined = ratings.join(F.broadcast(users), user_col)
        rows = (
            joined.groupBy(item_col)
            .agg(
                F.sum(F.col("u1") * F.col("u1")).alias("s11"),
                F.sum(F.col("u1") * F.col("u2")).alias("s12"),
                F.sum(F.col("u2") * F.col("u2")).alias("s22"),
                F.sum(F.col("u1") * F.col(rating_col)).alias("t1"),
                F.sum(F.col("u2") * F.col(rating_col)).alias("t2"),
            )
            .collect()
        )
        q = {}
        for r in rows:
            s11, s22 = r["s11"] + lamb, r["s22"] + lamb
            det = s11 * s22 - r["s12"] * r["s12"]
            q[r[item_col]] = (
                (s22 * r["t1"] - r["s12"] * r["t2"]) / det,
                (s11 * r["t2"] - r["s12"] * r["t1"]) / det,
            )
    # final user half-step so the returned user factors are the ridge
    # solution AGAINST the returned item factors (mutually consistent)
    users = user_solve(q)
    return q, users


def als_fit_distributed(
    ratings: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item",
    rating_col: str = "rating",
    iters: int = 5,
    lamb: float = 0.1,
):
    """Fully distributed ALS (k=2): BOTH factor frames stay DataFrames —
    no driver-side item state at all, unlike `als_fit`, whose
    n_items×2 driver map is fine for a bounded catalog but not for a
    real one (VERDICT r9 watch-list). Each half-step is one join + one
    keyed aggregate, and the 2×2 ridge normal equations are solved in
    CLOSED FORM as column arithmetic on both sides (the item solve no
    longer routes through the driver). Per iteration: two shuffles on
    the natural keys, lineage reset per round (iterutil.materialize,
    same discipline as the CC loop) so the plan never grows with
    iteration count. Factor joins are plain equi-joins: Catalyst
    broadcasts whichever side is small enough, and at catalog scale
    both sides shuffle-partition on their keys — exactly the 100 TB
    shape.

    Returns (item_factors DataFrame (item, q1, q2),
             user_factors DataFrame (user, u1, u2))."""

    def solve(joined, key, f1, f2):
        agg = joined.groupBy(key).agg(
            F.sum(F.col(f1) * F.col(f1)).alias("a11"),
            F.sum(F.col(f1) * F.col(f2)).alias("a12"),
            F.sum(F.col(f2) * F.col(f2)).alias("a22"),
            F.sum(F.col(f1) * F.col(rating_col)).alias("b1"),
            F.sum(F.col(f2) * F.col(rating_col)).alias("b2"),
        )
        a11 = F.col("a11") + F.lit(lamb)
        a22 = F.col("a22") + F.lit(lamb)
        det = a11 * a22 - F.col("a12") * F.col("a12")
        return agg.select(
            key,
            ((a22 * F.col("b1") - F.col("a12") * F.col("b2")) / det).alias("x1"),
            ((a11 * F.col("b2") - F.col("a12") * F.col("b1")) / det).alias("x2"),
        )

    # deterministic non-degenerate init, engine-side and embarrassingly
    # parallel: q2 seeded from a per-item hash (no global row_number
    # funnel — a real catalog's item frame must not serialize through
    # one window task just to pick starting values)
    # Materialize the ratings ONCE as two co-partitioned copies — the
    # same discipline as pagerank's pre-partitioned edge list, doubled
    # because ALS alternates join keys (this is what MLlib's ALS
    # in/out-block structure does). Without it, every half-step (a) re-
    # executes the caller's upstream ratings derivation and (b)
    # reshuffles the full ratings frame on item or user; with it,
    # checkpoint preserves each copy's outputPartitioning, so every
    # half-step join exchanges only the node-sized FACTOR frame and the
    # per-iteration shuffle cost is bounded by users+items, not
    # ratings. Storage trade: 2× the ratings in checkpoint blocks —
    # the standard ALS trade at any scale.
    base = ratings.select(user_col, item_col, rating_col)
    by_item = materialize(base.repartition(F.col(item_col)))
    by_user = materialize(by_item.repartition(F.col(user_col)))
    item_f = (
        by_item.select(item_col)
        .distinct()
        .select(
            item_col,
            F.lit(1.0).alias("q1"),
            (
                0.1
                * (F.pmod(F.xxhash64(F.col(item_col)), F.lit(997)) + 1).cast(
                    "double"
                )
            ).alias("q2"),
        )
    )
    # r11 optimization round: ONE materialization per iteration, at the
    # item_f round boundary (the checkpointInterval discipline of
    # MLlib's ALS). The user half-step frame has exactly ONE consumer —
    # the item solve of the same iteration — so checkpointing it bought
    # nothing: no branch to protect from re-execution, and its lineage
    # (two joins + two aggregates against already-checkpointed frames
    # with real stats) is depth-bounded, so the compounding-estimate
    # trap (iterutil docstring) never engages. Same for the init item
    # frame (single consumer: iteration 1). Dataflow and results are
    # unchanged — both half-steps just execute inside one action.
    # Measured sf0.1 interleaved A/B (the entry wall carries ±25%
    # session noise, so single-sample comparisons mislead — see
    # OPTIMIZATION_r11.md): fused 5.05/4.20s vs per-half-step
    # 6.62/5.65s; at scale it deletes 6 cache-write+read cycles of the
    # factor frames per fit.
    with Rounds(by_item, by_user) as rounds:
        for _ in range(iters):
            ju = by_item.join(item_f, item_col)
            users = solve(ju, user_col, "q1", "q2").select(
                user_col, F.col("x1").alias("u1"), F.col("x2").alias("u2")
            )
            ji = by_user.join(users, user_col)
            item_f = solve(ji, item_col, "u1", "u2").select(
                item_col, F.col("x1").alias("q1"), F.col("x2").alias("q2")
            )
            item_f = rounds.advance(materialize(item_f))
        # final user half-step: returned user factors are the ridge solution
        # AGAINST the returned item factors (mutually consistent)
        users = materialize(
            solve(by_item.join(item_f, item_col), user_col, "q1", "q2").select(
                user_col, F.col("x1").alias("u1"), F.col("x2").alias("u2")
            )
        )
        return rounds.result(item_f), rounds.result(users)


def als_rmse_distributed(
    ratings: DataFrame,
    item_factors: DataFrame,
    user_factors: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item",
    rating_col: str = "rating",
):
    """Reconstruction RMSE with both factor frames distributed: two
    equi-joins + one aggregate, no driver state. None on an empty
    factorization."""
    from pyspark.sql import functions as F

    pred = (
        ratings.join(item_factors, item_col)
        .join(user_factors, user_col)
        .select(
            (
                F.col(rating_col)
                - (F.col("u1") * F.col("q1") + F.col("u2") * F.col("q2"))
            ).alias("e")
        )
    )
    row = pred.agg(F.sqrt(F.avg(F.col("e") * F.col("e")))).first()
    return row[0] if row is not None else None


def als_rmse(
    ratings: DataFrame,
    item_factors,
    user_factors: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item",
    rating_col: str = "rating",
):
    """Reconstruction RMSE of the factorization — engine-side join +
    one aggregate; the model-quality scalar. None when the factorization
    is empty (no ratings) — there is no reconstruction to score."""
    from pyspark.sql import functions as F

    if not item_factors:
        return None
    q1 = F.create_map(
        *[x for it, v in item_factors.items() for x in (F.lit(it), F.lit(v[0]))]
    )[F.col(item_col)]
    q2 = F.create_map(
        *[x for it, v in item_factors.items() for x in (F.lit(it), F.lit(v[1]))]
    )[F.col(item_col)]
    pred = ratings.join(F.broadcast(user_factors), user_col).select(
        (F.col(rating_col) - (F.col("u1") * q1 + F.col("u2") * q2)).alias("e")
    )
    return pred.agg(F.sqrt(F.avg(F.col("e") * F.col("e")))).first()[0]
