"""The declared query inventory (SURVEY.md §2), one entry per operator ID.

Each entry pairs an idiomatic-PySpark implementation with the ANSI-SQL
oracle DuckDB runs on the same parquet tables. Column names are aliased
identically on both sides (the driver hashes values after sorting columns
by name). Floating aggregates are rounded identically on both sides to
absorb summation-order ULP differences (SURVEY.md §7).

Reference provenance for each operator is cited in the Parity docstrings
as reference-file:line (see /root/reference)."""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import genutil
from .operators import aggregates as agg_ops
from .operators import relational as rel_ops
from .operators import windows as win_ops
from .operators.windows import business_day_snap
from .registry import TABLE_NAMES, load_table, register_views


@dataclass
class Parity:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


PARITY: dict[str, Parity] = {}


def parity(name: str, sql: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn):
        PARITY[name] = Parity(fn=fn, sql=sql, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


# Cross-engine ROUND tie-breaker: Spark rounds the shortest decimal repr of
# a double (HALF_UP on the string) while DuckDB rounds the binary value, so
# a value whose repr terminates in ...5 at the round position (e.g. 0.73135
# → 0.7314 vs 0.7313) diverges. Adding a sub-grid epsilon on BOTH sides
# before rounding breaks exact-decimal ties without moving anything else.
# Needed only for avg/quantile/corr/ratio outputs (sums of 2-decimal data
# rounded at 2 are already on-grid). See SURVEY.md §7 "nondeterministic
# float reduction".
EPS = 1e-9


def r_(col, n: int):
    """Tie-safe round for ratio-like doubles. Oracle mirror:
    (ROUND(x + 1e-9, n) + 0.0) — the + 0.0 normalizes IEEE -0.0,
    which DuckDB's ROUND emits for near-zero negatives while Spark's
    BigDecimal-backed round never does (BigDecimal has no signed
    zero), so a measure in (-5e-7-1e-9, -1e-9) would otherwise render
    '-0.0' vs '0.0' under the driver's string canonicalizer. Found at
    sf1 on llm_sample_weighted, then proven reachable for the bare
    helper contract by hypothesis (tests/test_round_epsilon.py:
    ROUND(-0.005 + 1e-9, 2)); the engine side needs no normalization
    (the same string-level test pins that Spark's round yields +0.0
    there)."""
    return F.round(col + F.lit(EPS), n)


# Exact money arithmetic at long speed (PERF.md round-2/2b audits): the
# testdata's money columns are 2-decimal-intended values stored as
# doubles. SUM(double) is order-dependent, so at large SFs a group total
# can land on opposite sides of a rounding boundary across engines
# (observed at sf0.1 on tpch_q7/q9). Round 2 fixed that with
# DECIMAL(18,2) casts (TPC-H's own semantics) but paid ~2x on every
# money aggregate — Spark's decimal sum runs outside the vectorized
# long/double fast path. Round 2b keeps the exactness and recovers the
# speed by summing *integer units* (1e-2 / 1e-4 / 1e-6 units) as longs:
#
#   * per row: units = ROUND(x*100) AS BIGINT — exact for 2-decimal
#     data; unit products stay integers (revenue = 1e-4 units, charge =
#     1e-6 units) with magnitudes <= ~1e11 per row, far inside the
#     int64- and double-exact ranges;
#   * per group: the sum runs as TWO long accumulators (hi = units >>
#     20, lo = units & 0xFFFFF) recombined in decimal AFTER aggregation.
#     Each accumulator stays inside int64 to ~9e12 rows per group at
#     TPC-H magnitudes (lo < N*2^20; hi < N*max_units/2^20) — far past
#     100 TB (Q1 at sf100k is ~1.5e11 rows/group); beyond that Spark's
#     ANSI mode raises rather than corrupts;
#   * the result is surfaced as double(S)/10^s — one int→double
#     rounding of the exact unit total, then an IEEE division by the
#     exactly-representable power of ten; verified bit-identical
#     Spark-vs-DuckDB across 2^53-boundary, negative, and beyond-int64
#     totals. Integer sums are order-independent, so the value is
#     bit-identical under any partitioning at any scale.
#
# The oracle mirrors the same per-row unit arithmetic; DuckDB sums
# BIGINT into HUGEINT (exact, no split needed — sum(hi)*1e6 + sum(lo)
# == sum(units) identically) and surfaces through the same
# double(S)/10^s. (The r2–r8 formulation pinned DECIMAL(38,s) and cast
# that to DOUBLE; DuckDB's decimal→double multiplies the int128 by an
# inexact 10^-s — a second rounding that diverged by one ulp once
# totals crossed 2^53 units. Caught by the r9 sf1 sweep on tpch_q1.)
def u2(name: str):
    """2-decimal money/rate column → exact integer units (×100), long.

    floor(x·100 + 0.5), not ROUND: Spark's ROUND on double routes
    through a per-row BigDecimal.setScale — measured 1.65× slower than
    the pure-codegen floor on the Q1 shape at sf0.1. For 2-decimal-
    intended data the two are bit-identical (x·100 lands within float
    error of an integer, never on a .5 tie, so half-up-away-from-zero
    and floor(+0.5) agree for both signs — verified 0 mismatches across
    every money column at sf0.001/0.01/0.1, negatives included). The
    oracle keeps DuckDB's ROUND; the parity gate enforces equality.

    Representability guard (same rationale as genutil.milli_units): a
    value whose ×100 scaling has no int64 representation — NaN, ±Inf,
    |x| ≥ 2⁶³/100 — converts to NULL (a skipped accumulator cell)
    rather than a CLAMPED Long.MAX from Spark's FLOOR(DOUBLE), which
    would blow up the downstream SUM with an ANSI overflow. Oracle
    mirror: TRY_CAST(ROUND(x·100) AS BIGINT). The guard is two double
    compares in codegen — negligible next to the multiply."""
    v = F.col(name) * F.lit(100)
    in_range = (v >= F.lit(-9223372036854775808.0)) & (
        v < F.lit(9223372036854775808.0)
    )
    return (
        F.when(in_range, F.floor(v + F.lit(0.5)))
        .otherwise(F.lit(None))
        .cast("long")
    )


def urev():
    """Revenue l_extendedprice·(1−l_discount) in exact 1e-4 units."""
    return u2("l_extendedprice") * (F.lit(100) - u2("l_discount"))


def exact_sum(units):
    """Exact DECIMAL total of an integer column at long speed — usum's
    split accumulator: two long sums, hi = units >> 20 and lo = units &
    0xFFFFF, recombined in decimal. Order- and partitioning-independent,
    exact while each long sum stays in int64."""
    lo = units.bitwiseAND(F.lit((1 << 20) - 1))
    hi = F.shiftright(units, 20)
    return (
        F.sum(hi).cast("decimal(31,0)") * F.lit(1 << 20).cast("decimal(7,0)")
        + F.sum(lo).cast("decimal(31,0)")
    )


def usum(units, scale: int):
    """Exact order-independent money sum at long speed (see block
    comment above): hi/lo split-accumulator long sums recombined in
    decimal, surfaced as double(S)/10^scale. `units` must be an
    integer expression in 10^-scale units.

    The split is bitwise (hi = units >> 20, lo = units & 0xFFFFF —
    x == (x>>20)·2^20 + (x & 0xFFFFF) holds for all ints under
    arithmetic shift): shift/mask beat pmod + divide + cast by ~7% on
    the Q1 shape. Same envelope as the 1e6 split: lo < N·2^20 keeps
    int64 to N ≈ 8.8e12 rows/group.

    The final value is surfaced as DOUBLE via `double(S) / 10^scale`:
    the exact integer unit total S takes ONE int→double rounding
    (round-to-nearest on both engines — verified bit-identical Spark
    vs DuckDB across 2^53-boundary, negative, and beyond-int64
    values), then an IEEE division by the exactly-representable
    power of ten (scale ≤ 15). The earlier surfacing rounded a
    DECIMAL(38,scale) instead, and DuckDB's decimal→double multiplies
    the int128 by an inexact 10^-scale — a SECOND rounding that
    diverged from Spark by one ulp once totals crossed 2^53 units
    (caught by the r9 sf1 sweep on tpch_q1's sum_charge: 2.8e16 units
    at scale 6). Unlike DECIMAL output, both pandas bridges render
    the double with the identical shortest repr ('297175.0', never
    '297175.00'), which is what the driver's string canonicalizer
    hashes — decimal output cost us 3 hash rows in round 2 on
    trailing-zero totals."""
    return exact_sum(units).cast("double") / F.lit(float(10**scale))


def U2(col: str) -> str:
    """Oracle-side mirror of u2 (SQL fragment). TRY_CAST mirrors u2's
    representability guard: NaN/Inf/overflowing money values become
    NULL-skipped accumulator cells on both engines."""
    return f"TRY_CAST(ROUND(({col}) * 100) AS BIGINT)"


def uband(col_name: str, bound: int = 1 << 31):
    """Engine-side exact-stats measure band (see agg_regression): TRUE
    iff the column's integer units exist (finite, in-int64) and
    -bound < units < bound. Open comparisons, NOT F.abs(): u2 can
    legally produce int64 min, whose abs() overflows under ANSI."""
    u = u2(col_name)
    return u.isNotNull() & (u > F.lit(-bound)) & (u < F.lit(bound))


def UBAND(col: str, bound: int = 1 << 31) -> str:
    """Oracle-side mirror of uband (SQL fragment). Same open
    comparisons instead of ABS() — DuckDB's ABS(int64 min) raises."""
    unit = f"TRY_CAST(ROUND(({col}) * 100) AS BIGINT)"
    return (
        f"({unit} IS NOT NULL AND {unit} > -{bound} AND {unit} < {bound})"
    )


def UREV(a: str = "") -> str:
    """Oracle-side mirror of urev; `a` is an optional table alias."""
    p = f"{a}." if a else ""
    return f"({U2(p + 'l_extendedprice')} * (100 - {U2(p + 'l_discount')}))"


def USUM(expr: str, scale: int) -> str:
    """Oracle-side mirror of usum: the HUGEINT unit sum takes one
    int→double rounding, then an IEEE division by the exact power of
    ten — bit-identical to usum's double(S)/10^scale surfacing (see
    its docstring; the former DECIMAL(38,scale)→DOUBLE route
    double-rounded in DuckDB past 2^53 units)."""
    return f"(CAST(SUM({expr}) AS DOUBLE) / {float(10**scale)!r})"


def _scratch(sf_dir: str) -> str:
    d = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", ".scratch",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    d = os.path.abspath(d)
    os.makedirs(d, exist_ok=True)
    return d


# ---------------------------------------------------------------------------
# §2.1 Scans / sources / sinks
# ---------------------------------------------------------------------------


@parity(
    "scan_jdbc",
    sql="SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part",
    doc="Relational-table scan through a declared schema (ref: "
    "fill_postgresql.sql:1-10, trino/catalog/trinodemo.properties:1-4). "
    "Testdata stand-in: parquet with registry StructType.",
)
def scan_jdbc(spark, sf_dir):
    return _t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"
    )


@parity(
    "scan_document",
    sql="SELECT doc_id, text, lang, source, n_chars FROM documents",
    doc="Document-collection scan with sidecar-declared schema (ref: "
    "trino/catalog/mongodb.properties:3, fillMongoDB.ipynb:510-556).",
)
def scan_document(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@parity(
    "scan_kafka_json",
    sql="""
    -- event_date as VARCHAR: a NULL payload timestamp must render
    -- identically on both engines ('None', not pandas NaT). TRY_CAST:
    -- a missing/non-numeric k field extracts '' which has no INTEGER.
    SELECT event_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
           event_type, value,
           TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER) AS k
    FROM events
    """,
    doc="Kafka-topic-as-table scan: JSON payload decoded per declared field "
    "mapping incl. iso8601 date (ref: trino/kafka/stockdata.json:1-41, "
    "kafka.properties:2,5-6). Spark: from_json on the payload column.",
)
def scan_kafka_json(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    decoded = F.from_json(F.col("props"), "k INT")
    return ev.select(
        "event_id",
        F.to_date("ts").cast("string").alias("event_date"),
        "event_type",
        "value",
        decoded.getField("k").alias("k"),
    )


@parity(
    "scan_json_malformed",
    sql="""
    WITH src AS (
      SELECT i, (i % 7 = 3) AS corrupt, 2 * i AS v
      FROM range(0, 1000) r(i)
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
           CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN NOT corrupt THEN v ELSE 0 END) AS BIGINT) AS v_sum
    FROM src
    """,
    doc="Malformed-record tolerance on the JSON decode path: a landing "
    "file is written with a deterministic corruption pattern (every "
    "7th-ish line truncated mid-object), then scanned in PERMISSIVE "
    "mode with a _corrupt_record column — bad lines surface as NULL "
    "fields plus the raw line for quarantine instead of failing the "
    "job (the DROPMALFORMED/FAILFAST modes are the same reader knob). "
    "The oracle recomputes the expected good/corrupt/value totals from "
    "the generation rule, so a decoder that silently drops or "
    "mis-parses either class breaks the match. At 100 TB malformed "
    "rows are a certainty, not an edge case — the pipeline must "
    "quarantine, not crash.",
)
def scan_json_malformed(spark, sf_dir):
    path = os.path.join(_scratch(sf_dir), "jsonl_malformed")
    line = F.when(
        F.col("id") % 7 == 3,
        F.concat(F.lit('{"id":'), F.col("id").cast("string"), F.lit(',"v":')),
    ).otherwise(
        F.concat(
            F.lit('{"id":'),
            F.col("id").cast("string"),
            F.lit(',"v":'),
            (F.col("id") * 2).cast("string"),
            F.lit("}"),
        )
    )
    spark.range(1000).select(line.alias("value")).write.mode("overwrite").text(path)
    scanned = spark.read.schema(
        "id BIGINT, v BIGINT, _corrupt_record STRING"
    ).json(path)
    return scanned.agg(
        F.count("*").alias("n_rows"),
        F.count("id").alias("n_good"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.coalesce(F.sum("v"), F.lit(0)).cast("long").alias("v_sum"),
    )


@parity(
    "scan_kafka_meta",
    sql="SELECT event_id, epoch_ns(ts)//1000000 AS ts_ms, event_type FROM events",
    doc="Broker metadata columns exposed alongside payload (ref: "
    "kafka.properties:4 hide-internal-columns=false; used as w._timestamp "
    "KubeflowStockPricePrediction.ipynb:786).",
)
def scan_kafka_meta(spark, sf_dir):
    return _t(spark, sf_dir, "events").select(
        "event_id", F.expr("ts_ns div 1000000").alias("ts_ms"), "event_type"
    )


@parity(
    "scan_csv_header",
    sql="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="CSV scan with header row + inference (ref: fillMongoDB.ipynb:176-185). "
    "Round-trips nation through CSV (int/string only → lossless).",
)
def scan_csv_header(spark, sf_dir):
    path = os.path.join(_scratch(sf_dir), "nation_csv")
    # lossless text-boundary options (same rationale as sink_csv):
    # explicit NULL marker keeps NULL distinct from '', and the writer's
    # DEFAULT ignoreLeadingWhiteSpace/ignoreTrailingWhiteSpace=true
    # would silently TRIM padded names on write
    (
        _t(spark, sf_dir, "nation")
        .write.mode("overwrite")
        .options(
            nullValue="\\N",
            emptyValue='""',
            ignoreLeadingWhiteSpace=False,
            ignoreTrailingWhiteSpace=False,
        )
        .csv(path, header=True)
    )
    # multiLine: the writer QUOTES fields containing record separators,
    # but the default reader still splits on every newline — a name with
    # an embedded \n silently becomes two half-rows otherwise
    return (
        spark.read.options(multiLine=True, nullValue="\\N", emptyValue="")
        .csv(path, header=True, inferSchema=True)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@parity(
    "scan_csv_typed_header",
    sql="SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate FROM orders",
    doc="CSV with typed header semantics: explicit StructType + dateFormat "
    "(ref: demo_data/weather_ny_2012-2022.csv:1 header "
    "`_id.date_ms(yyyy-MM-dd)`, vanilla_k8s...txt:248).",
)
def scan_csv_typed_header(spark, sf_dir):
    path = os.path.join(_scratch(sf_dir), "orders_typed_csv")
    (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
        .write.mode("overwrite")
        .csv(path, header=True)
    )
    return spark.read.csv(
        path,
        header=True,
        schema="o_orderkey BIGINT, o_orderdate DATE",
        dateFormat="yyyy-MM-dd",
    ).select(
        "o_orderkey", F.col("o_orderdate").cast("string").alias("o_orderdate")
    )


@parity(
    "sink_csv",
    sql="SELECT o_orderstatus, COUNT(*) AS cnt FROM orders GROUP BY o_orderstatus",
    doc="Query result → CSV artifact boundary (ref: "
    "KubeflowStockPricePrediction.ipynb:184 df.to_csv) and back.",
)
def sink_csv(spark, sf_dir):
    path = os.path.join(_scratch(sf_dir), "status_counts_csv")
    (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"))
        .write.mode("overwrite")
        # explicit NULL marker: CSV's default empty-string rendering
        # conflates NULL with '' on read-back — a real empty-string
        # group would silently merge with the NULL group
        .options(nullValue="\\N", emptyValue='""')
        .csv(path, header=True)
    )
    return spark.read.options(nullValue="\\N", emptyValue="").csv(
        path, header=True, schema="o_orderstatus STRING, cnt BIGINT"
    )


@parity(
    "scan_jsonl_pysource",
    sql="SELECT doc_id, text, lang, source, n_chars FROM documents",
    doc="Custom connector through the Spark 4 Python DataSource API "
    "(sources/pyjsonl.py): documents serialized to newline-delimited "
    "JSON part files, then scanned back through the registered "
    "`pyjsonl` format with a declared schema — the engine-extensibility "
    "twin of the reference's declared-mapping connector configs "
    "(trino/kafka/stockdata.json field mappings; catalog/*.properties). "
    "partitions() yields one InputPartition per part file, so the scan "
    "parallelizes across executors like any built-in source.",
)
def scan_jsonl_pysource(spark, sf_dir):
    from .sources import pyjsonl

    pyjsonl.register(spark)
    docs = _t(spark, sf_dir, "documents")
    path = os.path.join(_scratch(sf_dir), "documents_jsonl")
    (
        docs.repartition(4)
        .select(F.to_json(F.struct(*docs.columns)).alias("value"))
        .write.mode("overwrite")
        .text(path)
    )
    return (
        spark.read.format("pyjsonl")
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("path", path)
        .load()
    )


@parity(
    "sink_kafka_json",
    sql="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    doc="Rows → JSON messages → typed rows round trip (ref producers: "
    "stockDataProducer.py:36-53 value_serializer=json.dumps; decode per "
    "trino/kafka table mapping). Spark: to_json(struct(*)) ⇄ from_json.",
)
def sink_kafka_json(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier")
    msg = sup.select(
        F.to_json(F.struct("s_suppkey", "s_name", "s_nationkey", "s_acctbal")).alias("value")
    )
    schema = "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    return msg.select(F.from_json("value", schema).alias("m")).select("m.*")


@parity(
    "sink_jdbc_copy",
    sql="""
    SELECT DISTINCT TRY_CAST(replace('$' || l_orderkey, '$', '') AS BIGINT) AS okey
    FROM lineitem
    """,
    doc="Bulk CSV→relational load incl. `sed 's/\\$//g'` money cleanup "
    "(ref: fill_postgresql.sql:12, openshift...txt:27-44). "
    "regexp_replace + try_cast so malformed rows null out, not fail.",
)
def sink_jdbc_copy(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    money = F.concat(F.lit("$"), F.col("l_orderkey").cast("string"))
    return (
        li.select(
            F.regexp_replace(money, r"\$", "").try_cast("bigint").alias("okey")
        ).distinct()
    )


def _derby_url(sf_dir: str, name: str) -> tuple[str, dict[str, str]]:
    """Embedded-Derby connection for the LIVE JDBC parity entries.

    Derby ships in Spark's own jars (derby-10.16.1.1.jar) so a real JDBC
    engine runs with no network — the closest this sandbox gets to the
    reference's live PostgreSQL catalog (trinodemo.properties:1-6).
    The db path is pid-scoped: a database directory must never be
    deleted while the owning JVM has it booted, and a crashed previous
    process must not block this one on a stale db.lck."""
    home = os.path.join(_scratch(sf_dir), "derby")
    os.makedirs(home, exist_ok=True)
    db = os.path.join(home, f"{name}_{os.getpid()}")
    return (
        f"jdbc:derby:{db};create=true",
        {"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )


@parity(
    "sink_jdbc_live",
    sql="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="REAL JDBC bulk load + read-back through Spark's jdbc source "
    "against embedded Derby — the reference's PostgreSQL catalog write "
    "path (trino/catalog/trinodemo.properties:1-6, fill_postgresql.sql:12) "
    "exercised against a live relational engine, not a parquet stand-in. "
    "Batched INSERTs (sources/jdbc.py write_table), single-task dim "
    "read-back. At scale the dim read stays single-task by design; facts "
    "take the partitioned path (scan_jdbc_live).",
)
def sink_jdbc_live(spark, sf_dir):
    from trino_demo_spark.sources import jdbc as J

    url, drv = _derby_url(sf_dir, "nation")
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    J.write_table(nat, url, "nation_dim", mode="overwrite", **drv)
    return J.read_table(spark, url, "nation_dim", **drv)


@parity(
    "scan_jdbc_live",
    sql="""
    -- non-finite money NULLs at the relational sink (Derby DOUBLE
    -- rejects NaN/Infinity with SQLDataException — a real relational
    -- engine constraint, same policy as the exact-unit accumulators);
    -- + 0.0 normalizes -0.0, which Derby canonicalizes on write (the
    -- llm_select_dsir negative-zero discipline)
    SELECT o_orderkey, o_custkey,
           CASE WHEN isfinite(o_totalprice) THEN o_totalprice + 0.0 END
             AS o_totalprice
    FROM orders
    WHERE o_custkey < 500
    """,
    doc="REAL partitioned-parallel JDBC fact scan with predicate pushdown "
    "against embedded Derby (ref: trinodemo.properties:1-6 — Trino "
    "parallelizes the Postgres scan internally; Spark exposes it as "
    "partitionColumn/bounds, sources/jdbc.py read_table). 4 range-bounded "
    "queries over o_orderkey; the o_custkey filter is REQUIRED to reach "
    "the remote scan (runtime PushedFilters guard — the JDBC analog of "
    "parquet pushdown), so the driver row proves the scan shape, not "
    "just the values. Non-finite money NULLs at the sink: Derby's "
    "DOUBLE domain excludes NaN/Infinity (SQLDataException on write), "
    "so the hostile-orders corpus forces the declared policy.",
)
def scan_jdbc_live(spark, sf_dir):
    from trino_demo_spark.sources import jdbc as J

    url, drv = _derby_url(sf_dir, "orders")
    price = F.col("o_totalprice")
    finite = (
        price.isNotNull()
        & (price > F.lit(float("-inf")))
        & (price < F.lit(float("inf")))
    )  # NaN sorts above +inf in Spark, so both guards exclude it
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        # + 0.0: IEEE -0.0 + 0.0 = +0.0 on both engines (Derby
        # canonicalizes the sign bit on write; DuckDB keeps it)
        F.when(finite, price + F.lit(0.0)).alias("o_totalprice"),
    )
    J.write_table(orders, url, "orders_fact", mode="overwrite", **drv)
    bounds = orders.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).first()  # 1-row driver state: partition bounds for the range scan
    fact = J.read_table(
        spark, url, "orders_fact",
        partition_column="o_orderkey",
        lower_bound=int(bounds["lo"]), upper_bound=int(bounds["hi"]) + 1,
        num_partitions=4, **drv,
    ).filter(F.col("o_custkey") < 500)
    plan = fact._jdf.queryExecution().executedPlan().toString()
    if "PushedFilters" not in plan or "LessThan" not in plan:
        raise RuntimeError(
            "scan_jdbc_live: o_custkey predicate did not push into the "
            "remote JDBC scan — filtering in Spark instead of the DB"
        )
    if fact.rdd.getNumPartitions() != 4:
        raise RuntimeError(
            "scan_jdbc_live: range-partitioned read did not fan out to "
            "4 bound-split queries"
        )
    return fact


@parity(
    "catalog_ops",
    sql="SELECT * FROM (VALUES "
    + ", ".join(f"('{t}')" for t in sorted(TABLE_NAMES))
    + ") t(table_name)",
    doc="SHOW CATALOGS/TABLES smoke surface (ref: "
    "vanilla_k8s_trino_demo_installation.txt:764-773). Registers all "
    "catalog tables as views and lists them from the session catalog.",
)
def catalog_ops(spark, sf_dir):
    register_views(spark, sf_dir)
    listed = sorted(
        t.name for t in spark.catalog.listTables() if t.name in TABLE_NAMES
    )
    return spark.createDataFrame([(n,) for n in listed], "table_name string")


# ---------------------------------------------------------------------------
# §2.2 Projections / filters / predicates
# ---------------------------------------------------------------------------


@parity(
    "project_cols",
    sql="SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate, "
    "o_totalprice, o_orderstatus FROM orders",
    doc="Explicit column list (ref: localTrinoTest.ipynb:119 9-col select).",
)
def project_cols(spark, sf_dir):
    # date as VARCHAR: a NULL o_orderdate must render identically on
    # both engines ('None', not pandas NaT)
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_date("o_orderdate").cast("string").alias("o_orderdate"),
        "o_totalprice",
        "o_orderstatus",
    )


@parity(
    "project_drop",
    sql="SELECT p_partkey, p_name, p_brand, p_retailprice FROM part",
    doc="Drop columns (ref: fillMongoDB.ipynb:183-185 drops TSUN/WT*).",
)
def project_drop(spark, sf_dir):
    return _t(spark, sf_dir, "part").drop("p_type", "p_size")


@parity(
    "project_rename",
    sql="SELECT n_nationkey AS nkey, n_name AS nname, n_regionkey AS rkey FROM nation",
    doc="Positional rename of result columns (ref: localTrinoTest.ipynb:123 "
    "df.columns = [...]).",
)
def project_rename(spark, sf_dir):
    return _t(spark, sf_dir, "nation").toDF("nkey", "nname", "rkey")


@parity(
    "project_const",
    sql="SELECT r_regionkey, r_name, CAST(0.0 AS DOUBLE) AS close_const FROM region",
    doc="Insert constant column (ref: localTrinoTest.ipynb:1484 Close=0).",
)
def project_const(spark, sf_dir):
    return _t(spark, sf_dir, "region").withColumn("close_const", F.lit(0.0))


@parity(
    "project_arith",
    sql="""
    SELECT l_orderkey, l_linenumber,
           (l_tax + l_discount) / 2.0 AS mid_rate,
           l_extendedprice * (1 - l_discount) AS revenue
    FROM lineitem
    """,
    doc="Derived arithmetic columns (ref: weatherProducer.py:24,33 "
    "tavg=(min+max)/2; localTrinoTest.ipynb:946 residuals).",
)
def project_arith(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        ((F.col("l_tax") + F.col("l_discount")) / F.lit(2.0)).alias("mid_rate"),
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("revenue"),
    )


@parity(
    "filter_date_lt",
    sql="SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice "
    "FROM orders WHERE o_orderdate < DATE '1998-01-01'",
    doc="Date-literal `<` predicate (ref: localTrinoTest.ipynb:121 "
    "WHERE a.Date < date '2022-09-01'). Pushed to the parquet scan.",
)
def filter_date_lt(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
        .select(
            "o_orderkey", F.to_date("o_orderdate").alias("o_orderdate"), "o_totalprice"
        )
    )


@parity(
    "filter_date_gt",
    sql="SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice "
    "FROM orders WHERE o_orderdate > DATE '2000-06-01'",
    doc="Date-literal `>` predicate (ref: localTrinoTest.ipynb:1186,1476).",
)
def filter_date_gt(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") > F.lit("2000-06-01").cast("date"))
        .select(
            "o_orderkey", F.to_date("o_orderdate").alias("o_orderdate"), "o_totalprice"
        )
    )


@parity(
    "filter_conj",
    sql="SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderstatus "
    "FROM orders WHERE o_orderdate > DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'",
    doc="Conjunction of range predicates (ref: "
    "KubeflowStockPricePrediction.ipynb:788 a.date > X AND w.date < Y).",
)
def filter_conj(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") > F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
        )
        .select(
            "o_orderkey", F.to_date("o_orderdate").alias("o_orderdate"), "o_orderstatus"
        )
    )


@parity(
    "filter_str_eq",
    sql="SELECT c_custkey, c_name, c_mktsegment FROM customer "
    "WHERE c_mktsegment = 'BUILDING'",
    doc="String equality filter (ref: fillMongoDB.ipynb:182 "
    "NAME == 'LAGUARDIA AIRPORT, NY US').",
)
def filter_str_eq(spark, sf_dir):
    return (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@parity(
    "filter_notnull",
    sql="""
    -- NOT isnan: Spark's na.drop (pandas dropna semantics) also drops
    -- NaN measures, not just SQL NULLs
    SELECT event_id, v FROM (
      SELECT event_id, CASE WHEN value < 1 THEN NULL ELSE value END AS v FROM events
    ) WHERE v IS NOT NULL AND NOT isnan(v)
    """,
    doc="dropna over a nullable measure (ref: localTrinoTest.ipynb:1193,1483).",
)
def filter_notnull(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = F.when(F.col("value") < 1, F.lit(None)).otherwise(F.col("value"))
    return ev.select("event_id", v.alias("v")).na.drop(subset=["v"])


@parity(
    "null_fill",
    sql="""
    -- isnan: Spark's na.fill treats NaN as missing (the pandas fillna
    -- semantics this op re-expresses) — the oracle must too
    SELECT event_id,
           COALESCE(CASE WHEN value < 1 OR isnan(value) THEN NULL ELSE value END, 0.0) AS v_filled
    FROM events
    """,
    doc="fillna(0) over NULL-ish values (ref: fillMongoDB.ipynb:187, "
    "localTrinoTest.ipynb:127 'NaN'→0; string-sentinel path unit-tested in "
    "functions.scalars.normalize_nullish).",
)
def null_fill(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = F.when(F.col("value") < 1, F.lit(None)).otherwise(F.col("value"))
    return ev.select("event_id", v.alias("v")).na.fill({"v": 0.0}).withColumnRenamed(
        "v", "v_filled"
    )


@parity(
    "cast_f32",
    # Spark CAST(DOUBLE AS FLOAT) is IEEE demotion: out-of-float-range
    # values become ±Inf (round-to-nearest overflow at 3.40282366…e38,
    # the float-max/2^128 midpoint); DuckDB's checked CAST raises, so
    # the oracle states the demotion explicitly.
    sql="""
    SELECT l_orderkey, l_linenumber,
           CAST(CASE WHEN isnan(l_quantity) THEN l_quantity
                     WHEN l_quantity >= 3.4028235677973366e38 THEN 'infinity'::DOUBLE
                     WHEN l_quantity <= -3.4028235677973366e38 THEN '-infinity'::DOUBLE
                     ELSE l_quantity END AS REAL) AS qty_f32,
           CAST(CASE WHEN isnan(l_extendedprice) THEN l_extendedprice
                     WHEN l_extendedprice >= 3.4028235677973366e38 THEN 'infinity'::DOUBLE
                     WHEN l_extendedprice <= -3.4028235677973366e38 THEN '-infinity'::DOUBLE
                     ELSE l_extendedprice END AS REAL) AS price_f32
    FROM lineitem
    """,
    doc="float32 casts of measure columns (ref: localTrinoTest.ipynb:128-129).",
)
def cast_f32(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("float").alias("qty_f32"),
        F.col("l_extendedprice").cast("float").alias("price_f32"),
    )


@parity(
    "parse_date",
    sql="""
    -- VARCHAR surface: the NULL-ts group must render identically on
    -- both engines ('None', not pandas NaT)
    SELECT event_date, COUNT(*) AS cnt FROM (
      SELECT CAST(CAST(strftime(ts, '%Y-%m-%d') AS DATE) AS VARCHAR) AS event_date FROM events
    ) GROUP BY event_date
    """,
    doc="Parse %Y-%m-%d strings to dates (ref: localTrinoTest.ipynb:124,1190, "
    "fillMongoDB.ipynb:357 strptime).",
)
def parse_date(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    d = F.to_date(F.date_format("ts", "yyyy-MM-dd"), "yyyy-MM-dd")
    return ev.select(d.cast("string").alias("event_date")).groupBy(
        "event_date"
    ).agg(F.count("*").alias("cnt"))


@parity(
    "bday_period",
    sql="""
    SELECT o_orderkey,
           CAST(CASE WHEN dayofweek(o_orderdate) = 6 THEN CAST(o_orderdate AS DATE) + 2
                WHEN dayofweek(o_orderdate) = 0 THEN CAST(o_orderdate AS DATE) + 1
                ELSE CAST(o_orderdate AS DATE) END AS VARCHAR) AS bday
    FROM orders
    """,
    doc="pandas to_period('B') business-day snap: weekends roll FORWARD to "
    "Monday (verified against pandas; ref: localTrinoTest.ipynb:1191,1481). "
    "Pure date arithmetic, no UDF.",
)
def bday_period(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        business_day_snap(F.col("o_orderdate")).cast("string").alias("bday"),
    )


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------

# Timeline helpers: an undated row belongs to no day — dropped at ingest
# on both engines (a NULL day otherwise sorts NULLS-FIRST into Spark
# running windows but NULLS-LAST in DuckDB, silently shifting every
# cumulative/split/as-of result downstream).
_DAILY_LI_SQL = """
  SELECT CAST(l_shipdate AS DATE) AS day, COUNT(*) AS n_items,
         ROUND(SUM(l_extendedprice), 2) AS ship_value
  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
"""
_DAILY_ORD_SQL = """
  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders,
         ROUND(SUM(o_totalprice), 2) AS order_value
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
"""


def _daily_lineitem(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").isNotNull())
        .groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("ship_value"),
        )
    )


def _daily_orders(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("order_value"),
        )
    )


@parity(
    "join_inner_eq",
    sql=f"""
    SELECT li.day, li.n_items, li.ship_value, o.n_orders, o.order_value
    FROM ({_DAILY_LI_SQL}) li
    JOIN ({_DAILY_ORD_SQL}) o ON li.day = o.day
    WHERE li.day < DATE '2000-01-01'
    ORDER BY li.day
    """,
    doc="FLAGSHIP (J1): cross-source inner equi-join on a date key with "
    "timestamp⋈date coercion + filter + sort (ref: localTrinoTest.ipynb:"
    "119-121 weatherny ⋈ applehistory ON w._id = a.Date). Here: daily "
    "lineitem ⋈ daily orders. Both sides pre-aggregate (map-side partial "
    "agg) before one shuffle each; the joined key space (~2.5k days) is "
    "tiny regardless of fact-table scale — the 100 TB-safe shape.",
    tags=("flagship",),
)
def join_inner_eq(spark, sf_dir):
    li = _daily_lineitem(spark, sf_dir)
    o = _daily_orders(spark, sf_dir)
    return (
        li.join(o, on="day", how="inner")
        .filter(F.col("day") < F.lit("2000-01-01").cast("date"))
        .select("day", "n_items", "ship_value", "n_orders", "order_value")
        .orderBy("day")
    )


@parity(
    "join_left_outer",
    sql=f"""
    SELECT li.day, li.n_items, o.n_orders, o.order_value
    FROM ({_DAILY_LI_SQL}) li
    LEFT OUTER JOIN ({_DAILY_ORD_SQL}) o ON li.day = o.day
    """,
    doc="LEFT OUTER JOIN over two stream-shaped tables (ref: "
    "localTrinoTest.ipynb:1184-1186 trinoweather LEFT OUTER JOIN "
    "trinostock). Ship-days past the last order date yield NULL right sides.",
)
def join_left_outer(spark, sf_dir):
    li = _daily_lineitem(spark, sf_dir)
    o = _daily_orders(spark, sf_dir)
    return li.join(o, on="day", how="left_outer").select(
        "day", "n_items", "n_orders", "order_value"
    )


@parity(
    "join_null_filter",
    sql=f"""
    SELECT li.day, li.n_items, o.n_orders
    FROM ({_DAILY_LI_SQL}) li
    LEFT OUTER JOIN ({_DAILY_ORD_SQL}) o ON li.day = o.day
    WHERE o.day > DATE '1996-01-01'
    """,
    doc="Semantic quirk reproduced: LOJ + WHERE on the nullable right side "
    "discards unmatched rows ⇒ effectively inner (ref: localTrinoTest."
    "ipynb:1186). Catalyst's EliminateOuterJoin rewrites it — asserted in "
    "tests via the physical plan.",
)
def join_null_filter(spark, sf_dir):
    li = _daily_lineitem(spark, sf_dir)
    o = _daily_orders(spark, sf_dir).withColumnRenamed("day", "o_day")
    return (
        li.join(o, li["day"] == o["o_day"], "left_outer")
        .filter(F.col("o_day") > F.lit("1996-01-01").cast("date"))
        .select("day", "n_items", "n_orders")
    )


@parity(
    "join_fact_fact_merge",
    sql=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {USUM(UREV('l'), 4)} AS revenue,
           {USUM(U2('l.l_quantity'), 2)} AS total_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Deliberately shuffle-heavy fact-fact join: full lineitem ⋈ full "
    "orders on the order key as a SortMergeJoin (merge hint on both "
    "sides — no pre-aggregation, no broadcast), then a keyed aggregate. "
    "This is the one bench query that exercises the raw "
    "shuffle-exchange + external-sort path every large fact-fact join "
    "takes at 100 TB when no co-located layout exists (see "
    "join_bucketed_flagship for the layout that deletes these "
    "shuffles); kept in bench.py so shuffle-path regressions are "
    "visible, not hidden behind broadcast-friendly plans.",
)
def join_fact_fact_merge(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_quantity"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = li.hint("merge").join(
        o.hint("merge"), li["l_orderkey"] == o["o_orderkey"]
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        usum(urev(), 4).alias("revenue"),
        usum(u2("l_quantity"), 2).alias("total_qty"),
    )


@parity(
    "join_skew_salted",
    sql=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {USUM(UREV('l'), 4)} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Skew-resistant salted join surfaced as a declared query: probe "
    "rows get a deterministic row-hash salt in [0, 8), the build side is "
    "exploded into 8 salt replicas, and the join runs on (key, salt) — "
    "one hot key's rows spread across 8 shuffle partitions instead of "
    "one straggler task. The oracle is the PLAIN join: salting must be "
    "result-invariant (also asserted in tests/test_scale_plans.py). "
    "This is the explicit fallback for extreme single-key skew when "
    "AQE's runtime skew-split (asserted separately) isn't available "
    "(operators/relational.py::salted_join).",
)
def join_skew_salted(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = rel_ops.salted_join(li, o, "l_orderkey", "o_orderkey", salt=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        usum(urev(), 4).alias("revenue"),
    )


@parity(
    "join_bucketed_flagship",
    sql=f"""
    SELECT l.l_orderkey,
           COUNT(*) AS n_items,
           {USUM(UREV('l'), 4)} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey < 1000
    GROUP BY l.l_orderkey
    """,
    doc="Flagship fact-fact join on a bucketed-by-join-key layout "
    "(SURVEY.md §4): orders and lineitem are written bucketed+sorted on "
    "the order key (operators.relational.write_bucketed), after which "
    "the SortMergeJoin AND the per-order aggregate run with ZERO "
    "exchanges and zero sorts — the one-time layout cost replaces every "
    "repeated join/agg shuffle at 100 TB. The entry asserts "
    "exchange-freedom on the physical plan at runtime (raises if a "
    "shuffle sneaks back in); results are layout-independent, so the "
    "oracle runs the plain join.",
)
def join_bucketed_flagship(spark, sf_dir):
    sftag = (
        os.path.basename(os.path.normpath(sf_dir)).replace(".", "_").replace("-", "_")
    )
    ot, lt = f"bflag_orders_{sftag}", f"bflag_lineitem_{sftag}"
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rel_ops.write_bucketed(orders, ot, ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    rel_ops.write_bucketed(li, lt, ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    a = spark.table(lt).filter(F.col("l_orderkey") < 1000).hint("merge")
    b = spark.table(ot).filter(F.col("o_orderkey") < 1000).hint("merge")
    out = (
        a.join(b, a["l_orderkey"] == b["o_orderkey"])
        .groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_items"),
            usum(urev(), 4).alias("revenue"),
        )
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        raise AssertionError(
            "bucketed flagship join must be exchange-free, got:\n" + plan
        )
    return out


@parity(
    "join_ci_keys",
    sql="""
    SELECT c.c_custkey AS custkey, c.c_name AS name, o.o_orderkey AS orderkey
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE o.o_orderdate < DATE '1995-03-01'
    """,
    doc="Case-insensitive identifier resolution across keys/tables (ref: "
    "localTrinoTest.ipynb:1186 ON w.DATE = a.date; Spark default "
    "spark.sql.caseSensitive=false).",
)
def join_ci_keys(spark, sf_dir):
    register_views(spark, sf_dir, names=("customer", "orders"))
    return spark.sql(
        """
        SELECT C.C_CUSTKEY AS custkey, c.C_NAME AS name, O.o_orderkey AS orderkey
        FROM CUSTOMER c JOIN Orders O ON c.c_CUSTKEY = o.O_CUSTKEY
        WHERE o.O_ORDERDATE < DATE '1995-03-01'
        """
    )


@parity(
    "align_row_concat",
    sql="""
    SELECT a.day, a.click_avg, b.view_avg FROM
      (SELECT CAST(ts AS DATE) AS day, (ROUND(AVG(value) + 1e-9, 2) + 0.0) AS click_avg
       FROM events WHERE event_type = 'click' GROUP BY 1) a
    JOIN
      (SELECT CAST(ts AS DATE) AS day, (ROUND(AVG(value) + 1e-9, 2) + 0.0) AS view_avg
       FROM events WHERE event_type = 'view' GROUP BY 1) b
    ON a.day = b.day
    """,
    doc="Index-aligned concat of two frames = equi-join on the time key "
    "(ref: localTrinoTest.ipynb:942-948 pd.concat on DatetimeIndex).",
)
def align_row_concat(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")

    def daily_avg(etype, alias):
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy(F.to_date("ts").alias("day"))
            .agg(r_(F.avg("value"), 2).alias(alias))
        )

    return daily_avg("click", "click_avg").join(
        daily_avg("view", "view_avg"), on="day", how="inner"
    )


@parity(
    "join_semi",
    sql="SELECT c_custkey, c_name FROM customer c "
    "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    doc="Left-semi join (EXISTS). Not declared by the reference; inherited "
    "from df.join(how='left_semi') per SURVEY.md §2.3 and tested here.",
)
def join_semi(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


@parity(
    "join_anti",
    sql="SELECT c_custkey, c_name FROM customer c "
    "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
    "AND o.o_orderdate >= DATE '2001-01-01')",
    doc="Left-anti join (NOT EXISTS): customers with no orders since "
    "2001 (every customer has *some* order in the testdata, so the "
    "unfiltered anti join would be vacuously empty).",
)
def join_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("date")
    )
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


@parity(
    "join_cross",
    sql="SELECT r_name, n_name FROM region CROSS JOIN nation",
    doc="Cross join (small dims only — broadcast nested loop).",
)
def join_cross(spark, sf_dir):
    r = _t(spark, sf_dir, "region").select("r_name")
    n = _t(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@parity(
    "join_full",
    sql="""
    SELECT cn.c_nationkey, sn.s_nationkey
    FROM (SELECT DISTINCT c_nationkey FROM customer) cn
    FULL OUTER JOIN (SELECT DISTINCT s_nationkey FROM supplier) sn
    ON cn.c_nationkey = sn.s_nationkey
    """,
    doc="Full outer join over distinct key sets.",
)
def join_full(spark, sf_dir):
    cn = _t(spark, sf_dir, "customer").select("c_nationkey").distinct()
    sn = _t(spark, sf_dir, "supplier").select("s_nationkey").distinct()
    return cn.join(sn, cn["c_nationkey"] == sn["s_nationkey"], "full_outer").select(
        "c_nationkey", "s_nationkey"
    )


@parity(
    "join_asof",
    sql=f"""
    SELECT o.day, o.n_orders, CAST(li.day AS VARCHAR) AS match_day, li.ship_value
    FROM ({_DAILY_ORD_SQL}) o
    ASOF LEFT JOIN ({_DAILY_LI_SQL}) li ON o.day >= li.day
    """,
    doc="As-of (nearest-earlier) join — extension operator (SURVEY.md §2.3 "
    "notes its absence in the reference). Union-merge + last(ignorenulls) "
    "window: ONE shuffle, no range explosion; holds at 100 TB. match_day "
    "is surfaced as a string because the LEFT asof leaves it NULL on "
    "no-earlier-match rows, and a nullable date renders 'None' (Spark "
    "date objects) vs 'NaT' (pandas datetime64) under the driver's "
    "string canonicalizer; VARCHAR renders 'None' on both engines.",
)
def join_asof(spark, sf_dir):
    o = _daily_orders(spark, sf_dir).select("day", "n_orders")
    li = _daily_lineitem(spark, sf_dir).select(
        "day", F.col("day").alias("match_day"), "ship_value"
    )
    return rel_ops.asof_join(
        o, li, on="day", right_value_cols=["match_day", "ship_value"]
    ).select(
        "day",
        "n_orders",
        F.date_format("match_day", "yyyy-MM-dd").alias("match_day"),
        "ship_value",
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------


@parity(
    "agg_minmax",
    sql="""
    SELECT MIN(l_quantity) AS qty_min, MAX(l_quantity) AS qty_max,
           MIN(l_extendedprice) AS price_min, MAX(l_extendedprice) AS price_max,
           CAST(MIN(l_shipdate) AS DATE) AS ship_min,
           CAST(MAX(l_shipdate) AS DATE) AS ship_max
    FROM lineitem
    """,
    doc="Per-column min/max (MinMaxScaler.fit, ref: localTrinoTest.ipynb:"
    "467-472). Exact — no rounding needed (min/max are order-insensitive).",
)
def agg_minmax(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.min("l_quantity").alias("qty_min"),
        F.max("l_quantity").alias("qty_max"),
        F.min("l_extendedprice").alias("price_min"),
        F.max("l_extendedprice").alias("price_max"),
        F.to_date(F.min("l_shipdate")).alias("ship_min"),
        F.to_date(F.max("l_shipdate")).alias("ship_max"),
    )


@parity(
    "agg_quantiles",
    sql="""
    -- finite-measure band (see agg_regression): Spark's percentile
    -- sorts NaN GREATEST while DuckDB's quantile skips it — a single
    -- NaN silently shifts every cross-engine quantile otherwise
    SELECT (ROUND(quantile_cont(l_quantity, 0.25) + 1e-9, 4) + 0.0) AS qty_q25,
           (ROUND(quantile_cont(l_quantity, 0.5) + 1e-9, 4) + 0.0) AS qty_q50,
           (ROUND(quantile_cont(l_quantity, 0.75) + 1e-9, 4) + 0.0) AS qty_q75,
           (ROUND(quantile_cont(l_extendedprice, 0.5) + 1e-9, 4) + 0.0) AS price_q50
    FROM lineitem
    WHERE (TRY_CAST(ROUND((l_quantity) * 100) AS BIGINT) IS NOT NULL AND TRY_CAST(ROUND((l_quantity) * 100) AS BIGINT) > -2147483648 AND TRY_CAST(ROUND((l_quantity) * 100) AS BIGINT) < 2147483648)
      AND (TRY_CAST(ROUND((l_extendedprice) * 100) AS BIGINT) IS NOT NULL AND TRY_CAST(ROUND((l_extendedprice) * 100) AS BIGINT) > -2147483648 AND TRY_CAST(ROUND((l_extendedprice) * 100) AS BIGINT) < 2147483648)
    """,
    doc="Median + IQR (RobustScaler.fit, ref: KubeflowStockPricePrediction."
    "ipynb:272-311). Exact percentile here for oracle parity; "
    "operators.aggregates.robust_fit(exact=False) is the approx_percentile "
    "sketch path for 100 TB.",
)
def agg_quantiles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    li = li.filter(uband("l_quantity") & uband("l_extendedprice"))
    return li.agg(
        r_(F.expr("percentile(l_quantity, 0.25)"), 4).alias("qty_q25"),
        r_(F.expr("percentile(l_quantity, 0.5)"), 4).alias("qty_q50"),
        r_(F.expr("percentile(l_quantity, 0.75)"), 4).alias("qty_q75"),
        r_(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("price_q50"),
    )


@parity(
    "agg_corr",
    sql="""
    -- second-moment band (see agg_regression): a 1e308 measure RAISES
    -- in DuckDB's corr and silently Inf-poisons Spark's — rows enter
    -- the stats pass only with all four measures finite and unit-bounded
    SELECT (ROUND(corr(l_quantity, l_extendedprice) + 1e-9, 6) + 0.0) AS corr_l_quantity_l_extendedprice,
           (ROUND(corr(l_extendedprice, l_discount) + 1e-9, 6) + 0.0) AS corr_l_extendedprice_l_discount,
           (ROUND(corr(l_quantity, l_tax) + 1e-9, 6) + 0.0) AS corr_l_quantity_l_tax
    FROM lineitem
    WHERE (TRY_CAST(ROUND((l_quantity) * 100) AS BIGINT) IS NOT NULL AND TRY_CAST(ROUND((l_quantity) * 100) AS BIGINT) > -2147483648 AND TRY_CAST(ROUND((l_quantity) * 100) AS BIGINT) < 2147483648)
      AND (TRY_CAST(ROUND((l_extendedprice) * 100) AS BIGINT) IS NOT NULL AND TRY_CAST(ROUND((l_extendedprice) * 100) AS BIGINT) > -2147483648 AND TRY_CAST(ROUND((l_extendedprice) * 100) AS BIGINT) < 2147483648)
      AND (TRY_CAST(ROUND((l_discount) * 100) AS BIGINT) IS NOT NULL AND TRY_CAST(ROUND((l_discount) * 100) AS BIGINT) > -2147483648 AND TRY_CAST(ROUND((l_discount) * 100) AS BIGINT) < 2147483648)
      AND (TRY_CAST(ROUND((l_tax) * 100) AS BIGINT) IS NOT NULL AND TRY_CAST(ROUND((l_tax) * 100) AS BIGINT) > -2147483648 AND TRY_CAST(ROUND((l_tax) * 100) AS BIGINT) < 2147483648)
    """,
    doc="Pairwise Pearson correlation (ref: localTrinoTest.ipynb:438-440 "
    "8×8 matrix) in ONE aggregate pass; rounded for cross-engine "
    "determinism (float reduction order).",
)
def agg_corr(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    band = None
    for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        cond = uband(c)
        band = cond if band is None else (band & cond)
    li = li.filter(band)
    return agg_ops.corr_pairs(
        li,
        [
            ("l_quantity", "l_extendedprice"),
            ("l_extendedprice", "l_discount"),
            ("l_quantity", "l_tax"),
        ],
    )


@parity(
    "agg_count",
    sql=" UNION ALL ".join(
        f"SELECT '{t}' AS table_name, COUNT(*) AS cnt FROM {t}"
        for t in sorted(TABLE_NAMES)
    ),
    doc="Row-count validation per table (ref: fillMongoDB.ipynb:186, "
    "KubeflowStockPricePrediction.ipynb:183-184).",
)
def agg_count(spark, sf_dir):
    frames = [
        _t(spark, sf_dir, t).agg(
            F.lit(t).alias("table_name"), F.count("*").alias("cnt")
        )
        for t in sorted(TABLE_NAMES)
    ]
    return rel_ops.union_all(frames)


@parity(
    "agg_error_metrics",
    sql="""
    SELECT (ROUND(AVG(ABS(l_extendedprice - l_extendedprice * (1 - l_discount))) + 1e-9, 4) + 0.0) AS mae,
           (ROUND(AVG(ABS((l_extendedprice - l_extendedprice * (1 - l_discount)) / l_extendedprice)) * 100 + 1e-9, 4) + 0.0) AS mape,
           (ROUND(quantile_cont(ABS((l_extendedprice - l_extendedprice * (1 - l_discount)) / l_extendedprice), 0.5) * 100 + 1e-9, 4) + 0.0) AS mdape
    FROM lineitem
    WHERE (TRY_CAST(ROUND((l_extendedprice) * 100) AS BIGINT) IS NOT NULL AND TRY_CAST(ROUND((l_extendedprice) * 100) AS BIGINT) > -2147483648 AND TRY_CAST(ROUND((l_extendedprice) * 100) AS BIGINT) < 2147483648)
      AND (TRY_CAST(ROUND((l_discount) * 100) AS BIGINT) IS NOT NULL AND TRY_CAST(ROUND((l_discount) * 100) AS BIGINT) > -2147483648 AND TRY_CAST(ROUND((l_discount) * 100) AS BIGINT) < 2147483648)
    """,
    doc="MAE / MAPE / MDAPE between truth and prediction (ref: "
    "localTrinoTest.ipynb:903-919); prediction stand-in = discounted price.",
)
def agg_error_metrics(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        uband("l_extendedprice") & uband("l_discount")
    ).withColumn(
        "pred", F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    )
    return agg_ops.error_metrics(li, "l_extendedprice", "pred", round_to=4)


@parity(
    "agg_last_scalar",
    sql="SELECT o_totalprice AS last_price FROM orders "
    "ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1",
    doc="Last value of a column in time order (ref: "
    "KubeflowStockPricePrediction.ipynb:570-571 df1.iloc[-1,0]). "
    "TakeOrderedAndProject — no global sort.",
)
def agg_last_scalar(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return agg_ops.last_scalar(o, ["o_orderdate", "o_orderkey"], "o_totalprice").select(
        F.col("o_totalprice").alias("last_price")
    )


@parity(
    "agg_groupby_key",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           {USUM(U2('l_quantity'), 2)} AS sum_qty,
           {USUM(U2('l_extendedprice'), 2)} AS sum_base_price,
           {USUM(UREV(), 4)} AS sum_disc_price,
           {USUM(f"{UREV()} * (100 + {U2('l_tax')})", 6)} AS sum_charge,
           (ROUND(AVG(l_quantity) + 1e-9, 4) + 0.0) AS avg_qty,
           (ROUND(AVG(l_extendedprice) + 1e-9, 4) + 0.0) AS avg_price,
           (ROUND(AVG(l_discount) + 1e-9, 6) + 0.0) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Keyed groupBy aggregate (TPC-H Q1 shape) — the SURVEY.md §2.4 "
    "`agg_groupby_key` extension; partial+final HashAggregate, map-side "
    "combine before the single shuffle. Bench headline query q1.",
    tags=("bench",),
)
def agg_groupby_key(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc_price = urev()
    charge = urev() * (F.lit(100) + u2("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            usum(u2("l_quantity"), 2).alias("sum_qty"),
            usum(u2("l_extendedprice"), 2).alias("sum_base_price"),
            usum(disc_price, 4).alias("sum_disc_price"),
            usum(charge, 6).alias("sum_charge"),
            r_(F.avg("l_quantity"), 4).alias("avg_qty"),
            r_(F.avg("l_extendedprice"), 4).alias("avg_price"),
            r_(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 Window functions & sequence ops
# ---------------------------------------------------------------------------


@parity(
    "win_dedup_keeplast",
    sql="""
    SELECT user_id, event_type, event_id, value FROM events
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1
    """,
    doc="Keep-last dedup: latest message per key wins (ref: "
    "KubeflowStockPricePrediction.ipynb:547-549 sort by timestamp + "
    "drop_duplicates keep='last'). row_number over desc broker time.",
)
def win_dedup_keeplast(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return rel_ops.keep_last(
        ev,
        keys=["user_id", "event_type"],
        order_by=[F.col("ts").desc(), F.col("event_id").desc()],
    ).select("user_id", "event_type", "event_id", "value")


@parity(
    "win_tail_n",
    sql="""
    SELECT event_id, user_id, event_type, value FROM (
      SELECT * FROM events ORDER BY ts DESC, event_id DESC LIMIT 10
    ) ORDER BY ts, event_id
    """,
    doc="Last N rows by time order (ref: localTrinoTest.ipynb:1194 df[-10:]).",
)
def win_tail_n(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return rel_ops.tail_n(ev, 10, [F.col("ts"), F.col("event_id")]).select(
        "event_id", "user_id", "event_type", "value"
    )


@parity(
    "win_split_chrono",
    sql="""
    -- undated rows have no chronological position: Spark sorts them
    -- NULLS FIRST, DuckDB NULLS LAST, silently shifting the 80% split
    -- boundary — drop at ingest on both engines
    SELECT o_orderkey,
           CASE WHEN percent_rank() OVER (ORDER BY o_orderdate, o_orderkey) < 0.8
                THEN 'train' ELSE 'test' END AS split
    FROM orders WHERE o_orderdate IS NOT NULL
    """,
    doc="Chronological train/test split, no shuffle of rows (ref: "
    "localTrinoTest.ipynb:535 train_test_split(shuffle=False)). "
    "percent_rank for exact parity; chrono_split_by_cutoff is the "
    "sort-free 100 TB path.",
)
def win_split_chrono(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    return rel_ops.chrono_split(
        o, order_by=[F.col("o_orderdate"), F.col("o_orderkey")], train_fraction=0.8
    ).select("o_orderkey", "split")


@parity(
    "win_sliding_seq",
    sql="""
    SELECT user_id, event_id,
           seq[1] AS seq_0, seq[2] AS seq_1, seq[3] AS seq_2, label
    FROM (
      SELECT user_id, event_id,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS seq,
             lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS label
      FROM events
    ) WHERE len(seq) = 3 AND label IS NOT NULL
    """,
    doc="Sliding sequence windows (len 3, stride 1) + next-value label "
    "(ref: partition_dataset, localTrinoTest.ipynb:593-612; invariant "
    "x[i][L-1] == context of y[i-1] tested in tests/test_windows.py). "
    "collect_list over rowsBetween — no explosion, O(L) per row. Output "
    "flattened to scalar seq_0..seq_2 columns (fixed length) so the "
    "driver canonicalizer can sort/hash rows — array cells are "
    "unhashable in its pandas path.",
)
def win_sliding_seq(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = win_ops.sliding_sequences(
        ev,
        order_by=[F.col("ts"), F.col("event_id")],
        feature_cols=["value"],
        label_col="value",
        length=3,
        partition_by=["user_id"],
    )
    vals = F.col("seq").getField("value")
    return out.select(
        "user_id",
        "event_id",
        F.element_at(vals, 1).alias("seq_0"),
        F.element_at(vals, 2).alias("seq_1"),
        F.element_at(vals, 3).alias("seq_2"),
        "label",
    )


# ---------------------------------------------------------------------------
# §2.6 Sorts / limits / top-k
# ---------------------------------------------------------------------------


@parity(
    "sort_global_asc",
    sql="SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate, o_totalprice "
    "FROM orders ORDER BY o_orderdate, o_orderkey",
    doc="Global ORDER BY date ASC (ref: localTrinoTest.ipynb:121). "
    "Range-partitioned total sort; kept as a final presentation op only "
    "(SURVEY.md §7: never mid-pipeline at scale).",
)
def sort_global_asc(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").cast("string").alias("o_orderdate"),
            "o_totalprice",
        )
        .orderBy("o_orderdate", "o_orderkey")
    )


@parity(
    "sort_multi",
    sql="SELECT event_id, event_type, value FROM events "
    "ORDER BY event_type ASC, value DESC, event_id",
    doc="Multi-column re-sort (ref: KubeflowStockPricePrediction.ipynb:"
    "548,552 sort by timestamp then Date).",
)
def sort_multi(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .orderBy(F.col("event_type").asc(), F.col("value").desc(), F.col("event_id"))
    )


@parity(
    "limit_n",
    sql="SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 5",
    doc="LIMIT smoke query (ref: vanilla_k8s...txt:768 SELECT * LIMIT 5) "
    "made deterministic via total order; plans TakeOrderedAndProject.",
)
def limit_n(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(5)
    )


@parity(
    "topk_tail",
    sql=f"""
    SELECT day, n_orders FROM (
      SELECT day, n_orders FROM ({_DAILY_ORD_SQL}) ORDER BY day DESC LIMIT 10
    ) ORDER BY day
    """,
    doc="Top-k by recency (ref: §2.5 win_tail_n over the daily frame).",
)
def topk_tail(spark, sf_dir):
    daily = _daily_orders(spark, sf_dir).select("day", "n_orders")
    return rel_ops.tail_n(daily, 10, [F.col("day")])


# ---------------------------------------------------------------------------
# §2.7 Set operations
# ---------------------------------------------------------------------------


@parity(
    "union_all",
    sql="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="Concatenate homogeneous frames (ref: fillMongoDB.ipynb:177-181 "
    "pd.concat of 5 CSVs). unionByName — narrow op, no shuffle.",
)
def union_all(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    return rel_ops.union_all(
        [o.filter(F.col("o_orderstatus") == "O"), o.filter(F.col("o_orderstatus") == "F")]
    )


@parity(
    "distinct_rows",
    sql="SELECT DISTINCT user_id, event_type FROM events",
    doc="SELECT DISTINCT over the projection — dedups replayed stream "
    "messages (ref: localTrinoTest.ipynb:1184,1475).",
)
def distinct_rows(spark, sf_dir):
    return _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()


@parity(
    "dedup_full_row",
    sql="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    doc="Full-row drop_duplicates after fetch (ref: "
    "KubeflowStockPricePrediction.ipynb:183).",
)
def dedup_full_row(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .dropDuplicates()
    )


@parity(
    "setop_intersect",
    sql="SELECT DISTINCT c_nationkey AS nationkey FROM customer "
    "INTERSECT SELECT DISTINCT s_nationkey AS nationkey FROM supplier",
    doc="INTERSECT (SURVEY.md §2.7: free via df.intersect; declared because "
    "implemented+tested).",
)
def setop_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@parity(
    "setop_except",
    sql="SELECT DISTINCT p_size AS size FROM part "
    "EXCEPT SELECT DISTINCT p_size AS size FROM part WHERE p_size <= 25",
    doc="EXCEPT (distinct set difference).",
)
def setop_except(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select(F.col("p_size").alias("size")).distinct()
    small = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 25)
        .select(F.col("p_size").alias("size"))
        .distinct()
    )
    return p.exceptAll(small).distinct()


# ---------------------------------------------------------------------------
# §2.8 Scalar functions
# ---------------------------------------------------------------------------


@parity(
    "f_date_arith",
    sql="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) - 1 AS VARCHAR) AS prev_day,
           CAST(CAST(o_orderdate AS DATE) + 7 AS VARCHAR) AS next_week,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k
    FROM orders
    """,
    doc="Date arithmetic: date_sub/date_add/datediff (ref: "
    "weatherProducerHistory.py:9-11 now + timedelta(days=-1)).",
)
def f_date_arith(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_sub(d, 1).cast("string").alias("prev_day"),
        F.date_add(d, 7).cast("string").alias("next_week"),
        F.datediff(F.lit("2000-01-01").cast("date"), d).cast("long").alias("days_to_y2k"),
    )


@parity(
    "f_str_funcs",
    sql="""
    SELECT c_custkey, UPPER(replace(c_name, 'ß', 'ss')) AS name_upper,
           LENGTH(c_name) AS name_len,
           SUBSTRING(c_name, 1, 8) AS name_prefix,
           c_name || '/' || c_mktsegment AS name_seg
    FROM customer
    """,
    doc="String scalar surface: upper/length/substring/concat (ref string "
    "ops: openshift...txt:29, weatherProducerHistory.py:27). Oracle "
    "pre-folds ß→ss: Java toUpperCase applies the one-to-many mapping "
    "ß→SS while DuckDB's utf8proc maps to the single codepoint ẞ — the "
    "one Unicode special-casing divergence plausible in generated text.",
)
def f_str_funcs(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").cast("long").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        # F.concat (not concat_ws): `x || '/' || y` propagates a NULL
        # operand to a NULL result on both engines; concat_ws silently
        # SKIPS NULLs, turning a nameless customer into 'SEGMENT'
        F.concat(F.col("c_name"), F.lit("/"), F.col("c_mktsegment")).alias(
            "name_seg"
        ),
    )


@parity(
    "f_str_levenshtein",
    sql="""
    SELECT p_partkey, p_name,
           levenshtein(regexp_replace(p_name, '[^\x20-\x7E]', '?', 'g'), 'small gear') AS dist_probe,
           levenshtein(regexp_replace(p_name, '[^\x20-\x7E]', '?', 'g'),
                       regexp_replace(p_brand, '[^\x20-\x7E]', '?', 'g')) AS dist_brand
    FROM part WHERE p_partkey < 200
    """,
    doc="Edit-distance scalar (levenshtein) — fuzzy matching for entity "
    "resolution / near-dup candidate scoring on short strings; JVM "
    "codegen builtin. Inputs are ASCII-projected (non-printable-ASCII → "
    "'?') on BOTH engines first: Spark and DuckDB count edits over "
    "different code-unit granularities on non-ASCII text, so the "
    "distance is only engine-portable over the ASCII projection.",
)
def f_str_levenshtein(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    name_a = F.regexp_replace("p_name", r"[^\x20-\x7E]", "?")
    brand_a = F.regexp_replace("p_brand", r"[^\x20-\x7E]", "?")
    return p.select(
        "p_partkey",
        "p_name",
        F.levenshtein(name_a, F.lit("small gear")).cast("long").alias("dist_probe"),
        F.levenshtein(name_a, brand_a).cast("long").alias("dist_brand"),
    )


@parity(
    "f_cond",
    sql="""
    SELECT bucket, COUNT(*) AS cnt FROM (
      SELECT CASE WHEN o_totalprice > 300000 THEN 'high'
                  WHEN o_totalprice > 100000 THEN 'mid'
                  ELSE 'low' END AS bucket
      FROM orders
    ) GROUP BY bucket
    """,
    doc="Conditional value rewrite (ref: weatherProducer.py:36 "
    "`0.0 if not v else v`; localTrinoTest.ipynb:964 residual coloring).",
)
def f_cond(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
    )
    return o.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count("*").alias("cnt")
    )


@parity(
    "f_scale_affine",
    sql="""
    SELECT l_orderkey, l_linenumber,
           (l_quantity - mm.mn) / (mm.mx - mm.mn) AS qty_scaled
    FROM lineitem,
         (SELECT MIN(l_quantity) AS mn, MAX(l_quantity) AS mx FROM lineitem) mm
    """,
    doc="Affine scale with engine-side fit (MinMaxScaler transform, ref: "
    "localTrinoTest.ipynb:467-476): global agg → 1-row broadcast cross "
    "join → column arithmetic. Nothing collects to the driver.",
)
def f_scale_affine(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    fit = agg_ops.minmax_fit(li, ["l_quantity"])
    out = agg_ops.minmax_transform(li, fit, ["l_quantity"])
    return out.select(
        "l_orderkey", "l_linenumber", F.col("l_quantity_scaled").alias("qty_scaled")
    )


@parity(
    "f_math_absdiv",
    sql="""
    SELECT l_orderkey, l_linenumber,
           ABS((l_extendedprice - l_extendedprice * (1 - l_discount)) / l_extendedprice) AS rel_err
    FROM lineitem
    """,
    doc="abs((y-p)/y) elementwise — the MAPE core (ref: "
    "localTrinoTest.ipynb:915,919).",
)
def f_math_absdiv(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    y = F.col("l_extendedprice")
    p = y * (F.lit(1) - F.col("l_discount"))
    return li.select(
        "l_orderkey", "l_linenumber", F.abs((y - p) / y).alias("rel_err")
    )


@parity(
    "f_json_serde",
    sql="SELECT event_id, value AS value_rt FROM events",
    doc="JSON encode→decode round trip (ref: stockDataProducer.py:38 "
    "json.dumps producer + trino/kafka mapping decode). to_json(struct) "
    "then from_json recovers the typed value exactly.",
)
def f_json_serde(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    enc = ev.select(
        "event_id", F.to_json(F.struct("event_id", "value")).alias("msg")
    )
    dec = enc.select(
        "event_id",
        F.from_json("msg", "event_id BIGINT, value DOUBLE").getField("value").alias("value_rt"),
    )
    return dec


# ---------------------------------------------------------------------------
# §2.9 Streaming-only semantics (batch-equivalent parity; native streaming
# variants live in trino_demo_spark.streaming and are tested in pytest)
# ---------------------------------------------------------------------------


@parity(
    "stream_ts_upper_bound",
    sql="""
    SELECT event_type, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
    FROM events WHERE ts <= TIMESTAMP '2024-01-15 12:00:01'
    GROUP BY event_type
    """,
    doc="Timestamp upper bound pushed into the unbounded-table scan (ref: "
    "kafka.properties:7 timestamp-upper-bound-force-push-down-enabled). "
    "On parquet the predicate reaches the scan (PushedFilters); on Kafka "
    "the sources.kafka.bounded_scan wrapper lifts it into "
    "startingTimestamp/endingTimestamp options.",
)
def stream_ts_upper_bound(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts") <= F.lit("2024-01-15 12:00:01").cast("timestamp"))
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@parity(
    "stream_retention_window",
    sql="""
    WITH mx AS (SELECT MAX(ts) AS max_ts FROM events)
    SELECT event_type, COUNT(*) AS cnt,
           (ROUND(SUM(value) + 1e-9, 2) + 0.0) AS sum_value
    FROM events, mx
    WHERE ts > mx.max_ts - INTERVAL 7 DAY
    GROUP BY event_type
    """,
    doc="Retention enforcement as a scan-time lower bound (ref: topic "
    "retention 7d, openshift_trino_demo_installation.txt:240-263): only "
    "the trailing 7-day window of the log survives, cutoff derived from "
    "the stream's own max timestamp via a 1-row broadcast (no driver "
    "round trip, no clock dependence). On Kafka the same bound lifts "
    "into startingTimestamp (sources.kafka.bounded_scan_options lower "
    "bound) so the broker prunes segments server-side — the batch twin "
    "of broker-side log retention.",
)
def stream_retention_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("max_ts"))
    return (
        ev.join(F.broadcast(mx))
        .filter(F.col("ts") > F.col("max_ts") - F.expr("INTERVAL 7 DAYS"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            r_(F.sum("value"), 2).alias("sum_value"),
        )
    )


@parity(
    "stream_dedup_late",
    sql="""
    -- day as VARCHAR: the NULL-ts revision group must render
    -- identically on both engines ('None', not pandas NaT)
    SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_id, value FROM events
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts DESC, event_id DESC) = 1
    """,
    doc="Late/duplicate collapse: latest revision per (entity, day) wins "
    "(ref: KubeflowStockPricePrediction.ipynb:547-549,786; streaming-native "
    "variant = withWatermark + dropDuplicates in streaming.kafka_shape).",
)
def stream_dedup_late(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    return rel_ops.keep_last(
        ev, keys=["user_id", "day"], order_by=[F.col("ts").desc(), F.col("event_id").desc()]
    ).select("user_id", F.col("day").cast("string").alias("day"), "event_id", "value")


# ---------------------------------------------------------------------------
# Bench-headline analytic queries (TPC-H shapes over the testdata star
# schema). Not in the reference's declared surface — they exercise the same
# operator inventory (multi-join + keyed agg + top-k) at bench scale and
# feed bench.py. SURVEY.md §6.
# ---------------------------------------------------------------------------


@parity(
    "tpch_q3",
    sql=f"""
    SELECT o.o_orderkey, {USUM(UREV('l'), 4)} AS revenue,
           CAST(o.o_orderdate AS DATE) AS o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-01-01'
      AND l.l_shipdate > DATE '1998-01-01'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: selective dim filter (broadcast) → fact join → "
    "keyed agg → top-k (TakeOrderedAndProject). Bench headline q3.",
    tags=("bench",),
)
def tpch_q3(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("date")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("date")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("o_orderdate"))
        .agg(usum(urev(), 4).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@parity(
    "tpch_q5",
    sql=f"""
    SELECT n.n_name, {USUM(UREV('l'), 4)} AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC
    """,
    doc="TPC-H Q5 shape: 6-table star join, small dims broadcast, one "
    "shuffle-heavy fact join, keyed agg. Bench headline q5.",
    tags=("bench",),
)
def tpch_q5(spark, sf_dir):
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    dim = (
        c.join(F.broadcast(n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])),
               F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey", "n_name")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(dim), o["o_custkey"] == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (s["s_suppkey"] == li["l_suppkey"])
            & (s["s_nationkey"] == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(usum(urev(), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


# ---------------------------------------------------------------------------
# Coverage completions: document sink, producer timestamp parse, event-time
# window aggregation (batch twin of streaming.windowed_counts), TPC-H Q6 /
# Q18 shapes.
# ---------------------------------------------------------------------------


@parity(
    "sink_document",
    sql="SELECT doc_id, lang, n_chars FROM documents",
    doc="Document-store sink + re-scan (ref: fillMongoDB.ipynb:354-369 "
    "insert_many + schemadef). Stand-in store is parquet keyed like the "
    "collection; the mongo connector path lives in sources.document "
    "behind availability.",
)
def sink_document(spark, sf_dir):
    path = os.path.join(_scratch(sf_dir), "documents_store")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    docs.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@parity(
    "f_date_strptime",
    sql="""
    SELECT event_id,
           CAST(CAST(strftime(ts, '%Y-%m-%d') AS DATE) AS VARCHAR) AS parsed_day
    FROM events
    """,
    doc="Producer-style timestamp formatting + strptime parse back (ref: "
    "stockDataProducer.py:17-19 `%Y-%m-%dT%H:%M:%S.%f` handling): format "
    "to an ISO string column, parse with an explicit pattern.",
)
def f_date_strptime(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    parsed = F.to_date(
        F.to_timestamp(iso, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    )
    return ev.select("event_id", parsed.cast("string").alias("parsed_day"))


@parity(
    "stream_window_agg",
    sql="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
           COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
    doc="Event-time tumbling-window aggregation — the batch twin of "
    "streaming.kafka_shape.windowed_counts (same grouping, same results; "
    "equivalence asserted in tests/test_streaming.py). Spark F.window vs "
    "DuckDB time_bucket.",
)
def stream_window_agg(spark, sf_dir):
    # timeline op: F.window drops un-timestamped rows at the operator
    # level — drop at ingest so the policy is explicit + oracle-mirrored
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            # session-tz-naive to match the oracle's naive timestamp
            F.col("win.start").cast("timestamp_ntz").alias("win_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


@parity(
    "stream_join_attrib",
    sql="""
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
           p.value AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.ts < p.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    doc="Click→purchase attribution interval join — the batch twin of "
    "streaming.kafka_shape.stream_stream_join (IDENTICAL code path: the "
    "same lib function runs here on batch frames, watermarks become "
    "no-ops; streaming-vs-batch equivalence is asserted separately in "
    "tests/test_streaming.py). Scale shape: both sides shuffle once on "
    "user_id, the time-interval predicate stays a residual on the "
    "same-key join — no range explosion; in streaming the watermark "
    "bounds join state to one interval per user.",
)
def stream_join_attrib(spark, sf_dir):
    from .streaming import kafka_shape as ks

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return ks.stream_stream_join(clicks, purchases, "1 hour")


@parity(
    "stream_join_attrib_outer",
    sql="""
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
           p.value AS purchase_value
    FROM events p LEFT OUTER JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts < p.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    """,
    doc="Click→purchase attribution LEFT OUTER interval join — the batch "
    "twin of streaming.kafka_shape.stream_stream_left_join (IDENTICAL "
    "code path: the same lib function on batch frames, watermarks "
    "no-op). Every purchase survives; ones with no same-user click in "
    "the preceding hour carry a NULL click_id. In streaming, those NULL "
    "rows are emitted only once the joint watermark expires the outer "
    "row's state — the null-emission mechanics are pinned separately in "
    "tests/test_streaming.py with a multi-batch source (the shape "
    "SURVEY §2.9's batch-over-log model cannot express). Scale shape: "
    "identical to the inner variant — one shuffle per side on user_id, "
    "interval predicate as a residual, watermark bounds state to one "
    "interval per user.",
)
def stream_join_attrib_outer(spark, sf_dir):
    from .streaming import kafka_shape as ks

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return ks.stream_stream_left_join(clicks, purchases, "1 hour")


@parity(
    "tpch_q6",
    sql=f"""
    SELECT {USUM(f"{U2('l_extendedprice')} * {U2('l_discount')}", 4)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pure predicate + global agg — the pushdown "
    "showcase (all three filters reach the parquet scan).",
    tags=("bench",),
)
def tpch_q6(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(usum(u2("l_extendedprice") * u2("l_discount"), 4).alias("revenue"))
    )


@parity(
    "tpch_q18",
    sql=f"""
    SELECT c.c_name, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
           o.o_totalprice, big.sum_qty
    FROM (
      SELECT l_orderkey, {USUM(U2('l_quantity'), 2)} AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM({U2('l_quantity')}) > 15000
    ) big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 shape: keyed agg + HAVING (pre-aggregation shrinks the "
    "join input), two joins, top-k. Bench headline q18. Scale shape: the "
    "HAVING survivors are ~20% of orders (linear in SF — measured, NOT "
    "broadcastable at 100 TB), but the final ORDER BY/LIMIT keys "
    "(o_totalprice, o_orderkey) live on orders, so the top-20 runs as "
    "TakeOrderedAndProject BEFORE customer is touched; a keys-only semi "
    "join keeps dangling custkeys from holding a top-20 slot, and only "
    "those 20 rows broadcast into customer — the largest dim at 100 TB "
    "is never broadcast and never shuffled. The big⋈orders strategy is "
    "left to AQE — big (HAVING survivors) is linear in SF, so "
    "force-broadcasting it would OOM at 100 TB (the r1-r6 local bench "
    "flag that restored that hint is retired: PERF.md r6 measured the "
    "unhinted plan within 2% of the hinted one on the same host, and "
    "the r7 re-pin measures the shipped plan). Every stage is "
    "hint-independent and bounded except the provably-20-row top-k "
    "broadcast (ADVICE r5/r6).",
    tags=("bench",),
)
def tpch_q18(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(usum(u2("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    c_keys = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck")
    )
    top = (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c_keys, F.col("o_custkey") == c_keys["ck"], "left_semi")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )
    return (
        F.broadcast(top).join(c, top["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# OLAP breadth beyond the reference surface: multidimensional aggregates
# (rollup/cube/pivot), theta/range join, distinct-count. SURVEY.md §2.4
# notes keyed groupBy comes free — these are its standard OLAP extensions,
# declared because implemented + oracle-tested.
# ---------------------------------------------------------------------------


@parity(
    "agg_rollup",
    sql=f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
           {USUM(U2('o_totalprice'), 2)} AS total
    FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    doc="ROLLUP hierarchy aggregate (subtotals + grand total) — "
    "Expand+HashAggregate, still one shuffle.",
)
def agg_rollup(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"), usum(u2("o_totalprice"), 2).alias("total")
    )


@parity(
    "agg_cube",
    sql="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    doc="CUBE aggregate over both dimensions.",
)
def agg_cube(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("cnt"))


@parity(
    "agg_pivot",
    sql="""
    -- key as VARCHAR: a NULL user_id is a legitimate pivot group, but
    -- a nullable int64 key renders engine-differently through pandas
    SELECT CAST(user_id AS VARCHAR) AS user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY 1
    """,
    doc="Pivot (categories → columns). Spark df.pivot with explicit value "
    "list — explicit values skip the extra distinct-discovery job AND "
    "keep the output schema static (the 100 TB-safe form); oracle uses "
    "FILTER aggregates.",
)
def agg_pivot(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.col("user_id").cast("string").alias("user_id"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
    )
    return out.na.fill(0, subset=["click", "error", "purchase", "signup", "view"])


@parity(
    "agg_count_distinct",
    sql="""
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Exact distinct count per key (Expand-based two-phase plan). The "
    "sketch path (approx_count_distinct/HLL — the 100 TB default) is "
    "engine-specific per engine sketch, tested within 5% of exact in "
    "tests/test_scale_plans.py.",
)
def agg_count_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@parity(
    "join_range",
    sql="""
    SELECT w.win_name, COUNT(*) AS cnt, ROUND(SUM(e.value), 2) AS sum_value
    FROM events e
    JOIN (VALUES
      ('w1', TIMESTAMP '2024-01-05 00:00:00', TIMESTAMP '2024-01-08 00:00:00'),
      ('w2', TIMESTAMP '2024-01-12 00:00:00', TIMESTAMP '2024-01-13 12:00:00'),
      ('w3', TIMESTAMP '2024-01-20 06:00:00', TIMESTAMP '2024-01-25 00:00:00')
    ) w(win_name, win_start, win_end)
      ON e.ts >= w.win_start AND e.ts < w.win_end
    GROUP BY w.win_name
    """,
    doc="Range (theta) join: events against interval windows. Small "
    "interval side broadcasts (BroadcastNestedLoopJoin); at scale with "
    "both sides large, bucketize the time axis first to convert to an "
    "equi-join on the bucket (same pattern as LSH).",
)
def join_range(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    wins = spark.createDataFrame(
        [
            ("w1", "2024-01-05 00:00:00", "2024-01-08 00:00:00"),
            ("w2", "2024-01-12 00:00:00", "2024-01-13 12:00:00"),
            ("w3", "2024-01-20 06:00:00", "2024-01-25 00:00:00"),
        ],
        "win_name string, win_start string, win_end string",
    ).select(
        "win_name",
        F.col("win_start").cast("timestamp").alias("win_start"),
        F.col("win_end").cast("timestamp").alias("win_end"),
    )
    return (
        ev.join(
            F.broadcast(wins),
            (ev["ts"] >= wins["win_start"]) & (ev["ts"] < wins["win_end"]),
        )
        .groupBy("win_name")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@parity(
    "join_range_bucketed",
    sql="""
    SELECT w.win_name, COUNT(*) AS cnt, ROUND(SUM(e.value), 2) AS sum_value
    FROM events e
    JOIN (VALUES
      ('w1', TIMESTAMP '2024-01-05 00:00:00', TIMESTAMP '2024-01-08 00:00:00'),
      ('w2', TIMESTAMP '2024-01-12 00:00:00', TIMESTAMP '2024-01-13 12:00:00'),
      ('w3', TIMESTAMP '2024-01-20 06:00:00', TIMESTAMP '2024-01-25 00:00:00')
    ) w(win_name, win_start, win_end)
      ON e.ts >= w.win_start AND e.ts < w.win_end
    GROUP BY w.win_name
    """,
    doc="The join_range scale twin: the same interval join converted to "
    "a HASH equi-join on exploded day buckets + residual range filter "
    "(operators/relational.py::range_join_bucketed) — the shape that "
    "survives when both sides outgrow the broadcast nested-loop. Same "
    "oracle as join_range: bucketizing must be result-invariant.",
)
def join_range_bucketed(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    wins = spark.createDataFrame(
        [
            ("w1", "2024-01-05 00:00:00", "2024-01-08 00:00:00"),
            ("w2", "2024-01-12 00:00:00", "2024-01-13 12:00:00"),
            ("w3", "2024-01-20 06:00:00", "2024-01-25 00:00:00"),
        ],
        "win_name string, win_start string, win_end string",
    ).select(
        "win_name",
        F.col("win_start").cast("timestamp").alias("win_start"),
        F.col("win_end").cast("timestamp").alias("win_end"),
    )
    return (
        rel_ops.range_join_bucketed(ev, wins, "ts", "win_start", "win_end")
        .groupBy("win_name")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@parity(
    "f_agg_stats",
    sql="""
    SELECT (ROUND(stddev_pop(l_quantity) + 1e-9, 6) + 0.0) AS qty_stddev,
           (ROUND(stddev_samp(l_quantity) + 1e-9, 6) + 0.0) AS qty_stddev_samp,
           (ROUND(var_pop(l_quantity) + 1e-9, 6) + 0.0) AS qty_var,
           (ROUND(covar_pop(l_quantity, l_extendedprice) + 1e-9, 4) + 0.0) AS qty_price_cov
    FROM lineitem
    WHERE (TRY_CAST(ROUND((l_quantity) * 100) AS BIGINT) IS NOT NULL AND TRY_CAST(ROUND((l_quantity) * 100) AS BIGINT) > -2147483648 AND TRY_CAST(ROUND((l_quantity) * 100) AS BIGINT) < 2147483648)
      AND (TRY_CAST(ROUND((l_extendedprice) * 100) AS BIGINT) IS NOT NULL AND TRY_CAST(ROUND((l_extendedprice) * 100) AS BIGINT) > -2147483648 AND TRY_CAST(ROUND((l_extendedprice) * 100) AS BIGINT) < 2147483648)
    """,
    doc="Statistical aggregate surface: stddev (pop+samp), variance, "
    "covariance in one pass. (skewness/kurtosis are engine-specific in "
    "their bias correction — Spark uses population moments, DuckDB sample "
    "adjustment — so they're exercised in unit tests, not the oracle.)",
)
def f_agg_stats(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    li = li.filter(uband("l_quantity") & uband("l_extendedprice"))
    return li.agg(
        r_(F.stddev_pop("l_quantity"), 6).alias("qty_stddev"),
        r_(F.stddev_samp("l_quantity"), 6).alias("qty_stddev_samp"),
        r_(F.var_pop("l_quantity"), 6).alias("qty_var"),
        r_(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("qty_price_cov"),
    )


@parity(
    "f_argminmax",
    sql="""
    -- uniqueness-trick band: units*1e10 + key must fit int64, so rows
    -- enter only with |units| < 9e8 (a $9M order cap — far above any
    -- row-level price) and a representable key
    SELECT o_orderpriority,
           arg_max(o_orderkey, o_totalprice_units * 10000000000 + o_orderkey) AS top_order,
           arg_min(o_orderkey, o_totalprice_units * 10000000000 + o_orderkey) AS bottom_order
    FROM (
      SELECT o_orderpriority, o_orderkey,
             TRY_CAST(round(o_totalprice * 100) AS BIGINT) AS o_totalprice_units
      FROM orders
    )
    WHERE o_totalprice_units IS NOT NULL AND o_totalprice_units > -900000000 AND o_totalprice_units < 900000000
      AND o_orderkey IS NOT NULL AND o_orderkey BETWEEN 0 AND 9999999999
    GROUP BY o_orderpriority
    """,
    doc="argmax/argmin aggregate surface (max_by/min_by ↔ DuckDB "
    "arg_max/arg_min): per priority class, the order id holding the "
    "highest/lowest total price. Both engines break value ties "
    "arbitrarily, so the comparison value is made unique per row — "
    "exact cent units * 10^10 + orderkey (fits int64) — which also "
    "pins the tie-break to highest/lowest key. One partial+final "
    "aggregate; max_by carries (value, key) pairs through the combine "
    "so it shuffles one row per group at any scale.",
)
def f_argminmax(spark, sf_dir):
    o = (
        _t(spark, sf_dir, "orders")
        .filter(
            uband("o_totalprice", 900_000_000)
            & F.col("o_orderkey").isNotNull()
            & F.col("o_orderkey").between(0, 9_999_999_999)
        )
        .withColumn(
            "cmp",
            (u2("o_totalprice") * F.lit(10_000_000_000)) + F.col("o_orderkey"),
        )
    )
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", "cmp").alias("top_order"),
        F.min_by("o_orderkey", "cmp").alias("bottom_order"),
    )


@parity(
    "agg_count_if",
    sql="""
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
           COUNT(*) AS n_total,
           (ROUND(count_if(o_totalprice > 150000) * 1.0 / COUNT(*) + 1e-9, 4) + 0.0) AS big_frac,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Conditional-aggregation surface: count_if and sum(CASE WHEN) "
    "per group — the filtered-count idiom every quality dashboard "
    "uses. Single partial+final hash aggregate; the predicates fold "
    "into the partial, so no second scan and no join.",
)
def agg_count_if(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 150000
    return o.groupBy("o_orderpriority").agg(
        F.count_if(big).alias("n_big"),
        F.count("*").alias("n_total"),
        r_(F.count_if(big) / F.count("*"), 4).alias("big_frac"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("n_finished"),
    )


@parity(
    "f_array_funcs",
    sql="""
    -- NULL-poisoning CASE: Spark's aggregate() fold propagates a NULL
    -- element into a NULL sum, while DuckDB's list_sum silently SKIPS
    -- NULL elements — the oracle must state the fold semantics
    SELECT vec_id, len(embedding) AS dim,
           (ROUND(CAST(embedding[1] AS DOUBLE) + 1e-9, 6) + 0.0) AS first_component,
           (ROUND(CAST(CASE WHEN len(list_filter(embedding, x -> x IS NULL)) > 0 THEN NULL
                      ELSE list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) END AS DOUBLE) + 1e-9, 4) + 0.0) AS component_sum
    FROM embeddings
    """,
    doc="Array function surface over the embedding column: size, element "
    "access, higher-order sum (F.aggregate) — the primitives the "
    "similarity ops compose.",
)
def f_array_funcs(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    comp_sum = F.expr(
        "aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))"
    )
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        r_(F.col("embedding")[0].cast("double"), 6).alias("first_component"),
        r_(comp_sum, 4).alias("component_sum"),
    )


@parity(
    "tpch_q4",
    sql="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    """,
    doc="TPC-H Q4 shape: correlated EXISTS → left-semi join with an extra "
    "non-equi conjunct, then keyed count.",
)
def tpch_q4(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Further TPC-H shapes over the testdata star schema (Q2/Q7/Q10/Q12/Q14/
# Q17/Q19/Q22 analogs adapted to the available columns).
# ---------------------------------------------------------------------------


@parity(
    "tpch_q2",
    sql="""
    SELECT p_partkey, s_suppkey, s_acctbal FROM (
      SELECT l.l_partkey AS p_partkey, s.s_suppkey, s.s_acctbal,
             ROW_NUMBER() OVER (PARTITION BY l.l_partkey
                                ORDER BY s.s_acctbal, s.s_suppkey) AS rn
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_size < 10
    ) WHERE rn = 1
    """,
    doc="TPC-H Q2 shape (argmin per group): cheapest supplier per part — "
    "window rank-1 instead of a correlated MIN subquery.",
)
def tpch_q2(spark, sf_dir):
    from pyspark.sql import Window as W

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    w = W.partitionBy("l_partkey").orderBy("s_acctbal", "s_suppkey")
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("l_partkey").alias("p_partkey"), "s_suppkey", "s_acctbal")
    )


@parity(
    "tpch_q7",
    sql=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           {USUM(UREV('l'), 4)} AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE n1.n_nationkey <> n2.n_nationkey
      AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1998-01-01'
    GROUP BY n1.n_name, n2.n_name
    """,
    doc="TPC-H Q7 shape: cross-nation trade volume — two dim-broadcast "
    "joins onto the fact join, keyed agg over the nation pair.",
)
def tpch_q7(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation"))
    rev = urev()
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(F.col("nk1") != F.col("nk2"))
        .groupBy("supp_nation", "cust_nation")
        .agg(usum(rev, 4).alias("revenue"))
    )


@parity(
    "tpch_q10",
    sql=f"""
    SELECT c.c_custkey, c.c_name, {USUM(UREV('l'), 4)} AS revenue,
           c.c_acctbal, n.n_name
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= DATE '1997-01-01' AND o.o_orderdate < DATE '1998-01-01'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue ranking — selective fact "
    "filter, keyed agg, top-k on the aggregate. Scale shape: revenue is "
    "aggregated by o_custkey BEFORE touching customer (custkey "
    "functionally determines every other grouped attribute, and the "
    "integer-unit sum is exact, so the regroup is value-identical); the "
    "LIMIT 20 then runs as TakeOrderedAndProject on the aggregate, and "
    "only those 20 rows are broadcast into the customer/nation joins. "
    "Customer — the largest dim at 100 TB — is never broadcast, never "
    "shuffled, and only probed by a 20-row build side. The pre-top-k "
    "guard mirrors BOTH of the oracle's pre-ranking inner joins (custkey "
    "IN customer AND c_nationkey IN nation — ADVICE r5; "
    "property-pinned in test_properties.py against a join-first model "
    "on random dirty dims). Assumes dim PK uniqueness, like the oracle: "
    "under duplicate c_custkey rows agg-first and join-first genuinely "
    "diverge (join-first double-counts revenue into the ranking).",
)
def tpch_q10(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    per_cust = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(usum(urev(), 4).alias("revenue"))
    )
    # keys-only semi join BEFORE the top-k: a dangling/NULL o_custkey must
    # not hold a top-20 slot (the oracle's inner join drops it pre-ranking).
    # Both sides hash on custkey — the agg output is already partitioned
    # that way, so this moves keys, not customer rows. The guard also
    # requires c_nationkey IN nation (ADVICE r5): the oracle inner-joins
    # nation pre-ranking too, so a top-ranked customer with a dangling
    # c_nationkey must likewise yield its slot to rank 21 — the nation
    # probe is a broadcast semi join over keys only.
    n_keys = n.select(F.col("n_nationkey").alias("nnk"))
    c_keys = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(n_keys),
            F.col("c_nationkey") == F.col("nnk"),
            "left_semi",
        )
        .select(F.col("c_custkey").alias("ck"))
    )
    top = (
        per_cust.join(c_keys, per_cust["o_custkey"] == c_keys["ck"], "left_semi")
        .orderBy(F.col("revenue").desc(), F.col("o_custkey"))
        .limit(20)
    )
    return (
        F.broadcast(top).join(c, top["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@parity(
    "tpch_q12",
    sql="""
    SELECT CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) > 60
                THEN 'late' ELSE 'on_time' END AS ship_bucket,
           COUNT(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
           COUNT(*) FILTER (WHERE o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
    doc="TPC-H Q12 shape (shipmode → lateness buckets): conditional counts "
    "per bucket with priority classes.",
)
def tpch_q12(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    late = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > 60
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.when(late, "late").otherwise("on_time").alias("ship_bucket"))
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


@parity(
    "tpch_q14",
    sql=f"""
    SELECT (ROUND(100.0 * ({USUM(f"CASE WHEN p.p_type = 'PROMO' THEN {UREV('l')} ELSE 0 END", 4)}::DOUBLE
                          / {USUM(UREV('l'), 4)}::DOUBLE) + 1e-9, 4) + 0.0) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= DATE '1997-01-01' AND l.l_shipdate < DATE '1997-07-01'
    """,
    doc="TPC-H Q14 shape: promo revenue share — conditional aggregation "
    "ratio over a broadcast part join.",
)
def tpch_q14(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("date"))
    )
    p = _t(spark, sf_dir, "part")
    rev = urev()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("long"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            r_(
                F.lit(100.0)
                * (usum(promo, 4).cast("double") / usum(rev, 4).cast("double")),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@parity(
    "tpch_q17",
    sql=f"""
    SELECT (ROUND({USUM(U2('l.l_extendedprice'), 2)}::DOUBLE / 7.0 + 1e-9, 2) + 0.0) AS avg_yearly
    FROM lineitem l
    JOIN (SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_cut
          FROM lineitem GROUP BY l_partkey) t
    ON t.l_partkey = l.l_partkey
    WHERE l.l_quantity < t.qty_cut
    """,
    doc="TPC-H Q17 shape: small-quantity orders below 20% of the per-part "
    "average — the correlated-AVG subquery becomes a pre-aggregated "
    "broadcast join (no per-row subquery execution).",
)
def tpch_q17(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    cut = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(cut), li["l_partkey"] == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            r_(
                usum(u2("l_extendedprice"), 2).cast("double") / F.lit(7.0), 2
            ).alias("avg_yearly")
        )
    )


@parity(
    "tpch_q19",
    sql=f"""
    SELECT {USUM(UREV('l'), 4)} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#33' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
    doc="TPC-H Q19 shape: disjunctive multi-attribute predicate groups "
    "across the join (tests OR-predicate planning).",
)
def tpch_q19(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    g1 = (F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20)
    g2 = (F.col("p_brand") == "Brand#22") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 30)
    g3 = (F.col("p_brand") == "Brand#33") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 40)
    rev = urev()
    return j.filter(g1 | g2 | g3).agg(usum(rev, 4).alias("revenue"))


@parity(
    "tpch_q22",
    sql=f"""
    SELECT c.c_nationkey, COUNT(*) AS numcust,
           {USUM(U2('c.c_acctbal'), 2)} AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= DATE '2000-01-01')
    GROUP BY c.c_nationkey
    """,
    doc="TPC-H Q22 shape: above-average-balance customers with no recent "
    "orders — scalar-aggregate comparator (broadcast 1-row) + anti join.",
)
def tpch_q22(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("date")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            usum(u2("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@parity(
    "tpch_q8",
    sql=f"""
    WITH flat AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             {UREV('l')} AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
        AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1998-01-01'
    )
    SELECT o_year,
           (ROUND({USUM("CASE WHEN supp_nation = 'NATION_6' THEN volume ELSE 0 END", 4)}::DOUBLE
                 / {USUM('volume', 4)}::DOUBLE + 1e-9, 6) + 0.0) AS mkt_share
    FROM flat GROUP BY o_year
    """,
    doc="TPC-H Q8 shape: a nation's market share inside a region by year "
    "— 7-way star join, every dim pre-filtered and broadcast, single "
    "fact shuffle, conditional-ratio aggregate.",
)
def tpch_q8(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = n.select(F.col("n_nationkey").alias("nk1"), F.col("n_regionkey").alias("rk1"))
    n2 = n.select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("supp_nation")
    )
    volume = urev()
    flat = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("nk1"))
        .join(F.broadcast(r), F.col("rk1") == F.col("r_regionkey"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("nk2"))
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    target = F.when(F.col("supp_nation") == "NATION_6", F.col("volume")).otherwise(
        F.lit(0).cast("long")
    )
    return flat.groupBy("o_year").agg(
        r_(
            usum(target, 4).cast("double") / usum(F.col("volume"), 4).cast("double"),
            6,
        ).alias("mkt_share")
    )


@parity(
    "tpch_q9",
    sql=f"""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           {USUM(UREV('l'), 4)} AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY nation, o_year
    """,
    doc="TPC-H Q9 shape (product-type profit by nation and year). The "
    "testdata has no partsupp table, so profit omits ps_supplycost — "
    "the join/agg topology (part-name LIKE filter, supplier-nation "
    "rollup, year bucketing) is the exercised surface.",
)
def tpch_q9(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    o = _t(spark, sf_dir, "orders")
    rev = urev()
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(usum(rev, 4).alias("sum_profit"))
    )


@parity(
    "tpch_q13",
    sql="""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: customer order-count distribution — left outer "
    "join with an ON-clause residual filter (kept out of WHERE so "
    "customers with zero qualifying orders survive as c_count=0), "
    "double aggregation. Two shuffles by construction (custkey, then "
    "c_count — the second is tiny).",
)
def tpch_q13(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "5-LOW"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@parity(
    "tpch_q15",
    sql=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {USUM(UREV(), 4)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15 shape: top supplier by quarterly revenue — derived "
    "aggregate reused twice (revenue per supplier + its max) without "
    "recomputation hazards: the max is a broadcast 1-row comparator, "
    "equality is on the identically-rounded total both engines compute.",
)
def tpch_q15(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(usum(urev(), 4).alias("total_revenue"))
    )
    top = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


@parity(
    "tpch_q16",
    sql="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#9' AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    doc="TPC-H Q16 shape (supplier diversity per part segment). No "
    "partsupp table in the testdata, so supplier-part pairs come from "
    "lineitem; COUNT(DISTINCT) runs as Spark's two-phase "
    "partial-distinct aggregate — no row explosion beyond the "
    "(segment, suppkey) distinct set.",
)
def tpch_q16(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@parity(
    "tpch_q1",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           {USUM(U2('l_quantity'), 2)} AS sum_qty,
           {USUM(U2('l_extendedprice'), 2)} AS sum_base_price,
           {USUM(UREV(), 4)} AS sum_disc_price,
           {USUM(UREV() + ' * (100 + ' + U2('l_tax') + ')', 6)} AS sum_charge,
           (ROUND({USUM(U2('l_quantity'), 2)} / COUNT(*) + 1e-9, 4) + 0.0) AS avg_qty,
           (ROUND({USUM(U2('l_extendedprice'), 2)} / COUNT(*) + 1e-9, 4) + 0.0) AS avg_price,
           (ROUND({USUM(U2('l_discount'), 2)} / COUNT(*) + 1e-9, 4) + 0.0) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 in full: the 8-aggregate pricing summary report "
    "(ref workload's canonical scan-heavy query). ONE partial+final "
    "hash aggregate over a pushed-down date filter — every aggregate "
    "is map-side combinable, so the shuffle carries 4 groups × 8 "
    "accumulators regardless of fact size; the canonical 100 TB "
    "scan-dominated plan. Money sums use the exact integer-unit "
    "discipline (charge = price·(1−disc)·(1+tax) in 1e-6 units); "
    "averages divide the exact unit sums by the group count, so both "
    "engines divide identical doubles.",
    tags=("bench",),
)
def tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("date")
    )
    charge_units = urev() * (F.lit(100) + u2("l_tax"))
    n = F.count("*")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            usum(u2("l_quantity"), 2).alias("sum_qty"),
            usum(u2("l_extendedprice"), 2).alias("sum_base_price"),
            usum(urev(), 4).alias("sum_disc_price"),
            usum(charge_units, 6).alias("sum_charge"),
            r_(usum(u2("l_quantity"), 2) / n, 4).alias("avg_qty"),
            r_(usum(u2("l_extendedprice"), 2) / n, 4).alias("avg_price"),
            r_(usum(u2("l_discount"), 2) / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@parity(
    "tpch_q11",
    sql=f"""
    WITH value_per_part AS (
      SELECT l.l_partkey AS ps_partkey,
             SUM({UREV('l')}) AS units,
             {USUM(UREV('l'), 4)} AS part_value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
      GROUP BY l.l_partkey
    )
    SELECT ps_partkey, part_value
    FROM value_per_part
    WHERE units * 1000 > (SELECT SUM(units) FROM value_per_part)
    """,
    doc="TPC-H Q11 shape (important-stock concentration): per-part value "
    "for one nation's suppliers, kept only where it exceeds a fraction "
    "of the nation total. No partsupp table in the testdata, so value "
    "comes from lineitem revenue (same keyed-agg + "
    "global-scalar-comparator shape). The nation filter broadcasts "
    "into the fact scan; the HAVING threshold is a 1-row broadcast "
    "against the already-aggregated per-part frame — the fact is "
    "scanned once, the threshold costs one extra reduce of the "
    "aggregate, never a fact re-scan.",
)
def tpch_q11(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    nation_supps = s.join(
        F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]
    ).select("s_suppkey")
    # Threshold in exact 1e-4 integer units (not a DOUBLE re-sum of
    # part_value, which is order-dependent and can flip a boundary part
    # across engines): exact_sum per part on the big fact aggregate,
    # exact decimal sum over the (small) per-part frame, compare
    # units*1000 > total. DOUBLE only at output.
    per_part = (
        li.join(F.broadcast(nation_supps), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(exact_sum(urev()).alias("units"))
        .withColumn(
            "part_value",
            (F.col("units") / F.lit(10**4)).cast("decimal(38,4)").cast("double"),
        )
    )
    threshold = per_part.agg(F.sum("units").alias("thr"))
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .filter(F.col("units") * F.lit(1000) > F.col("thr"))
        .select("ps_partkey", "part_value")
    )


@parity(
    "tpch_q20",
    sql="""
    WITH promo_parts AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
    shipped AS (
      SELECT l_suppkey, l_partkey,
              CAST(SUM(TRY_CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_units
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        AND l_partkey IN (SELECT p_partkey FROM promo_parts)
      GROUP BY l_suppkey, l_partkey
    ),
    heavy AS (
      SELECT DISTINCT l_suppkey FROM shipped
      WHERE qty_units > (SELECT AVG(qty_units) FROM shipped)
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_1'
      AND s.s_suppkey IN (SELECT l_suppkey FROM heavy)
    """,
    doc="TPC-H Q20 shape (excess-stock suppliers): suppliers in one "
    "nation that shipped an above-average quantity of a part class in "
    "one year. No partsupp/availqty in the testdata, so the 0.5×avail "
    "threshold becomes the global average of the same aggregate (same "
    "scalar-comparator shape). Plan: part filter broadcasts into the "
    "fact scan, one (suppkey, partkey) aggregate, 1-row threshold "
    "broadcast, then a left-semi into the supplier dim — the fact is "
    "touched once; every join side that reaches it is broadcast.",
)
def tpch_q20(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    shipped = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"], "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(u2("l_quantity")).cast("long").alias("qty_units"))
    )
    thr = shipped.agg(F.avg("qty_units").alias("avg_units"))
    heavy = (
        shipped.crossJoin(F.broadcast(thr))
        .filter(F.col("qty_units") > F.col("avg_units"))
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(heavy), s["s_suppkey"] == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


def _sole_late_suppliers(spark, sf_dir, lo):
    """The body of tpch_q21 and tpch_q21_full over their (l_orderkey,
    l_suppkey, is_late) line frame: per supplier name, the number of
    multi-supplier orders on which that supplier was the only late one.
    EXISTS ⇔ n_supps > 1 and NOT EXISTS ⇔ n_late_supps = 1 (the late one
    being this supplier), as per-order window counts over the
    per-(order, supplier) frame."""
    from pyspark.sql import Window as W

    # ONE fact shuffle, not two: hash-partitioning on l_orderkey alone
    # satisfies both the (l_orderkey, l_suppkey) groupBy clustering AND
    # the l_orderkey window — without it Catalyst inserts a composite-key
    # exchange for the aggregate and a second prefix-key exchange for
    # the window (measured 20.2 s vs 11.1 s on the q21_full twin at sf1)
    lo = lo.repartition("l_orderkey")
    per_pair = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("pair_late")
    )
    w = W.partitionBy("l_orderkey")
    waiter = (
        per_pair.withColumn("n_supps", F.count("*").over(w))
        .withColumn(
            "n_late_supps",
            F.sum(F.when(F.col("pair_late"), 1).otherwise(0)).over(w),
        )
        .filter(
            F.col("pair_late")
            & (F.col("n_supps") > 1)
            & (F.col("n_late_supps") == 1)
        )
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        waiter.join(F.broadcast(s), waiter["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@parity(
    "tpch_q21",
    sql="""
    WITH f_orders AS (
      SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
    ),
    lo AS (
      SELECT l.l_orderkey, l.l_suppkey,
             (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS is_late
      FROM lineitem l JOIN f_orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT s.s_name, COUNT(*) AS numwait FROM (
      SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
      FROM lo l1
      WHERE l1.is_late
        AND EXISTS (SELECT 1 FROM lo l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lo l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey AND l3.is_late)
    ) waiter
    JOIN supplier s ON s.s_suppkey = waiter.l_suppkey
    GROUP BY s.s_name
    """,
    doc="TPC-H Q21 shape (suppliers who kept orders waiting): the "
    "sole-late-supplier query — the hardest correlated-subquery shape "
    "in the suite (EXISTS + NOT EXISTS against the same fact). No "
    "commit/receipt dates in the testdata, so 'late' is shipdate > "
    "orderdate + 60 days. Both correlated subqueries collapse into "
    "per-order window counts over the per-(order, supplier) frame: "
    "EXISTS ⇔ n_supps > 1, NOT EXISTS ⇔ n_late_supps = 1 ∧ "
    "the-late-one-is-me — turning two correlated semi/anti probes of a "
    "100 TB fact into ONE scan → one (orderkey, suppkey) reduce → one "
    "orderkey window (no self-join, no fact re-scan; supplier dim "
    "broadcast).",
)
def tpch_q21(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.date_add("o_orderdate", 60)).alias("is_late"),
    )
    return _sole_late_suppliers(spark, sf_dir, lo)


# ---------------------------------------------------------------------------
# Faithful TPC-H topology variants (VERDICT r7 §next-round-6). The driver
# testdata has no partsupp table and no l_commitdate/l_receiptdate, so the
# canonical q9/q11/q16/q20/q21 run above as documented analogs. The _full
# variants below restore the CANONICAL join topology — the two-sided
# partsupp probe and the commit/receipt lateness predicate — over tables
# DERIVED deterministically from the driver testdata with logic both
# engines express identically (so the oracle defines the exact same
# partsupp/date columns as a CTE; self-oracled at any SF, no generator
# artifacts to ship):
#   partsupp: one row per DISTINCT (l_partkey, l_suppkey) pair in
#     lineitem; ps_supplycost_cents = 100 + (pk*31 + sk*17) % 99900
#     (exact integer cents, $1.00–$999.99), ps_availqty = 1 + (pk*7 +
#     sk*13) % 9999. Keys positive, so % is identical cross-engine.
#   l_commitdate = l_shipdate + ((l_orderkey*3 + l_linenumber*5) % 30
#     - 10) days; l_receiptdate = l_shipdate + ((l_orderkey +
#     l_linenumber*7) % 14 + 1) days — receipt always after ship,
#     commit in [-10, +19], giving a realistic ~40% late mix.
# ---------------------------------------------------------------------------

_PARTSUPP_CTE = """
    partsupp AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             100 + ((l_partkey * 31 + l_suppkey * 17) % 99900)
               AS ps_supplycost_cents,
             CAST(1 + ((l_partkey * 7 + l_suppkey * 13) % 9999) AS BIGINT)
               AS ps_availqty
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    )
"""


def _partsupp(spark, sf_dir):
    """Engine-side twin of _PARTSUPP_CTE (same derivation, same types)."""
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    return pairs.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
        (
            F.lit(100)
            + (F.col("l_partkey") * 31 + F.col("l_suppkey") * 17) % 99900
        ).alias("ps_supplycost_cents"),
        (
            F.lit(1)
            + (F.col("l_partkey") * 7 + F.col("l_suppkey") * 13) % 9999
        )
        .cast("long")
        .alias("ps_availqty"),
    )


_LI_DATED_CTE = """
    lineitem_dated AS (
      SELECT l.*,
             CAST(l_shipdate AS DATE)
               + CAST((l_orderkey * 3 + l_linenumber * 5) % 30 - 10 AS INTEGER)
               AS l_commitdate,
             CAST(l_shipdate AS DATE)
               + CAST((l_orderkey + l_linenumber * 7) % 14 + 1 AS INTEGER)
               AS l_receiptdate
      FROM lineitem l
    )
"""


def _li_dated(spark, sf_dir):
    """Engine-side twin of _LI_DATED_CTE."""
    li = _t(spark, sf_dir, "lineitem")
    ship = F.col("l_shipdate").cast("date")
    return li.withColumn(
        "l_commitdate",
        F.date_add(
            ship,
            (
                (F.col("l_orderkey") * 3 + F.col("l_linenumber") * 5) % 30
                - 10
            ).cast("int"),
        ),
    ).withColumn(
        "l_receiptdate",
        F.date_add(
            ship,
            ((F.col("l_orderkey") + F.col("l_linenumber") * 7) % 14 + 1).cast(
                "int"
            ),
        ),
    )


@parity(
    "tpch_q9_full",
    sql=f"""
    WITH {_PARTSUPP_CTE.strip()}
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           {USUM(f"({UREV('l')} - ps.ps_supplycost_cents * CAST(ROUND(l.l_quantity) AS BIGINT) * 100)", 4)} AS sum_profit
    FROM lineitem l
    JOIN partsupp ps
      ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY nation, o_year
    """,
    doc="CANONICAL TPC-H Q9 (VERDICT r7 §next-round-6): product-type "
    "profit with the real two-sided partsupp probe — profit = "
    "l_extendedprice·(1−l_discount) − ps_supplycost·l_quantity, "
    "partsupp joined on BOTH l_partkey AND l_suppkey (the composite-key "
    "fact-to-fact shape the analog tpch_q9 cannot exercise). partsupp "
    "is derived deterministically (see the section comment), profit "
    "stays in exact 1e-4 integer units end-to-end. Scale plan: partsupp "
    "is fact-sized so that join shuffles on the composite key; the "
    "dims (filtered part, supplier, nation) broadcast; one final "
    "shuffle for the (nation, year) rollup.",
)
def tpch_q9_full(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    o = _t(spark, sf_dir, "orders")
    profit_units = urev() - F.col("ps_supplycost_cents") * F.round(
        "l_quantity"
    ).cast("long") * F.lit(100)
    return (
        li.join(
            ps,
            (li["l_partkey"] == ps["ps_partkey"])
            & (li["l_suppkey"] == ps["ps_suppkey"]),
        )
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            "nation", F.year("o_orderdate").cast("long").alias("o_year")
        )
        .agg(usum(profit_units, 4).alias("sum_profit"))
    )


@parity(
    "tpch_q11_full",
    sql=f"""
    WITH {_PARTSUPP_CTE.strip()},
    g AS (
      SELECT ps.ps_partkey,
             ps.ps_supplycost_cents * ps.ps_availqty AS v_cents
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_7'
    )
    SELECT ps_partkey, {USUM('v_cents', 2)} AS stock_value
    FROM g GROUP BY ps_partkey
    HAVING 1000 * SUM(v_cents) > (SELECT SUM(v_cents) FROM g)
    """,
    doc="CANONICAL TPC-H Q11 (VERDICT r7 §next-round-6): important-stock "
    "identification — per-part partsupp value (ps_supplycost × "
    "ps_availqty) within one nation, kept where the part's share "
    "exceeds 0.1% of the national total. The fraction guard runs in "
    "EXACT integer cents on both engines (1000·part > total — no "
    "float boundary), the surfaced value takes the usum decimal→double "
    "discipline. Scale plan: one shuffle for the per-part rollup; the "
    "national total is a 1-row broadcast comparator (the q15 pattern).",
)
def tpch_q11_full(spark, sf_dir):
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    g = (
        ps.join(F.broadcast(s), ps["ps_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias(
                "v_cents"
            ),
        )
    )
    per_part = g.groupBy("ps_partkey").agg(
        F.sum(F.col("v_cents").cast("decimal(38,0)")).alias("v_exact"),
        usum(F.col("v_cents"), 2).alias("stock_value"),
    )
    total = g.agg(
        F.sum(F.col("v_cents").cast("decimal(38,0)")).alias("t_exact")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("v_exact") * 1000 > F.col("t_exact"))
        .select("ps_partkey", "stock_value")
    )


@parity(
    "tpch_q16_full",
    sql=f"""
    WITH {_PARTSUPP_CTE.strip()}
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.ps_suppkey) AS supplier_cnt
    FROM partsupp ps JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#9'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND ps.ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7'
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    doc="CANONICAL TPC-H Q16 (VERDICT r7 §next-round-6): supplier "
    "diversity per part segment counted over PARTSUPP (not lineitem — "
    "the analog tpch_q16's substitution), with the canonical "
    "excluded-supplier NOT IN rendered as a broadcast anti-join "
    "(s_suppkey is non-null, so NOT IN ≡ anti join). COUNT(DISTINCT) "
    "runs as Spark's two-phase partial-distinct aggregate.",
)
def tpch_q16_full(spark, sf_dir):
    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_name").like("%7")
    ).select("s_suppkey")
    return (
        ps.join(
            F.broadcast(bad),
            ps["ps_suppkey"] == bad["s_suppkey"],
            "left_anti",
        )
        .join(F.broadcast(p), ps["ps_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@parity(
    "tpch_q20_full",
    sql=f"""
    WITH {_PARTSUPP_CTE.strip()},
    shipped AS (
      SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      GROUP BY l_partkey, l_suppkey
    ),
    candidates AS (
      SELECT DISTINCT ps.ps_suppkey
      FROM partsupp ps
      JOIN shipped sh
        ON sh.l_partkey = ps.ps_partkey AND sh.l_suppkey = ps.ps_suppkey
      WHERE ps.ps_partkey IN
              (SELECT p_partkey FROM part WHERE p_name LIKE '%gear%')
        AND ps.ps_availqty > 0.5 * sh.qty
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_3'
      AND s.s_suppkey IN (SELECT ps_suppkey FROM candidates)
    """,
    doc="CANONICAL TPC-H Q20 (VERDICT r7 §next-round-6): suppliers with "
    "excess stock of a part family — the correlated ps_availqty > "
    "0.5·SUM(l_quantity shipped that year for THIS (part, supplier)) "
    "probe, decorrelated as a (partkey, suppkey) pre-aggregate joined "
    "back to partsupp on the composite key (the canonical topology the "
    "analog lacks: partsupp probed by part-family on one side and "
    "shipment volume on the other). The inner join drops pairs with no "
    "shipments — matching SQL's NULL comparison semantics. Quantity "
    "sums are integral doubles, so 0.5·qty is exact on both engines. "
    "Scale plan: one fact shuffle for `shipped`, composite-key shuffle "
    "join to partsupp, part family + supplier/nation broadcast.",
)
def tpch_q20_full(spark, sf_dir):
    ps = _partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    shipped = (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    fam = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%gear%")
    ).select("p_partkey")
    cands = (
        ps.join(F.broadcast(fam), ps["ps_partkey"] == fam["p_partkey"], "left_semi")
        .join(
            shipped,
            (ps["ps_partkey"] == shipped["l_partkey"])
            & (ps["ps_suppkey"] == shipped["l_suppkey"]),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"], "left_semi")
        .join(cands, s["s_suppkey"] == cands["ps_suppkey"], "left_semi")
        .select("s_suppkey", "s_name")
    )


@parity(
    "tpch_q21_full",
    sql=f"""
    WITH {_LI_DATED_CTE.strip()},
    f_orders AS (
      SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
    ),
    lo AS (
      SELECT l.l_orderkey, l.l_suppkey,
             (l.l_receiptdate > l.l_commitdate) AS is_late
      FROM lineitem_dated l
      JOIN f_orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT s.s_name, COUNT(*) AS numwait FROM (
      SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
      FROM lo l1
      WHERE l1.is_late
        AND EXISTS (SELECT 1 FROM lo l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lo l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey AND l3.is_late)
    ) waiter
    JOIN supplier s ON s.s_suppkey = waiter.l_suppkey
    GROUP BY s.s_name
    """,
    doc="CANONICAL TPC-H Q21 (VERDICT r7 §next-round-6): the "
    "sole-late-supplier query with the REAL lateness predicate "
    "l_receiptdate > l_commitdate (derived deterministically — see the "
    "section comment — instead of the analog's shipdate-vs-orderdate "
    "substitute). Same scale plan as tpch_q21: both correlated "
    "subqueries collapse into per-order window counts over the "
    "per-(order, supplier) frame — one fact scan, one reduce, one "
    "window, no self-joins.",
)
def tpch_q21_full(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    lo = (
        _li_dated(spark, sf_dir)
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_receiptdate") > F.col("l_commitdate")).alias(
                "is_late"
            ),
        )
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .select("l_orderkey", "l_suppkey", "is_late")
    )
    return _sole_late_suppliers(spark, sf_dir, lo)


# ---------------------------------------------------------------------------
# Product-analytics operators over the events stream table: histogram,
# funnel, cohort retention — the aggregation shapes a training-data /
# analytics engine serves daily. All single-pass conditional aggregations.
# ---------------------------------------------------------------------------


@parity(
    "agg_histogram",
    sql="""
    -- TRY_CAST mirrors the engine's representability-guarded bin:
    -- NULL/NaN/Inf/out-of-int64 measures land in the NULL bin (the
    -- invalid-measure bucket), never a clamped Long.MAX bin
    SELECT TRY_CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bin, COUNT(*) AS cnt
    FROM orders GROUP BY 1
    """,
    doc="Histogram binning (fixed-width buckets via floor arithmetic — "
    "no width_bucket dependency); one keyed aggregate.",
)
def agg_histogram(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    v = F.col("o_totalprice") / 50000
    in_range = (v >= F.lit(-9223372036854775808.0)) & (
        v < F.lit(9223372036854775808.0)
    )
    bin_ = (
        F.when(in_range, F.floor(v)).otherwise(F.lit(None)).cast("long")
    )
    return o.groupBy(bin_.alias("bin")).agg(F.count("*").alias("cnt"))


@parity(
    "analytics_funnel",
    sql="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS v_ts FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.v_ts
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
      GROUP BY e.user_id
    )
    SELECT 'view' AS stage, (SELECT COUNT(*) FROM v) AS n_users
    UNION ALL SELECT 'click_after_view', (SELECT COUNT(*) FROM c)
    UNION ALL SELECT 'purchase_after_click', (SELECT COUNT(*) FROM p)
    """,
    doc="Ordered funnel analysis: users progressing view → click → "
    "purchase in strict event-time order. Each stage is a keyed min-ts "
    "aggregate joined forward — three shuffles on user_id total, no "
    "self-join explosion.",
)
def analytics_funnel(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    counts = [
        v.agg(F.lit("view").alias("stage"), F.count("*").alias("n_users")),
        c.agg(F.lit("click_after_view").alias("stage"), F.count("*").alias("n_users")),
        p.agg(F.lit("purchase_after_click").alias("stage"), F.count("*").alias("n_users")),
    ]
    return rel_ops.union_all(counts)


@parity(
    "analytics_retention",
    sql="""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00' THEN 1 ELSE 0 END) AS week0,
             MAX(CASE WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 1 ELSE 0 END) AS late
      FROM events GROUP BY user_id
    )
    SELECT CAST(SUM(week0) AS BIGINT) AS cohort_size,
           CAST(SUM(CASE WHEN week0 = 1 AND late = 1 THEN 1 ELSE 0 END) AS BIGINT) AS retained,
           (ROUND(SUM(CASE WHEN week0 = 1 AND late = 1 THEN 1 ELSE 0 END) * 100.0
                 / SUM(week0) + 1e-9, 4) + 0.0) AS retention_pct
    FROM per_user
    """,
    doc="Cohort retention: users active in week 0 who return in week 3+ — "
    "two conditional flags per user, one global rollup. Two-level "
    "aggregation, both map-side combinable.",
)
def analytics_retention(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    week0 = F.max(
        F.when(F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp"), 1).otherwise(0)
    )
    late = F.max(
        F.when(F.col("ts") >= F.lit("2024-01-22 00:00:00").cast("timestamp"), 1).otherwise(0)
    )
    per_user = ev.groupBy("user_id").agg(week0.alias("week0"), late.alias("late"))
    retained = F.sum(
        F.when((F.col("week0") == 1) & (F.col("late") == 1), 1).otherwise(0)
    )
    return per_user.agg(
        F.sum("week0").alias("cohort_size"),
        retained.alias("retained"),
        r_(retained * 100.0 / F.sum("week0"), 4).alias("retention_pct"),
    )


# ---------------------------------------------------------------------------
# SQL-interface surface: the reference's query language IS SQL (Trino); the
# engine accepts the same declarative SQL via spark.sql over registered
# views — including the federated three-part alias names.
# ---------------------------------------------------------------------------


@parity(
    "sql_text_q1",
    sql="""
    SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Plain-SQL entry point: the same text a Trino client would send "
    "(`cursor.execute(sql)`, localTrinoTest.ipynb:110-123) runs through "
    "spark.sql over registered views — Catalyst parse → analyze → "
    "optimize, identical results to the DataFrame plan.",
)
def sql_text_q1(spark, sf_dir):
    register_views(spark, sf_dir, names=("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@parity(
    "sql_federated_names",
    sql="""
    SELECT o.o_orderkey, c.c_name
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_orderdate < DATE '1995-02-01'
    """,
    doc="Federated three-part naming: the catalog registers "
    "`trinodemo_public_*` alias views mirroring Trino's "
    "catalog.schema.table resolution (`trinodemo.public.applehistory`, "
    "localTrinoTest.ipynb:120), case-insensitively.",
)
def sql_federated_names(spark, sf_dir):
    register_views(spark, sf_dir, names=("orders", "customer"))
    return spark.sql(
        """
        SELECT o.o_orderkey, c.c_name
        FROM TrinoDemo_Public_Orders o
        JOIN trinodemo_public_CUSTOMER c ON c.c_custkey = o.o_custkey
        WHERE o.o_orderdate < DATE '1995-02-01'
        """
    )


@parity(
    "win_ranking",
    sql="""
    SELECT o_orderkey, o_orderstatus,
           RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
           DENSE_RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS drnk,
           LAG(o_orderkey) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS prev_key,
           NTILE(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS quartile
    FROM orders QUALIFY rnk <= 50
    """,
    doc="Ranking-function surface (rank/dense_rank/lag/ntile) — SURVEY §2.5 "
    "notes the reference never exercises these; declared because "
    "implemented + oracle-tested. One shuffle on the partition key.",
)
def win_ranking(spark, sf_dir):
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_orderkey",
            "o_orderstatus",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.lag("o_orderkey").over(w).alias("prev_key"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .filter(F.col("rnk") <= 50)
    )


@parity(
    "agg_grouping_sets",
    sql="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS (beyond rollup/cube): three grouping "
    "combinations in one Expand+HashAggregate pass.",
)
def agg_grouping_sets(spark, sf_dir):
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@parity(
    "project_unpivot",
    sql="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_orderkey < 100
    """,
    doc="Unpivot / melt (wide measures → long form) — df.unpivot, the "
    "inverse of agg_pivot; narrow op, no shuffle.",
)
def project_unpivot(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@parity(
    "project_lateral_explode",
    sql="""
    SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
           embedding[CAST(i AS INT)] AS component
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) u(i)
    WHERE vec_id < 10
    """,
    doc="Lateral array explosion with position (posexplode / LATERAL VIEW) "
    "— array columns to long form, the bridge between nested and "
    "relational shapes.",
)
def project_lateral_explode(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "component")
    ).select("vec_id", F.col("pos").cast("long").alias("pos"), "component")


@parity(
    "f_regexp_extract_all",
    sql="""
    SELECT doc_id,
           -- DuckDB's array_to_string returns NULL for an EMPTY list
           -- (Spark's array_join returns '') but NULL input must stay
           -- NULL on both engines — hence the text-null guard around
           -- the empty-list COALESCE.
           CASE WHEN text IS NULL THEN NULL
                ELSE COALESCE(array_to_string(regexp_extract_all(text, '[a-z]+a[a-z]*'), '|'), '') END AS a_words,
           len(regexp_extract_all(text, '[a-z]+a[a-z]*')) AS n_a_words
    FROM documents WHERE doc_id < 50
    """,
    doc="regexp_extract_all → array of matches + count (multi-match "
    "string mining). Matches are '|'-joined to one string column so the "
    "driver canonicalizer can hash the row (array cells are unhashable "
    "in its pandas sort path); matches are [a-z]+ so the delimiter "
    "cannot collide.",
)
def f_regexp_extract_all(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    # idx=0: whole-match extraction (Spark defaults to capture group 1)
    matches = F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+a[a-z]*"), 0)
    return docs.select(
        "doc_id",
        F.array_join(matches, "|").alias("a_words"),
        F.size(matches).cast("long").alias("n_a_words"),
    )


@parity(
    "f_null_funcs",
    sql="""
    SELECT l_orderkey, l_linenumber,
           nullif(l_discount, 0.0) AS disc_or_null,
           coalesce(nullif(l_discount, 0.0), -1.0) AS disc_filled,
           greatest(l_quantity, l_discount * 100) AS g,
           least(l_quantity, l_tax * 100) AS l
    FROM lineitem WHERE l_orderkey < 200
    """,
    doc="NULL-handling scalar surface: nullif / coalesce / greatest / "
    "least.",
)
def f_null_funcs(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    disc_null = F.nullif(F.col("l_discount"), F.lit(0.0))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        disc_null.alias("disc_or_null"),
        F.coalesce(disc_null, F.lit(-1.0)).alias("disc_filled"),
        F.greatest(F.col("l_quantity"), F.col("l_discount") * 100).alias("g"),
        F.least(F.col("l_quantity"), F.col("l_tax") * 100).alias("l"),
    )


@parity(
    "setop_intersect_all",
    sql="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="INTERSECT ALL (multiset semantics — multiplicity = min of the two "
    "sides), df.intersectAll.",
)
def setop_intersect_all(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return a.intersectAll(b)


@parity(
    "setop_except_all",
    sql="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
    """,
    doc="EXCEPT ALL (multiset difference — multiplicities subtract), "
    "df.exceptAll.",
)
def setop_except_all(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "P").select(F.col("o_custkey").alias("custkey"))
    return a.exceptAll(b)


@parity(
    "f_math_funcs",
    sql="""
    SELECT l_orderkey, l_linenumber,
           (ROUND(sqrt(l_quantity) + 1e-9, 6) + 0.0) AS q_sqrt,
           (ROUND(exp(l_discount) + 1e-9, 6) + 0.0) AS d_exp,
           (ROUND(ln(l_extendedprice) + 1e-9, 6) + 0.0) AS p_ln,
           (ROUND(pow(l_tax + 1.0, 2) + 1e-9, 6) + 0.0) AS t_sq,
           abs(l_quantity - 25.0) AS q_absdev,
           CAST(sign(l_discount - 0.05) AS BIGINT) AS d_sign,
           CAST(mod(l_orderkey, 7) AS BIGINT) AS k_mod7
    FROM lineitem WHERE l_orderkey < 500
    """,
    doc="Math scalar surface: sqrt/exp/ln/pow/abs/sign/mod. Transcendental "
    "results rounded through the tie epsilon (libm ULP differences).",
)
def f_math_funcs(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        r_(F.sqrt("l_quantity"), 6).alias("q_sqrt"),
        r_(F.exp("l_discount"), 6).alias("d_exp"),
        r_(F.log("l_extendedprice"), 6).alias("p_ln"),
        r_(F.pow(F.col("l_tax") + 1.0, 2), 6).alias("t_sq"),
        F.abs(F.col("l_quantity") - 25.0).alias("q_absdev"),
        F.signum(F.col("l_discount") - 0.05).cast("long").alias("d_sign"),
        (F.col("l_orderkey") % 7).cast("long").alias("k_mod7"),
    )


@parity(
    "f_bitwise",
    sql="""
    SELECT o_orderkey,
           o_orderkey & 255 AS low_byte,
           o_orderkey | 4096 AS with_flag,
           xor(o_orderkey, o_custkey) AS key_xor,
           o_orderkey << 2 AS shifted_l,
           o_orderkey >> 3 AS shifted_r
    FROM orders WHERE o_orderkey < 1000
    """,
    doc="Bitwise scalar surface: and/or/xor/shifts (key partitioning and "
    "hash-bucketing primitives).",
)
def f_bitwise(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("o_orderkey").bitwiseOR(F.lit(4096)).alias("with_flag"),
        F.col("o_orderkey").bitwiseXOR(F.col("o_custkey")).alias("key_xor"),
        F.shiftleft(F.col("o_orderkey"), 2).alias("shifted_l"),
        F.shiftright(F.col("o_orderkey"), 3).alias("shifted_r"),
    )


@parity(
    "f_hash_funcs",
    sql="""
    SELECT c_custkey, md5(c_name) AS name_md5, sha256(c_name) AS name_sha256
    FROM customer WHERE c_custkey < 300
    """,
    doc="Cryptographic hash surface: md5 / sha-256 (hex output identical "
    "across engines — the content-addressing primitive for dedup).",
)
def f_hash_funcs(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2(F.col("c_name"), 256).alias("name_sha256"),
    )


@parity(
    "win_running_total",
    sql=f"""
    SELECT day, order_value,
           (ROUND(SUM(order_value) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-9, 2) + 0.0) AS running_total
    FROM ({_DAILY_ORD_SQL.replace("COUNT(*) AS n_orders,", "")})
    """,
    doc="Running total over time order (cumulative window frame). The "
    "global ordering is over the pre-aggregated ~daily frame, not raw "
    "rows — the scale-safe placement for unbounded frames.",
)
def win_running_total(spark, sf_dir):
    from pyspark.sql import Window as W

    daily = _daily_orders(spark, sf_dir).select("day", "order_value")
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return daily.select(
        "day",
        "order_value",
        r_(F.sum("order_value").over(w), 2).alias("running_total"),
    )


@parity(
    "win_moving_avg",
    sql=f"""
    SELECT day, n_orders,
           (ROUND(AVG(n_orders) OVER (ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) + 1e-9, 4) + 0.0) AS ma7
    FROM ({_DAILY_ORD_SQL})
    """,
    doc="7-row moving average over the daily series (bounded sliding "
    "frame — O(1) state per row).",
)
def win_moving_avg(spark, sf_dir):
    from pyspark.sql import Window as W

    daily = _daily_orders(spark, sf_dir).select("day", "n_orders")
    w = W.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "n_orders",
        r_(F.avg("n_orders").over(w), 4).alias("ma7"),
    )


@parity(
    "sample_deterministic",
    sql="""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR)) < '2'
    """,
    doc="Deterministic content-hash sampling (~1/8 rate): rows whose md5 "
    "key-hash falls below a hex threshold. Unlike rand()-based sampling "
    "this is reproducible across runs, engines, and partitionings — the "
    "property training-data splits need. Library variants (uniform with "
    "seed, stratified sampleBy) in operators.relational / tests.",
)
def sample_deterministic(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(
        F.md5(F.col("doc_id").cast("string")) < "2"
    ).select("doc_id", "lang", "n_chars")


@parity(
    "profile_table",
    sql="""
    SELECT 'o_custkey' AS column_name, COUNT(*) - COUNT(o_custkey) AS n_nulls,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_val, CAST(MAX(o_custkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority), MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
    doc="Table profiling: per-column null count / distinct count / min / "
    "max in one pass per column group — the data-quality sweep run before "
    "any training-data job.",
)
def profile_table(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")

    def prof(col):
        return o.agg(
            F.lit(col).alias("column_name"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).cast("string").alias("min_val"),
            F.max(col).cast("string").alias("max_val"),
        )

    return rel_ops.union_all(
        [prof("o_custkey"), prof("o_orderstatus"), prof("o_orderpriority")]
    )


@parity(
    "profile_skew",
    sql="""
    WITH counts AS (
      SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ),
    gstats AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
             MAX(cnt) AS max_cnt
      FROM counts
    ),
    top5 AS (
      SELECT user_id, cnt FROM counts ORDER BY cnt DESC, user_id ASC LIMIT 5
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id ASC) AS BIGINT) AS rnk,
           user_id, cnt,
           (ROUND(cnt * 1.0 / g.n_rows + 1e-9, 4) + 0.0) AS share,
           g.n_rows, g.n_keys,
           (ROUND(g.n_rows * 1.0 / g.n_keys + 1e-9, 4) + 0.0) AS avg_cnt,
           (ROUND(g.max_cnt * 1.0 * g.n_keys / g.n_rows + 1e-9, 4) + 0.0) AS skew_ratio
    FROM top5 CROSS JOIN gstats g
    """,
    doc="Join/agg-key skew diagnostics: per-key cardinality profile of "
    "events.user_id — heavy-hitter top-5 with share-of-total, plus "
    "global distinct-key count, mean rows/key, and skew ratio "
    "(max/mean). The pre-flight check before keying a 100 TB shuffle: "
    "per-key counts are ONE partial+final aggregate, the global stats "
    "are a 1-row broadcast, and the top-5 is TakeOrderedAndProject — "
    "nothing driver-side, nothing O(keys) beyond the keyed count.",
)
def profile_skew(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    glob = counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    from pyspark.sql import Window as W

    top5 = counts.orderBy(F.col("cnt").desc(), F.col("user_id").asc()).limit(5)
    w = W.orderBy(F.col("cnt").desc(), F.col("user_id").asc())
    return (
        top5.join(F.broadcast(glob))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .select(
            "rnk",
            "user_id",
            "cnt",
            r_(F.col("cnt") / F.col("n_rows"), 4).alias("share"),
            "n_rows",
            "n_keys",
            r_(F.col("n_rows") / F.col("n_keys"), 4).alias("avg_cnt"),
            r_(F.col("max_cnt") * F.col("n_keys") / F.col("n_rows"), 4).alias(
                "skew_ratio"
            ),
        )
    )


@parity(
    "win_resample_ffill",
    sql="""
    WITH obs AS (
      SELECT o_orderpriority AS k, o_orderdate AS d,
             SUM(TRY_CAST(round(o_totalprice * 100) AS BIGINT)) AS v
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-04-30'
      GROUP BY 1, 2
    ),
    spine AS (
      SELECT k, CAST(gs.d AS DATE) AS d
      FROM (SELECT DISTINCT k FROM obs)
      CROSS JOIN generate_series(DATE '1995-03-01', DATE '1995-04-30', INTERVAL 1 DAY) gs(d)
    )
    -- DOUBLE surface: the filled column is nullable only when the
    -- series has a leading gap, so its pandas dtype would otherwise
    -- flip int64/float64 WITH THE SCALE FACTOR (sf0.01 has a gap,
    -- sf0.1 does not) — deterministic DOUBLE renders identically
    -- always; units stay exact far below 2^53
    SELECT spine.k AS o_orderpriority, spine.d AS o_orderdate,
           CAST(last_value(obs.v IGNORE NULLS) OVER (
             PARTITION BY spine.k ORDER BY spine.d ROWS UNBOUNDED PRECEDING
           ) AS DOUBLE) AS rev_units,
           obs.v IS NULL AS filled
    FROM spine LEFT JOIN obs ON obs.k = spine.k AND obs.d = spine.d
    """,
    doc="Calendar resample + forward fill (pandas resample('D').ffill() "
    "engine-side): daily order-revenue series per priority densified "
    "onto every day of Mar-Apr 1995, gaps carried forward with "
    "last(ignorenulls) over (key ORDER BY date ROWS UNBOUNDED "
    "PRECEDING) — one hash partition by key, no global sort, spine "
    "size = keys x days independent of fact rows. Values in exact "
    "integer cent units so the fill is bit-identical across engines. "
    "`filled` distinguishes observation from carry "
    "(operators/windows.py::resample_ffill).",
)
def win_resample_ffill(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn("rev_units", u2("o_totalprice"))
    return win_ops.resample_ffill(
        o,
        key_col="o_orderpriority",
        date_col="o_orderdate",
        value_col="rev_units",
        start="1995-03-01",
        end="1995-04-30",
    ).toDF("o_orderpriority", "o_orderdate", "rev_units", "filled").withColumn(
        "rev_units", F.col("rev_units").cast("double")
    )


@parity(
    "win_lag_features",
    sql="""
    WITH daily AS (
      SELECT o_orderpriority AS k, o_orderdate AS d, COUNT(*) AS n
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-04-30'
      GROUP BY 1, 2
    )
    SELECT k AS o_orderpriority, d AS o_orderdate, n,
           lag(n, 1) OVER w AS n_lag1,
           lag(n, 7) OVER w AS n_lag7,
           n - lag(n, 1) OVER w AS n_diff1,
           (ROUND((n - lag(n, 1) OVER w) * 1.0 / lag(n, 1) OVER w + 1e-9, 4) + 0.0) AS n_pct_change
    FROM daily
    WINDOW w AS (PARTITION BY k ORDER BY d)
    """,
    doc="Per-key lag-feature generation (the time-series feature-"
    "engineering staple: value, lag-1, lag-7, first difference, percent "
    "change) over the daily order-count series per priority. All four "
    "features ride ONE window definition — one hash partition by key, "
    "one within-partition sort, no self-joins (the pandas shift() "
    "pattern engine-side). Integer counts keep diffs exact; pct_change "
    "is tie-safe rounded.",
)
def win_lag_features(spark, sf_dir):
    from pyspark.sql import Window as W

    daily = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-03-01").cast("date"))
            & (F.col("o_orderdate") <= F.lit("1995-04-30").cast("date"))
        )
        .groupBy("o_orderpriority", "o_orderdate")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("o_orderpriority").orderBy("o_orderdate")
    lag1 = F.lag("n", 1).over(w)
    return daily.select(
        "o_orderpriority",
        "o_orderdate",
        "n",
        lag1.alias("n_lag1"),
        F.lag("n", 7).over(w).alias("n_lag7"),
        (F.col("n") - lag1).alias("n_diff1"),
        r_((F.col("n") - lag1) / lag1, 4).alias("n_pct_change"),
    )


@parity(
    "win_session_native",
    sql="""
    WITH m AS (
      SELECT user_id, value, epoch_us(ts) AS ts_us,
             -- Strict >: session_window MERGES an event exactly gap
             -- after the previous one (gap-inclusive; verified on a
             -- synthetic exact-30min pair — one session, n_events=2),
             -- so only a strictly-larger gap starts a new session.
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      -- ts IS NOT NULL: session_window drops un-timestamped events at
      -- the operator level; the lag oracle must drop them at ingest too
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM m)
    SELECT user_id, MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
           COUNT(*) AS n_events, (ROUND(SUM(value) + 1e-9, 2) + 0.0) AS sum_value
    FROM s GROUP BY user_id, sess_id
    """,
    doc="Sessionization via Spark's NATIVE session_window operator "
    "(dynamic-gap merging inside the aggregate, the same operator the "
    "streaming path uses) — cross-checked against the lag-based "
    "formulation, which is the oracle here: session_window's window "
    "end is last_event + gap, so last-event time is recovered as "
    "end − gap. One shuffle on the session-window grouping; at 100 TB "
    "this is the operator that replaces the two-window lag pipeline "
    "with a single merging aggregate.",
)
def win_session_native(spark, sf_dir):
    gap_us = 30 * 60 * 1_000_000
    # explicit NULL-ts ingest drop: session_window silently excludes
    # un-timestamped rows anyway — make the timeline policy visible
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "value")
    )
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value") + F.lit(EPS), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("session_start_us"),
            (F.unix_micros("sw.end") - F.lit(gap_us)).alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


@parity(
    "win_sessionize",
    sql="""
    WITH m AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      -- ts IS NOT NULL: an event with no timestamp has no place on the
      -- session timeline; engine-side the same drop happens at ingest
      -- (a NULL lag would otherwise GLUE its neighbors into one
      -- session, differently per engine NULL ordering)
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM m)
    SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, COUNT(*) AS n_events,
           MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
           (ROUND(SUM(value) + 1e-9, 2) + 0.0) AS sum_value
    FROM s GROUP BY user_id, sess_id
    """,
    doc="Batch sessionization (30-min inactivity gap): lag → new-session "
    "flag → running-sum session id → per-session aggregate, all on ONE "
    "hash partitioning by user_id (both windows and the final "
    "(user_id, sess_id) groupBy reuse it — a subset of the grouping "
    "keys, so Catalyst inserts no second exchange; asserted in "
    "tests/test_scale_plans.py). The declarative twin of "
    "streaming.session_windows (F.session_window); timestamps compared "
    "in integer epoch-micros, the precision DuckDB reads nanosecond "
    "parquet at.",
)
def win_sessionize(spark, sf_dir):
    from pyspark.sql import Window as W

    gap_us = 30 * 60 * 1_000_000
    # timeline op: NULL-ts events dropped at ingest (oracle mirrors)
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts_ns").isNotNull())
        .select(
            "user_id", "event_id", "value", F.expr("ts_ns div 1000").alias("ts_us")
        )
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("ts_us").over(w)
    new_sess = F.when(
        prev.isNull() | ((F.col("ts_us") - prev) > gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    run = W.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sess = ev.withColumn("new_sess", new_sess).withColumn(
        "sess_id", F.sum("new_sess").over(run).cast("long")
    )
    return sess.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        r_(F.sum("value"), 2).alias("sum_value"),
    )


@parity(
    "grouped_map_gaps",
    sql="""
    WITH g AS (
      SELECT user_id, epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id, COUNT(gap_us) AS n_gaps,
           (ROUND(AVG(gap_us) / 1e6 + 1e-9, 4) + 0.0) AS avg_gap_sec,
           (ROUND(MAX(gap_us) / 1e6 + 1e-9, 4) + 0.0) AS max_gap_sec
    FROM g GROUP BY user_id
    """,
    doc="Grouped-map applyInPandas: per-entity inter-event-gap statistics "
    "computed in pandas per group (the shape for per-entity feature "
    "engineering that needs whole-group context — sessionization, "
    "per-user sequence models). Arrow batches per group; the oracle "
    "mirrors it with lag windows. Gaps computed on integer epoch-MICROS: "
    "exact in int64, and the precision DuckDB reads nanosecond parquet "
    "timestamps at (its TIMESTAMP truncates ns→µs).",
)
def grouped_map_gaps(spark, sf_dir):
    import pandas as pd

    # Timeline op: a NULL-ts event has no position on the time axis —
    # drop at ingest (oracle mirrors with ts IS NOT NULL). A NULL
    # user_id stays: it is a legitimate group key on both engines.
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts_ns").isNotNull())
        .select("user_id", F.expr("ts_ns div 1000").alias("ts_us"), "event_id")
    )

    def gaps(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # Subtract in the integer domain (Series.diff() would convert
        # int64 → float64 and ~1.7e15 epoch-µs values are near the 2^53
        # exactness edge); the resulting gaps are float64-exact.
        pdf = pdf.sort_values(["ts_us", "event_id"])
        # int64 with NULLs arrives as float64 — exact for µs epochs far
        # below 2^53, but cast back so the gap math stays integer.
        t = pdf["ts_us"].to_numpy().astype("int64")
        d = t[1:] - t[:-1]
        n = int(d.shape[0])
        uid = pdf["user_id"].iloc[0]
        return pd.DataFrame(
            {
                "user_id": [None if pd.isna(uid) else int(uid)],
                "n_gaps": [n],
                "avg_gap_sec": [
                    round(float(d.sum()) / n / 1e6 + 1e-9, 4) if n else None
                ],
                "max_gap_sec": [round(float(d.max()) / 1e6 + 1e-9, 4) if n else None],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        gaps,
        schema="user_id BIGINT, n_gaps BIGINT, avg_gap_sec DOUBLE, max_gap_sec DOUBLE",
    )


@parity(
    "udaf_weighted_mean",
    sql=f"""
    -- same exact-unit band contract as agg_regression: the weighted sum
    -- multiplies price units by integer quantities inside int64
    SELECT l_returnflag,
           (ROUND((CAST(SUM({U2('l_extendedprice')} * TRY_CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE)
                  / CAST(SUM(TRY_CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE)) / 100.0 + 1e-9, 4) + 0.0) AS wavg_price
    FROM lineitem
    WHERE {U2('l_extendedprice')} IS NOT NULL
      AND {U2('l_extendedprice')} > -2147483648
      AND {U2('l_extendedprice')} < 2147483648
      AND TRY_CAST(ROUND(l_quantity) AS BIGINT) IS NOT NULL
      AND TRY_CAST(ROUND(l_quantity) AS BIGINT) > -2147483648
      AND TRY_CAST(ROUND(l_quantity) AS BIGINT) < 2147483648
    GROUP BY l_returnflag
    """,
    doc="Custom aggregate via pandas GROUPED_AGG UDAF (SURVEY.md §2.10 "
    "UDAF surface): quantity-weighted mean price per return flag. "
    "Sums run in int64 units inside the UDAF (exact, "
    "order-independent); only the final ratio is a double, so the "
    "result is bit-identical across engines (operators.aggregates."
    "weighted_mean_udaf). Arrow-batched per group — no row loop. "
    "NOTE: pandas grouped-agg has no map-side combine (full rows "
    "shuffle) — custom-logic surface, not the 100 TB hot path; the "
    "built-in equivalent is usum(p*q)/usum(q).",
)
def udaf_weighted_mean(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        u2("l_extendedprice").alias("p_units"),
        F.round(F.col("l_quantity")).try_cast("long").alias("qty"),
    ).filter(
        F.col("p_units").isNotNull()
        & (F.col("p_units") > F.lit(-(1 << 31)))
        & (F.col("p_units") < F.lit(1 << 31))
        & F.col("qty").isNotNull()
        & (F.col("qty") > F.lit(-(1 << 31)))
        & (F.col("qty") < F.lit(1 << 31))
    )
    wmean = agg_ops.weighted_mean_udaf()
    return li.groupBy("l_returnflag").agg(
        r_(wmean("p_units", "qty"), 4).alias("wavg_price")
    )


@parity(
    "sink_upsert_snapshot",
    sql="""
    WITH snap AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
    upd AS (SELECT o_orderkey, 'U' AS o_orderstatus,
                   o_totalprice + 10.0 AS o_totalprice
            FROM orders WHERE o_orderkey % 10 < 3)
    SELECT COALESCE(u.o_orderkey, s.o_orderkey) AS o_orderkey,
           COALESCE(u.o_orderstatus, s.o_orderstatus) AS o_orderstatus,
           COALESCE(u.o_totalprice, s.o_totalprice) AS o_totalprice
    FROM snap s FULL OUTER JOIN upd u ON s.o_orderkey = u.o_orderkey
    """,
    doc="SCD-1 MERGE / upsert without a table format (operators."
    "relational.merge_upsert): an updates increment replaces same-key "
    "rows in the snapshot via full outer join + per-column COALESCE — "
    "the plan MERGE INTO compiles to on engines without delta logs. "
    "One co-partitioned shuffle per side; a small daily increment gets "
    "broadcast and the snapshot never shuffles.",
)
def sink_upsert_snapshot(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    upd = o.filter(F.col("o_orderkey") % 10 < 3).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
    )
    return rel_ops.merge_upsert(o, upd, ["o_orderkey"])


@parity(
    "scan_zonemap_pruned",
    sql="""
    SELECT l_orderkey, CAST(l_shipdate AS DATE) AS ship_day, l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-06-01' AND l_shipdate < TIMESTAMP '1997-09-01'
    """,
    doc="Zone-map data skipping — the lakehouse file-pruning layer "
    "BEYOND directory partition pruning: lineitem is laid out "
    "range-clustered on ship date (repartitionByRange write), a "
    "zone-map stats table (per-file min/max of the cluster column, "
    "built engine-side from input_file_name grouping — one bounded "
    "O(files) frame) is consulted at query time, and only files whose "
    "[min, max] intersects the predicate are read; the runtime assert "
    "requires the file list to actually shrink. The residual filter "
    "still applies after the skip, so results are layout-independent — "
    "the oracle runs the plain filter. This is Delta/Iceberg-style "
    "min-max skipping expressed with engine primitives; at 100 TB a "
    "date-clustered fact skips all but the matching fraction of files "
    "even when the table is not directory-partitioned. DRIVER-STATE "
    "BOUND (VERDICT r6): the zone stats collect() is O(n_files) × 3 "
    "scalars — ~10⁵-10⁶ files at 100 TB, megabytes, fine for a driver "
    "— but the production swap-in is a metastore/manifest file "
    "(Iceberg manifests, Delta checkpoint stats) read AS A TABLE and "
    "joined/broadcast to the scan, which this entry's query shape "
    "maps onto unchanged.",
)
def scan_zonemap_pruned(spark, sf_dir):
    base = os.path.join(_scratch(sf_dir), "lineitem_zoned")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    li.repartitionByRange(8, "l_shipdate").write.mode("overwrite").parquet(base)
    zones = (
        spark.read.parquet(base)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi")
        )
        .collect()
    )
    q_lo = "1997-06-01"
    q_hi = "1997-09-01"
    import datetime as _dt

    lo_ts = _dt.datetime(1997, 6, 1)
    hi_ts = _dt.datetime(1997, 9, 1)
    keep = [z["file"] for z in zones if z["hi"] >= lo_ts and z["lo"] < hi_ts]
    if not zones:
        # Empty table → zero files written, nothing to skip or read.
        return li.limit(0).select(
            "l_orderkey", F.to_date("l_shipdate").alias("ship_day"), "l_quantity"
        )
    if len(zones) > 1 and not (0 < len(keep) < len(zones)):
        raise AssertionError(
            f"zone map must prune: kept {len(keep)} of {len(zones)} files"
        )
    if not keep:  # predicate range misses every zone → empty result
        return li.limit(0).select(
            "l_orderkey", F.to_date("l_shipdate").alias("ship_day"), "l_quantity"
        )
    return (
        spark.read.parquet(*keep)
        .filter(
            (F.col("l_shipdate") >= F.lit(q_lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(q_hi).cast("timestamp"))
        )
        .select(
            "l_orderkey", F.to_date("l_shipdate").alias("ship_day"), "l_quantity"
        )
    )


@parity(
    "scan_zorder_2d",
    sql="""
    WITH st AS (
      SELECT MIN(l_partkey) AS p0, MAX(l_partkey) AS p1,
             MIN(l_suppkey) AS s0, MAX(l_suppkey) AS s1
      FROM lineitem
    )
    SELECT l_orderkey, l_partkey, l_suppkey
    FROM lineitem, st
    WHERE l_partkey >= p0 + GREATEST((p1 - p0) // 10, 1)
      AND l_partkey <  p0 + 3 * GREATEST((p1 - p0) // 10, 1)
      AND l_suppkey >= s0 + GREATEST((s1 - s0) // 10, 1)
      AND l_suppkey <  s0 + 3 * GREATEST((s1 - s0) // 10, 1)
    """,
    doc="Z-order (Morton) multi-dimensional clustering + zone-map "
    "skipping: lineitem is laid out range-clustered on the bit-"
    "interleave of (partkey, suppkey) — a pure-codegen 10-bit unrolled "
    "expression — so file-level min/max zones stay tight in BOTH "
    "dimensions and a predicate on EITHER column (or both) prunes "
    "files; a linear sort would prune only its leading column. Runtime "
    "asserts require pruning to fire for the partkey-only, the "
    "suppkey-only, and the 2-D predicate. Results stay layout-"
    "independent via the residual filter (oracle runs the plain 2-D "
    "filter). This is the Delta OPTIMIZE ZORDER BY pattern from engine "
    "primitives — the layout that serves mixed-dimension point/range "
    "lookups over a 100 TB fact without duplicating it per sort key. "
    "Same O(n_files)-scalars driver-state bound and metastore/manifest "
    "swap-in as scan_zonemap_pruned (VERDICT r6).",
)
def scan_zorder_2d(spark, sf_dir):
    base = os.path.join(_scratch(sf_dir), "lineitem_zorder")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    bits = 10
    # normalize both dims to the full 10-bit domain first — otherwise a
    # narrow dimension's high interleave bits are constant zero and the
    # range split degenerates to a linear sort on the wide dimension
    stats = li.agg(
        F.min("l_partkey").alias("p0"), F.max("l_partkey").alias("p1"),
        F.min("l_suppkey").alias("s0"), F.max("l_suppkey").alias("s1"),
    ).first()
    p0, p1, s0, s1 = stats["p0"], stats["p1"], stats["s0"], stats["s1"]
    if p0 is None:  # empty table → no layout to build, no rows to serve
        return li.limit(0).select("l_orderkey", "l_partkey", "l_suppkey")
    pn = F.floor(
        (F.col("l_partkey") - F.lit(p0)) * F.lit((2 ** bits) - 1)
        / F.lit(max(p1 - p0, 1))
    ).cast("long")
    sn = F.floor(
        (F.col("l_suppkey") - F.lit(s0)) * F.lit((2 ** bits) - 1)
        / F.lit(max(s1 - s0, 1))
    ).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(pn, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(sn, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    li.withColumn("__z", z).repartitionByRange(16, "__z").drop(
        "__z"
    ).write.mode("overwrite").parquet(base)
    zones = (
        spark.read.parquet(base)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min("l_partkey").alias("p_lo"), F.max("l_partkey").alias("p_hi"),
            F.min("l_suppkey").alias("s_lo"), F.max("l_suppkey").alias("s_hi"),
        )
        .collect()
    )
    n = len(zones)

    def keep(p=None, s=None):
        out = []
        for zrow in zones:
            ok = True
            if p is not None:
                ok &= zrow["p_hi"] >= p[0] and zrow["p_lo"] < p[1]
            if s is not None:
                ok &= zrow["s_hi"] >= s[0] and zrow["s_lo"] < s[1]
            if ok:
                out.append(zrow["file"])
        return out

    # data-adaptive query bounds — identical integer arithmetic in the
    # oracle SQL, so both engines filter the exact same range at any SF
    pg = max((p1 - p0) // 10, 1)
    sg = max((s1 - s0) // 10, 1)
    p_rng = (p0 + pg, p0 + 3 * pg)
    s_rng = (s0 + sg, s0 + 3 * sg)
    # per-dim pruning must fire whenever the dimension is wide enough to
    # cluster (narrow dims at toy SFs legitimately fill every zone)
    for dim, files, span in (
        ("partkey", keep(p=p_rng), p1 - p0),
        ("suppkey", keep(s=s_rng), s1 - s0),
        ("both", keep(p=p_rng, s=s_rng), min(p1 - p0, s1 - s0)),
    ):
        # n == 1: a table small enough to land in one file has nothing
        # to prune — the assert is about multi-file layouts only
        if n > 1 and span >= 64 and not (0 < len(files) < n):
            raise AssertionError(
                f"z-order zones must prune on {dim}: {len(files)}/{n}"
            )
    files = keep(p=p_rng, s=s_rng)
    if not files:
        return li.filter(F.lit(False)).select(
            "l_orderkey", "l_partkey", "l_suppkey"
        )
    return (
        spark.read.parquet(*files)
        .filter(
            (F.col("l_partkey") >= p_rng[0]) & (F.col("l_partkey") < p_rng[1])
            & (F.col("l_suppkey") >= s_rng[0]) & (F.col("l_suppkey") < s_rng[1])
        )
        .select("l_orderkey", "l_partkey", "l_suppkey")
    )


@parity(
    "profile_quality_checks",
    sql="""
    SELECT (SELECT COUNT(*) FROM orders) AS n_rows,
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS null_custkey,
           (SELECT COUNT(*) FROM
              (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
           ) AS dup_pk,
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
           ) AS fk_violations,
           (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) AS nonpositive_price
    """,
    doc="Data-quality constraint checks (the dbt-test / Deequ shape): "
    "primary-key uniqueness, not-null, referential integrity "
    "orders→customer, and a value-domain rule, evaluated engine-side "
    "in one job and returned as violation counts. Scale shape: the "
    "null/domain checks fold into ONE aggregate scan; PK uniqueness is "
    "a keyed count (partial+final); the FK check is a keys-only "
    "left-anti join (unhinted — the planner broadcasts the key set "
    "while it fits and falls back to a shuffle anti-join when the "
    "referenced table outgrows the threshold, as customer does at "
    "100 TB). The gate every ingest runs before promoting a batch.",
)
def profile_quality_checks(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    base = o.agg(
        F.count("*").alias("n_rows"),
        F.count_if(F.col("o_custkey").isNull()).alias("null_custkey"),
        F.count_if(F.col("o_totalprice") <= 0).alias("nonpositive_price"),
    )
    dup = (
        o.groupBy("o_orderkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count("*").alias("dup_pk"))
    )
    fk = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count("*").alias("fk_violations"))
    )
    return (
        base.crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(fk))
        .select("n_rows", "null_custkey", "dup_pk", "fk_violations",
                "nonpositive_price")
    )


@parity(
    "f_struct_funcs",
    sql="""
    SELECT o_orderkey,
           o_orderstatus AS status,
           o_orderpriority AS prio,
           CAST(o_totalprice AS DOUBLE) AS price,
           CAST(year(o_orderdate) AS BIGINT) AS order_year
    FROM orders WHERE o_orderkey % 10 = 0
    """,
    doc="Nested-struct surface: build a struct column (named_struct), "
    "nest it (struct of struct), reach through dotted field access, "
    "then star-expand back to flat columns at the output boundary — "
    "the shape semi-structured pipelines round-trip constantly. The "
    "oracle is the flat ground truth, so a field lost, reordered, or "
    "mistyped anywhere through the nest/unnest breaks the match. "
    "Map-only, whole-stage codegen.",
)
def f_struct_funcs(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    nested = o.select(
        "o_orderkey",
        F.struct(
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderpriority").alias("prio"),
            ).alias("meta"),
            F.struct(
                F.col("o_totalprice").cast("double").alias("price"),
                F.year("o_orderdate").cast("long").alias("order_year"),
            ).alias("money"),
        ).alias("rec"),
    )
    return nested.select(
        "o_orderkey",
        F.col("rec.meta.status").alias("status"),
        F.col("rec.meta.prio").alias("prio"),
        F.col("rec.money.*"),
    )


@parity(
    "f_map_funcs",
    sql="""
    SELECT o_orderkey, mkey, mval, 2 AS n_keys, o_orderstatus AS status_val
    FROM (
      SELECT o_orderkey, o_orderstatus, 'prio' AS mkey, o_orderpriority AS mval FROM orders
      UNION ALL
      SELECT o_orderkey, o_orderstatus, 'status', o_orderstatus FROM orders
    )
    """,
    doc="Map-type function surface: create_map → map_concat → "
    "element_at lookup → size → explode back to (key, value) rows "
    "(maps flattened at the output boundary — the driver canonicalizer "
    "hashes scalar strings, not dict reprs). The oracle reconstructs "
    "the exploded rows as ground truth, so a wrong merge, lookup, or "
    "lost entry breaks the match. All map ops are per-row expressions "
    "— map-side, no shuffle.",
)
def f_map_funcs(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    m = F.map_concat(
        F.create_map(F.lit("status"), F.col("o_orderstatus")),
        F.create_map(F.lit("prio"), F.col("o_orderpriority")),
    )
    return (
        o.withColumn("m", m)
        .select(
            "o_orderkey",
            F.explode("m").alias("mkey", "mval"),
            F.size("m").alias("n_keys"),
            F.element_at(F.col("m"), F.lit("status")).alias("status_val"),
        )
    )


@parity(
    "agg_bitmap_distinct",
    sql="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, user_id FROM events
    )
    SELECT CAST(CAST(date_trunc('week', day) AS DATE) AS VARCHAR) AS week,
           COUNT(DISTINCT user_id) AS exact_users
    FROM daily GROUP BY 1
    """,
    doc="EXACT mergeable distinct counts via bitmap aggregates (the "
    "BigQuery/Delta bitmap-rollup pattern, unlike HLL not an "
    "estimate): per (day, id-bucket) bitmaps built with "
    "bitmap_construct_agg, rolled up to weeks with bitmap_or_agg and "
    "counted — the oracle is plain COUNT(DISTINCT), and the bitmap "
    "path must EQUAL it. Daily bitmaps persist once; any coarser "
    "rollup ORs them without rescanning raw events (distinct counts "
    "are not summable; bitmaps are). Bucketing by "
    "bitmap_bucket_number keeps each bitmap a bounded 4 KB segment at "
    "any id range.",
)
def agg_bitmap_distinct(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(F.to_date("ts").alias("day"), "user_id")
        .withColumn("bucket", F.expr("bitmap_bucket_number(user_id)"))
        .groupBy("day", "bucket")
        .agg(
            F.expr(
                "bitmap_construct_agg(bitmap_bit_position(user_id))"
            ).alias("bm")
        )
    )
    return (
        daily.groupBy(
            F.to_date(F.date_trunc("week", "day")).cast("string").alias("week"),
            "bucket",
        )
        .agg(F.expr("bitmap_count(bitmap_or_agg(bm))").alias("bucket_users"))
        .groupBy("week")
        .agg(F.sum("bucket_users").cast("long").alias("exact_users"))
    )


@parity(
    "sql_recursive_cte",
    sql="""
    WITH RECURSIVE walk(node, cur, depth) AS (
      SELECT s_suppkey, s_suppkey, 0 FROM supplier
      UNION ALL
      SELECT node, cur // 2, depth + 1 FROM walk WHERE cur > 1
    )
    SELECT node AS s_suppkey, MAX(depth) AS chain_len FROM walk GROUP BY node
    """,
    doc="Recursive CTE (Spark 4 WITH RECURSIVE): per-supplier ancestor "
    "walk over the implicit binary hierarchy parent = node DIV 2 until "
    "the root — the org-chart/BOM traversal shape. Iterative union "
    "under the hood; depth is data-bounded (log2 of the key space). "
    "Identical ANSI text runs on DuckDB (// vs DIV is the only "
    "dialect difference). Spark's cteRecursionRowLimit safety valve "
    "defaults to 1M total recursion rows — the r9 sf10 sweep hit it "
    "at 100k suppliers (output is N·log2(maxkey) ≈ 2M there), so the "
    "entry sizes the valve from the data: rows ≤ N·64 + N for any "
    "int64 key space, a one-count bound exactly like a cluster run "
    "would set.",
)
def sql_recursive_cte(spark, sf_dir):
    register_views(spark, sf_dir, names=("supplier",))
    n = _t(spark, sf_dir, "supplier").count()
    # Size the recursion valve from the data (N suppliers × ≤64 halving
    # steps + the N seed rows), clamped to [engine default, int32 max]
    # so an empty table keeps the default and a >33M-supplier count
    # cannot overflow the int conf. The session is shared across
    # entries, so the raised valve is restored in `finally`; the result
    # is eagerly materialized first (localCheckpoint) because the
    # returned DataFrame would otherwise re-run the recursion lazily
    # under the restored limit.
    key = "spark.sql.cteRecursionRowLimit"
    prior = spark.conf.get(key, None)
    limit = max(1_000_000, min(65 * n + 65, 2**31 - 1))
    spark.conf.set(key, str(limit))
    try:
        return spark.sql(
            """
            WITH RECURSIVE walk(node, cur, depth) AS (
              SELECT s_suppkey, s_suppkey, 0 FROM supplier
              UNION ALL
              SELECT node, cur DIV 2, depth + 1 FROM walk WHERE cur > 1
            )
            SELECT node AS s_suppkey, MAX(depth) AS chain_len
            FROM walk GROUP BY node
            """
        ).localCheckpoint(eager=True)
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


@parity(
    "win_gap_islands",
    sql="""
    WITH d AS (SELECT DISTINCT user_id FROM events),
    r AS (
      SELECT user_id,
             user_id - CAST(ROW_NUMBER() OVER (ORDER BY user_id) AS BIGINT) AS grp
      FROM d
    )
    SELECT MIN(user_id) AS island_start, MAX(user_id) AS island_end,
           COUNT(*) AS island_len
    FROM r GROUP BY grp
    """,
    doc="Gaps-and-islands: maximal runs of consecutive ids via the "
    "value-minus-row_number trick (consecutive values share a constant "
    "difference), then one keyed aggregate per island — the sequence-"
    "integrity check that finds missing id ranges in an ingest. The "
    "global row_number is over the DISTINCT id set (bounded), not the "
    "fact; at 100 TB run it per partition key or derive islands from "
    "per-range min/max zone stats instead.",
)
def win_gap_islands(spark, sf_dir):
    from pyspark.sql import Window as W

    ids = _t(spark, sf_dir, "events").select("user_id").distinct()
    r = ids.withColumn(
        "grp",
        F.col("user_id") - F.row_number().over(W.orderBy("user_id")).cast("long"),
    )
    return r.groupBy("grp").agg(
        F.min("user_id").alias("island_start"),
        F.max("user_id").alias("island_end"),
        F.count("*").alias("island_len"),
    ).drop("grp")


@parity(
    "win_frame_values",
    sql="""
    SELECT o_orderkey, o_orderpriority,
           first_value(o_orderkey) OVER w AS frame_first,
           last_value(o_orderkey) OVER w AS frame_last,
           nth_value(o_orderkey, 2) OVER w AS frame_second,
           CAST(SUM(TRY_CAST(round(o_totalprice * 100) AS BIGINT))
                OVER w AS BIGINT) AS frame_price_units
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    QUALIFY o_orderkey % 20 = 0
    """,
    doc="Frame-bounded window value functions: first_value / last_value "
    "/ nth_value and a running frame sum over an explicit ROWS BETWEEN "
    "2 PRECEDING frame — the sliding-context primitives feature "
    "pipelines use (last_value over the default frame is the classic "
    "footgun; the explicit frame pins identical semantics on both "
    "engines). One hash partitioning + per-partition sort; the frame "
    "sum uses exact integer units so the running total is "
    "order-independent. Output thinned deterministically (key % 20).",
)
def win_frame_values(spark, sf_dir):
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy("o_orderkey")
        .rowsBetween(-2, 0)
    )
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.first("o_orderkey").over(w).alias("frame_first"),
            F.last("o_orderkey").over(w).alias("frame_last"),
            F.nth_value("o_orderkey", 2).over(w).alias("frame_second"),
            F.sum(u2("o_totalprice")).over(w).cast("long").alias(
                "frame_price_units"
            ),
        )
        .filter(F.col("o_orderkey") % 20 == 0)
    )


@parity(
    "analytics_funnel_strict",
    sql="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS v_ts FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT v.user_id, MIN(e.ts) AS c_ts
      FROM v JOIN events e ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.v_ts
        AND e.ts <= v.v_ts + INTERVAL 2 HOUR
      GROUP BY 1
    ),
    p AS (
      SELECT c.user_id, MIN(e.ts) AS p_ts
      FROM c JOIN events e ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        AND e.ts <= c.c_ts + INTERVAL 2 HOUR
      GROUP BY 1
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase
    """,
    doc="Strict sequential funnel with per-step time windows: first "
    "view → first qualifying click within 2 h → first qualifying "
    "purchase within 2 h of that click — order AND latency constrained "
    "(the loose any-order funnel is analytics_funnel). Each stage is "
    "one same-key join on user_id with the time bound as a residual "
    "plus a keyed MIN — three co-partitioned shuffles total, stage "
    "frames shrink monotonically, nothing fans out.",
)
def analytics_funnel_strict(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("e_ts")
    )
    c = (
        v.join(clicks, v["user_id"] == clicks["c_user"])
        .filter(
            (F.col("e_ts") > F.col("v_ts"))
            & (F.col("e_ts") <= F.col("v_ts") + F.expr("INTERVAL 2 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("e_ts").alias("c_ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("e_ts")
    )
    p = (
        c.join(purchases, c["user_id"] == purchases["p_user"])
        .filter(
            (F.col("e_ts") > F.col("c_ts"))
            & (F.col("e_ts") <= F.col("c_ts") + F.expr("INTERVAL 2 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("e_ts").alias("p_ts"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(F.broadcast(c.agg(F.count("*").alias("n_click"))))
        .crossJoin(F.broadcast(p.agg(F.count("*").alias("n_purchase"))))
    )


@parity(
    "win_distribution",
    sql="""
    SELECT o_orderkey, o_orderpriority,
           (ROUND(percent_rank() OVER w + 1e-9, 6) + 0.0) AS pct_rank,
           (ROUND(cume_dist() OVER w + 1e-9, 6) + 0.0) AS cume,
           NTILE(10) OVER w AS decile
    -- a NULL measure has no percentile position (Spark sorts it NULLS
    -- FIRST, DuckDB NULLS LAST) — excluded on both engines; NaN/±Inf
    -- order consistently (both engines sort NaN greatest) and stay
    FROM orders
    WHERE o_totalprice IS NOT NULL
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    QUALIFY o_orderkey % 20 = 0
    """,
    doc="Distribution window functions (percent_rank / cume_dist / "
    "ntile) per priority class — the percentile-position primitives "
    "quality-threshold filters key on. One hash partitioning by the "
    "class, per-partition sort, all three functions share the single "
    "window definition; the output is thinned deterministically "
    "(key % 20) to keep the driver frame small.",
)
def win_distribution(spark, sf_dir):
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.percent_rank().over(w) + F.lit(EPS), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w) + F.lit(EPS), 6).alias("cume"),
            F.ntile(10).over(w).alias("decile"),
        )
        .filter(F.col("o_orderkey") % 20 == 0)
    )


@parity(
    "win_trailing_distinct",
    sql="""
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
    ),
    contrib AS (
      SELECT CAST(e.ts AS DATE) + CAST(o.i AS INTEGER) AS win_day, e.user_id
      FROM events e, UNNEST(range(0, 7)) o(i)
    )
    SELECT c.win_day AS day, COUNT(DISTINCT c.user_id) AS users_7d
    FROM contrib c JOIN days d ON d.day = c.win_day
    GROUP BY 1
    """,
    doc="Trailing-7-day distinct users per day — the rolling-uniques "
    "metric every activity dashboard needs, which plain window frames "
    "cannot express (COUNT(DISTINCT) is not frame-mergeable). "
    "Engine shape: each event fans out map-side to the 7 window-days "
    "it contributes to (bounded ×7 explode — no self-join of the "
    "fact), then ONE (day, user) distinct aggregate; days outside the "
    "observed range are joined away against the broadcast day dim. At "
    "100 TB swap the exact distinct for per-day HLL sketches merged "
    "across the trailing window (agg_hll_rollup pattern) — same "
    "fan-out, fixed-size state.",
)
def win_trailing_distinct(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("ev_day"), "user_id"
    )
    days = ev.select(F.col("ev_day").alias("day")).distinct()
    contrib = ev.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "ev_day",
        "user_id",
    ).select(F.date_add("ev_day", F.col("i")).alias("win_day"), "user_id")
    return (
        contrib.join(F.broadcast(days), contrib["win_day"] == days["day"])
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
    )


@parity(
    "f_encoding_funcs",
    sql="""
    SELECT doc_id,
           to_base64(CAST(lang AS BLOB)) AS lang_b64,
           CAST(from_base64(to_base64(CAST(lang AS BLOB))) AS VARCHAR) AS lang_roundtrip,
           lower(hex(CAST(source AS BLOB))) AS source_hex,
           md5(text) AS text_md5
    FROM documents WHERE doc_id % 10 = 0
    """,
    doc="Binary encoding surface: base64 encode/decode round trip, hex "
    "encoding, md5 content digest — the payload-safe transport "
    "encodings every multimodal/binary pipeline crosses. Map-only "
    "codegen; the round trip makes a one-sided encoding bug visible "
    "even without the oracle.",
)
def f_encoding_funcs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    b64 = F.base64(F.col("lang").cast("binary"))
    return d.select(
        "doc_id",
        b64.alias("lang_b64"),
        F.unbase64(b64).cast("string").alias("lang_roundtrip"),
        F.lower(F.hex(F.col("source").cast("binary"))).alias("source_hex"),
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
    )


@parity(
    "agg_entropy",
    sql="""
    WITH c AS (
      SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY 1
    ),
    n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c)
    SELECT (ROUND(-SUM((c.cnt * 1.0 / n.total) * ln(c.cnt * 1.0 / n.total)) + 1e-9, 6) + 0.0) AS entropy_nats,
           COUNT(*) AS n_classes,
           (ROUND(ln(COUNT(*)) + 1e-9, 6) + 0.0) AS max_entropy
    FROM c CROSS JOIN n
    """,
    doc="Shannon entropy of the event-type distribution — the "
    "class-balance diagnostic a sampling/rebalancing pass reads "
    "before choosing temperatures. Probabilities come from exact "
    "integer counts (identical on both engines), so the double "
    "entropy sum runs on identical inputs; one keyed count + one "
    "|classes|-row reduce.",
)
def agg_entropy(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count("*").alias("cnt"))
    n = c.agg(F.sum("cnt").cast("long").alias("total"))
    p = F.col("cnt") * 1.0 / F.col("total")
    return (
        c.crossJoin(F.broadcast(n))
        .agg(
            F.round(-F.sum(p * F.log(p)) + F.lit(EPS), 6).alias("entropy_nats"),
            F.count("*").alias("n_classes"),
            F.round(F.log(F.count("*")) + F.lit(EPS), 6).alias("max_entropy"),
        )
    )


@parity(
    "f_date_trunc",
    sql="""
    SELECT event_id,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour,
           CAST(date_trunc('week', ts) AS DATE) AS week_start,
           CAST(date_trunc('month', ts) AS DATE) AS month_start,
           CAST(date_trunc('quarter', ts) AS DATE) AS quarter_start,
           CAST(last_day(CAST(ts AS DATE)) AS DATE) AS month_end,
           CAST(isodow(ts) AS BIGINT) AS iso_dow,
           CAST(weekofyear(ts) AS BIGINT) AS iso_week
    FROM events WHERE event_id % 25 = 0
    """,
    doc="Datetime truncation family: hour/week/month/quarter truncs, "
    "last_day, ISO day-of-week and ISO week number — the bucket keys "
    "every time rollup groups by. Map-only; Spark dayofweek is "
    "Sunday=1 so ISO dow is derived ((dow+5) % 7 + 1), mirrored "
    "against DuckDB's native isodow.",
)
def f_date_trunc(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 25 == 0)
    return ev.select(
        "event_id",
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("ts_hour"),
        F.to_date(F.date_trunc("week", "ts")).alias("week_start"),
        F.to_date(F.date_trunc("month", "ts")).alias("month_start"),
        F.to_date(F.date_trunc("quarter", "ts")).alias("quarter_start"),
        F.last_day(F.to_date("ts")).alias("month_end"),
        ((F.dayofweek("ts") + 5) % 7 + 1).cast("long").alias("iso_dow"),
        F.weekofyear("ts").cast("long").alias("iso_week"),
    )


@parity(
    "agg_string_concat",
    sql="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           COUNT(DISTINCT o_orderstatus) AS n_statuses
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Ordered string aggregation (listagg/string_agg): per group, "
    "the sorted distinct member list as one delimited string — the "
    "report-friendly collect that is nondeterministic unless the "
    "ordering is pinned. Spark realizes it as collect_set → "
    "array_sort → array_join (all codegen; collect order never leaks "
    "because the sort happens after collection).",
)
def agg_string_concat(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderstatus")), ","
        ).alias("statuses"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@parity(
    "agg_regression",
    sql="""
    -- exact-moment ingest contract: unit PRODUCTS must fit int64, so a
    -- measure only enters the moment pass when its integer units exist
    -- (finite) and |units| < 2^31 (any sane money/qty is far inside);
    -- out-of-band rows are invalid for exact stats on both engines
    WITH u AS (
      SELECT TRY_CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
             TRY_CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    uf AS (
      SELECT x, y FROM u
      WHERE x IS NOT NULL AND x > -2147483648 AND x < 2147483648
        AND y IS NOT NULL AND y > -2147483648 AND y < 2147483648
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM uf
    )
    SELECT n,
           (ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) + 1e-9, 6) + 0.0) AS slope,
           (ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n / 100.0 + 1e-9, 4) + 0.0) AS intercept,
           (ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)) + 1e-9, 6) + 0.0) AS r2
    FROM s
    """,
    doc="OLS regression aggregates (slope / intercept / R²) of price on "
    "quantity computed from EXACT integer-unit moment sums — each "
    "moment accumulates through the same hi/lo split-long discipline "
    "as usum (Σy² is ~1e14/row: a naive long sum overflows int64 "
    "around sf0.1 under ANSI mode; the split keeps exactness to ~1e12 "
    "rows), recombined in decimal and cast to double, so the one "
    "shuffle-free global aggregate is bit-identical at any "
    "partitioning and the closed-form double arithmetic runs on "
    "identical inputs on both engines (DuckDB sums into HUGEINT — "
    "exact without a split). The manual-moments formulation exists "
    "precisely because built-in regr_*/covar differ across engines in "
    "co-moment merge order. ONE partial+final aggregate over the scan.",
)
def agg_regression(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # unit-band ingest guard — see the oracle comment: products of
    # in-band units (< 2^31) stay exact in int64
    li = li.filter(
        uband("l_quantity") & uband("l_extendedprice")
    ).withColumn("__x", u2("l_quantity")).withColumn(
        "__y", u2("l_extendedprice")
    )
    x = F.col("__x")
    y = F.col("__y")

    def moment(e):
        return exact_sum(e).cast("double")

    s = li.agg(
        F.count("*").alias("n"),
        moment(x).alias("sx"),
        moment(y).alias("sy"),
        moment(x * y).alias("sxy"),
        moment(x * x).alias("sxx"),
        moment(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    # try_divide throughout: a zero-variance x (constant column /
    # single row) must surface NULL slope/r2 like DuckDB's x/0, not an
    # ANSI DIVIDE_BY_ZERO crash in the driver's plain session.
    slope = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    return s.select(
        "n",
        F.round(slope + F.lit(EPS), 6).alias("slope"),
        F.round(
            F.try_divide(sy - slope * sx, n) / 100.0 + F.lit(EPS), 4
        ).alias("intercept"),
        F.round(
            F.try_divide(
                (n * sxy - sx * sy) * (n * sxy - sx * sy),
                (n * sxx - sx * sx) * (n * syy - sy * sy),
            )
            + F.lit(EPS),
            6,
        ).alias("r2"),
    )


@parity(
    "agg_mode",
    sql="""
    SELECT o_orderpriority,
           arg_max(o_orderstatus, cnt_key) AS mode_status,
           MAX(cnt) AS mode_count
    FROM (
      SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt,
             COUNT(*) * 1000 - CAST(ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority ORDER BY o_orderstatus) AS BIGINT) AS cnt_key
      FROM orders GROUP BY 1, 2
    ) GROUP BY o_orderpriority
    """,
    doc="Per-group mode (most frequent value): two-level aggregate — "
    "(group, value) counts, then max_by over the counts with a "
    "deterministic lexicographic tie-break folded into the comparison "
    "key. Both aggregates are partial+final map-side combinable; the "
    "second operates on |groups × distinct values| rows, not fact "
    "rows. MAX(cnt) in the outer level is the winner's count only "
    "because the tie-break perturbation is smaller than one count "
    "unit.",
)
def agg_mode(spark, sf_dir):
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("cnt")
    )
    rn = F.row_number().over(
        W.partitionBy("o_orderpriority").orderBy("o_orderstatus")
    )
    keyed = counts.withColumn(
        "cnt_key", F.col("cnt") * 1000 - rn.cast("long")
    )
    return keyed.groupBy("o_orderpriority").agg(
        F.max_by("o_orderstatus", "cnt_key").alias("mode_status"),
        F.max("cnt").alias("mode_count"),
    )


@parity(
    "f_url_funcs",
    sql="""
    SELECT doc_id,
           regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
           regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]doc=([^&#]*)', 1) AS doc_param
    FROM (
      SELECT doc_id,
             concat('https://corpus-', lang, '.example.org/docs/', source,
                    '?doc=', CAST(doc_id AS VARCHAR), '&v=2') AS url
      FROM documents
    )
    """,
    doc="URL parsing surface (parse_url: scheme/host/path/query "
    "parameter) over synthesized per-document URLs — the "
    "canonicalization primitive web-corpus dedup keys on. Spark uses "
    "the native parse_url expression; the oracle mirrors RFC-3986 "
    "component extraction with regexes — a divergent parse on any URL "
    "breaks the match. Map-only, whole-stage codegen.",
)
def f_url_funcs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://corpus-"), F.col("lang"), F.lit(".example.org/docs/"),
        F.col("source"), F.lit("?doc="), F.col("doc_id").cast("string"),
        F.lit("&v=2"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url(F.col("url"), F.lit("PROTOCOL")).alias("scheme"),
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("doc")).alias(
            "doc_param"
        ),
    )


@parity(
    "f_try_arith",
    sql="""
    SELECT o_orderkey,
           o_totalprice / (o_orderkey % 5) AS safe_div,
           TRY_CAST(CASE WHEN o_orderkey % 3 = 0 THEN 'nope'
                         ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT) AS parsed,
           CASE WHEN o_orderkey % 4 = 1 THEN NULL
                ELSE o_orderkey + 1 END AS bumped
    FROM orders
    """,
    doc="ANSI-safe arithmetic surface: Spark 4 runs ANSI mode by "
    "default (overflow/bad-cast/div-by-zero RAISE), so pipelines need "
    "the try_* family to degrade to NULL instead of failing a 100 TB "
    "job on one dirty row. try_divide(x, 0) → NULL, try_cast('nope') "
    "→ NULL, try_add at int64 max → NULL; the oracle computes the "
    "expected NULLs from the construction rule (DuckDB itself raises "
    "on int64 overflow — the CASE is ground truth, so a try_add that "
    "silently wraps or errors breaks the match).",
)
def f_try_arith(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    overflow_in = F.when(
        F.col("o_orderkey") % 4 == 1, F.lit(9223372036854775807)
    ).otherwise(F.col("o_orderkey"))
    return o.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 5).alias(
            "safe_div"
        ),
        F.expr(
            "try_cast(CASE WHEN o_orderkey % 3 = 0 THEN 'nope' "
            "ELSE CAST(o_orderkey AS STRING) END AS BIGINT)"
        ).alias("parsed"),
        F.try_add(overflow_in, F.lit(1)).alias("bumped"),
    )


@parity(
    "scan_schema_evolution",
    sql="""
    -- the synthetic generation split partitions rows BY KEY PARITY: a
    -- NULL key matches neither generation filter and lands in neither
    -- file — the oracle reproduces that
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey IS NOT NULL
    """,
    doc="Schema evolution on read: two generations of the same dataset "
    "(v1 without the price column, v2 with it) land in one directory; "
    "a mergeSchema scan unifies them — v1 rows surface NULL for the "
    "added column instead of failing the read. The everyday 100 TB "
    "reality: a table's columns change mid-history and the engine must "
    "read across the boundary. The oracle reconstructs the same "
    "union-by-name result from the source table.",
)
def scan_schema_evolution(spark, sf_dir):
    base = os.path.join(_scratch(sf_dir), "orders_evolving")
    o = _t(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(base)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@parity(
    "sink_compact_files",
    sql="SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem",
    doc="Small-files compaction — the table-maintenance pass every "
    "streaming/incremental sink needs: a fragmented landing zone (64 "
    "files here) is rewritten through repartition(4) into few "
    "right-sized files. Data must survive compaction byte-identically "
    "(the oracle reads the SOURCE table, so any row lost or mangled in "
    "either write breaks the match); the file-count contract is "
    "asserted at runtime. At 100 TB this is the defragmentation job "
    "that keeps scan task counts sane; target size per file comes from "
    "spark.sql.files.maxPartitionBytes at read time.",
)
def sink_compact_files(spark, sf_dir):
    frag = os.path.join(_scratch(sf_dir), "lineitem_fragmented")
    compact = os.path.join(_scratch(sf_dir), "lineitem_compacted")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    li.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(
        compact
    )
    n_frag = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    n_comp = len([f for f in os.listdir(compact) if f.endswith(".parquet")])
    # An empty/tiny table never fragments (AQE collapses empty shuffle
    # partitions to 0-1 files) — only assert when fragmentation existed.
    if n_frag > 4 and not (n_comp < n_frag and n_comp <= 4):
        raise AssertionError(f"compaction failed: {n_frag} -> {n_comp} files")
    if n_comp == 0:
        return li.limit(0)
    return spark.read.parquet(compact)


@parity(
    "stream_rollup_mv",
    sql="""
    -- TRY_CAST mirrors genutil.milli_units: non-int64-representable
    -- scaled values (NaN/Inf/1e308) accumulate as NULL-skipped cells
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(TRY_CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS v_milli
    FROM events GROUP BY user_id
    """,
    doc="Streaming materialized view, END-TO-END through Structured "
    "Streaming: the events landing zone is re-laid as a 3-file stream "
    "source, drained with Trigger.AvailableNow and "
    "maxFilesPerTrigger=1 (forcing MULTIPLE micro-batches), and each "
    "batch's per-user delta merges into the versioned snapshot chain "
    "via foreachBatch (streaming.kafka_shape.streaming_rollup_sink — "
    "replay-safe: batch N rewrites its own version from version N-1). "
    "The returned frame is the FINAL snapshot version; the oracle is "
    "the batch full recompute over all events, so the incremental "
    "chain must equal it bit-for-bit — the integer-unit accumulators "
    "make that hold under any batch split.",
)
def stream_rollup_mv(spark, sf_dir):
    import shutil

    from .streaming import kafka_shape as ks

    base = os.path.join(_scratch(sf_dir), "stream_rollup_mv")
    land = os.path.join(base, "land")
    snap = os.path.join(base, "snap")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    ev = _t(spark, sf_dir, "events")
    ev.repartition(3).write.parquet(land)
    stream = (
        spark.readStream.schema(spark.read.parquet(land).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    q = ks.streaming_rollup_sink(stream, snap, ckpt)
    q.awaitTermination(180)
    versions = (
        sorted(
            int(d.split("=")[1]) for d in os.listdir(snap) if d.startswith("v=")
        )
        if os.path.isdir(snap)
        else []
    )
    n_land = len([f for f in os.listdir(land) if f.endswith(".parquet")])
    # maxFilesPerTrigger=1 → one micro-batch per landed file; only a
    # degenerate (empty) landing zone is allowed to produce fewer than 2.
    if n_land >= 2 and len(versions) < 2:
        raise AssertionError(
            f"expected multiple micro-batches, got versions {versions}"
        )
    if not versions:
        return ev.limit(0).groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(genutil.milli_units("value")).alias("v_milli"),
        )
    return spark.read.parquet(f"{snap}/v={versions[-1]}")


@parity(
    "sink_incremental_rollup",
    sql="""
    -- ts IS NOT NULL: an event with no timestamp cannot be assigned to
    -- any incremental batch (engine drops it at ingest). TRY_CAST: a
    -- value whose milli-units exceed int64 (NaN/Inf/1e308) has no exact
    -- integer representation — it contributes NULL (skipped) on both
    -- engines instead of an ANSI overflow crash.
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(TRY_CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS v_milli
    FROM events WHERE ts IS NOT NULL GROUP BY user_id
    """,
    doc="Incremental aggregate maintenance (operators.relational."
    "merge_rollup): the per-user rollup through a cutoff is PERSISTED "
    "(parquet snapshot), and the increment after the cutoff is "
    "aggregated alone and merged per key — old + new for every "
    "additive accumulator, full outer on the key so new users appear "
    "and cold users pass through untouched. The oracle recomputes the "
    "rollup over ALL events: incremental must equal full recompute "
    "bit-for-bit, which is exactly why the accumulators are integer "
    "units (associative; a double SUM would drift under "
    "re-parenthesization). The 100 TB pattern: base scanned once "
    "ever, each increment scans only the delta and merges O(keys).",
)
def sink_incremental_rollup(spark, sf_dir):
    # NULL-ts events can't be assigned to a batch window — drop at
    # ingest (oracle mirrors). try_cast: out-of-int64 milli-units
    # (NaN/Inf/1e308) roll up as NULL-skipped, not an overflow crash.
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    v_milli = genutil.milli_units("value")

    def rollup(df):
        return df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(v_milli).alias("v_milli"),
        )

    snap_path = os.path.join(_scratch(sf_dir), "rollup_snapshot")
    rollup(ev.filter(F.col("ts") < cutoff)).write.mode("overwrite").parquet(
        snap_path
    )
    snapshot = spark.read.parquet(snap_path)
    delta = rollup(ev.filter(F.col("ts") >= cutoff))
    return rel_ops.merge_rollup(
        snapshot, delta, keys=["user_id"], add_cols=["n_events", "v_milli"]
    )


@parity(
    "cdc_snapshot_diff",
    sql="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, TRUE AS o_present
      FROM orders
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 < 3 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 10 < 3 THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice,
             TRUE AS n_present
      FROM orders WHERE o_orderkey % 10 <> 7
      UNION ALL
      SELECT o_orderkey + 10000000, 'N', 1.0, TRUE FROM orders WHERE o_orderkey % 10 = 5
    )
    -- presence via sentinels, not key nullability: a NULL-keyed row is
    -- PRESENT on its side (mirrors snapshot_diff's __o_present columns)
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_present IS NULL THEN 'I'
                WHEN n.n_present IS NULL THEN 'D'
                ELSE 'U' END AS op,
           o.o_orderstatus AS old_o_orderstatus,
           o.o_totalprice AS old_o_totalprice,
           n.o_orderstatus AS new_o_orderstatus,
           n.o_totalprice AS new_o_totalprice
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
    """,
    doc="CDC changelog between two table snapshots (operators.relational."
    "snapshot_diff): one full-outer join on the key, null-safe column "
    "compare post-join, op ∈ {I,U,D} with old_/new_ values — the diff "
    "engines derive when the source has no log, and the inverse of "
    "sink_upsert_snapshot (applying the changelog to old reproduces "
    "new). The new snapshot here is synthesized deterministically from "
    "orders: keys %10<3 updated, %10=7 deleted, %10=5 re-inserted "
    "under a shifted key.",
)
def cdc_snapshot_diff(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    upd = F.col("o_orderkey") % 10 < 3
    new = o.filter(F.col("o_orderkey") % 10 != 7).select(
        "o_orderkey",
        F.when(upd, F.lit("U")).otherwise(F.col("o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.when(upd, F.col("o_totalprice") + 10.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    ).unionByName(
        o.filter(F.col("o_orderkey") % 10 == 5).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(1.0).alias("o_totalprice"),
        )
    )
    return rel_ops.snapshot_diff(
        o, new, keys=["o_orderkey"],
        compare_cols=["o_orderstatus", "o_totalprice"],
    )


@parity(
    "agg_approx_distinct",
    sql="""
    SELECT CAST(strftime(ts, '%Y-%m-%d') AS DATE) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           true AS hll_ok
    FROM events WHERE ts IS NOT NULL GROUP BY 1
    """,
    doc="Per-day approximate distinct users (HyperLogLog++, rsd=0.05) "
    "over events — the fixed-size-sketch cardinality path for 100 TB "
    "(no one-row-per-distinct-value shuffle; commutative partial "
    "merges make the estimate partition-order independent). The HLL "
    "estimate itself is engine-specific, so the driver surface is a "
    "verdict: per day, the oracle-checkable exact count plus a boolean "
    "asserting the sketch landed within 15% of it (rsd=0.05 → ±15% is "
    "3σ; measured max 5.2% at sf0.01). The exact companion aggregate "
    "exists only for this check — the production op is approx-only.",
)
def agg_approx_distinct(spark, sf_dir):
    # timeline op: un-timestamped events belong to no day (oracle mirrors)
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    approx = agg_ops.approx_distinct_by_key(
        ev, F.to_date("ts").alias("day"), "user_id"
    )
    exact = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return (
        exact.join(approx, "day")
        .select(
            "day",
            "n_exact",
            (
                F.abs(F.col("approx_distinct") - F.col("n_exact"))
                <= F.col("n_exact") * F.lit(0.15)
            ).alias("hll_ok"),
        )
        .orderBy("day")
    )


@parity(
    "agg_hll_rollup",
    sql="""
    SELECT CAST(weekofyear(ts) AS BIGINT) AS wk,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           true AS hll_ok
    FROM events WHERE ts IS NOT NULL GROUP BY 1
    """,
    doc="Two-level distinct-count rollup via Datasketches HLL: one "
    "sketch per day (hll_sketch_agg), merged per ISO week "
    "(hll_union_agg) and estimated — the pre-aggregated-cube pattern: "
    "daily sketches persist once, any coarser rollup merges them "
    "without rescanning raw data (distinct counts are not summable; "
    "sketches are). Sketch bytes/estimates are engine-specific, so the "
    "driver surface is a verdict: per ISO week, the oracle-checkable "
    "exact distinct count plus a boolean asserting the merged-sketch "
    "estimate landed within 10% (lg_k=12 → rsd ≈ 1.6%; measured 0% "
    "error at sf0.01). The exact companion exists only for the check.",
)
def agg_hll_rollup(spark, sf_dir):
    # timeline op: un-timestamped events belong to no week (oracle mirrors)
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    est = agg_ops.hll_rollup(
        ev,
        F.to_date("ts").alias("day"),
        F.weekofyear("day").alias("wk"),
        "user_id",
    )
    exact = ev.groupBy(F.weekofyear(F.to_date("ts")).alias("wk")).agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return (
        exact.join(est, "wk")
        .select(
            F.col("wk").cast("long").alias("wk"),
            "n_exact",
            (
                F.abs(F.col("est_distinct") - F.col("n_exact"))
                <= F.col("n_exact") * F.lit(0.10)
            ).alias("hll_ok"),
        )
        .orderBy("wk")
    )


@parity(
    "agg_cms_heavy_hitters",
    sql="""
    -- NULL key components carry no CMS-hashable identity — dropped at
    -- ingest on both engines
    WITH cnt AS (SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
                 FROM events
                 WHERE event_type IS NOT NULL AND user_id IS NOT NULL
                 GROUP BY 1, 2),
    top AS (SELECT event_type, user_id, true_cnt,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY true_cnt DESC, user_id) AS r
            FROM cnt)
    SELECT event_type, user_id, true_cnt, true AS cms_lower_ok, true AS cms_err_ok
    FROM top WHERE r <= 5
    """,
    doc="Heavy-hitter frequency probes through a Count-Min sketch built "
    "as pure DataFrame aggregates (depth 4 × width 2048 per group, "
    "mergeable by addition — fixed-size state however many distinct "
    "users exist, the 100 TB alternative to an exact "
    "one-row-per-distinct-value shuffle). The driver surface probes "
    "the exact top-5 users per event_type (oracle-checkable, "
    "deterministic tiebreak) and verdicts the CMS guarantees: "
    "est ≥ true (always, by construction) and est ≤ true + "
    "max(8, N_g/64) (measured 0 error at sf0.01: per-bucket load ≈ 1).",
)
def agg_cms_heavy_hitters(spark, sf_dir):
    from pyspark.sql import Window as W

    # sketch-keyed op: NULL key components have no CMS-hashable
    # identity — drop at ingest (oracle mirrors)
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    cnt = ev.groupBy("event_type", "user_id").agg(
        F.count("*").alias("true_cnt")
    )
    top = (
        cnt.withColumn(
            "r",
            F.row_number().over(
                W.partitionBy("event_type").orderBy(
                    F.desc("true_cnt"), "user_id"
                )
            ),
        )
        .filter(F.col("r") <= 5)
        .drop("r")
    )
    est = agg_ops.cms_estimates(ev, "event_type", "user_id", top)
    # per-type totals derive from the already-reduced cnt frame — a
    # third fact-sized scan of events for the same number was the
    # round-4 review's efficiency catch
    ng = cnt.groupBy("event_type").agg(F.sum("true_cnt").alias("n_g"))
    return (
        top.join(est, ["event_type", "user_id"])
        .join(F.broadcast(ng), "event_type")
        .select(
            "event_type",
            "user_id",
            "true_cnt",
            (F.col("cms_est") >= F.col("true_cnt")).alias("cms_lower_ok"),
            (
                F.col("cms_est")
                <= F.col("true_cnt")
                + F.greatest(F.lit(8.0), F.col("n_g") / F.lit(64))
            ).alias("cms_err_ok"),
        )
    )


@parity(
    "agg_winsorize",
    sql="""
    -- finite-measures policy (operators.aggregates.clip_outliers):
    -- NaN/Inf are excluded from the band fit and clip to NULL — one NaN
    -- otherwise drags Spark's percentile (NaN sorts greatest) while
    -- DuckDB's quantile clips it down to p99: silent divergence
    WITH q AS (SELECT event_type,
                      quantile_cont(value, 0.01) FILTER (WHERE isfinite(value)) AS lo,
                      quantile_cont(value, 0.99) FILTER (WHERE isfinite(value)) AS hi
               FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           (ROUND(CASE WHEN e.value IS NOT NULL AND isfinite(e.value)
                      THEN LEAST(GREATEST(e.value, q.lo), q.hi) END + 1e-9,
                 4) + 0.0) AS value_clipped
    FROM events e JOIN q USING (event_type)
    """,
    doc="Per-group winsorization: clamp events.value to its "
    "event_type's [p1, p99] band (outlier clipping before training). "
    "The percentile frame is one row per group, broadcast back — the "
    "fact side never shuffles; exact percentile for oracle parity, "
    "approx_percentile sketch is the unbounded-group path "
    "(aggregates.clip_outliers(exact=False)).",
)
def agg_winsorize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return agg_ops.clip_outliers(ev, ["event_type"], "value").select(
        "event_id",
        "event_type",
        r_(F.col("value_clipped"), 4).alias("value_clipped"),
    )


@parity(
    "win_interp_linear",
    sql="""
    WITH obs AS (
      SELECT o_orderpriority AS k, CAST(o_orderdate AS DATE) AS d,
             SUM(TRY_CAST(round(o_totalprice * 100) AS BIGINT)) AS v
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-04-30'
      GROUP BY 1, 2
    ),
    spine AS (
      SELECT k, CAST(gs.d AS DATE) AS d
      FROM (SELECT DISTINCT k FROM obs)
      CROSS JOIN generate_series(DATE '1995-03-01', DATE '1995-04-30', INTERVAL 1 DAY) gs(d)
    ),
    m AS (
      SELECT spine.k, spine.d, obs.v,
             last_value(obs.v IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN obs.v IS NOT NULL THEN obs.d END IGNORE NULLS) OVER wb AS pd,
             first_value(obs.v IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN obs.v IS NOT NULL THEN obs.d END IGNORE NULLS) OVER wf AS nd
      FROM spine LEFT JOIN obs ON obs.k = spine.k AND obs.d = spine.d
      WINDOW wb AS (PARTITION BY spine.k ORDER BY spine.d ROWS UNBOUNDED PRECEDING),
             wf AS (PARTITION BY spine.k ORDER BY spine.d
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT k AS o_orderpriority, d AS o_orderdate,
           (ROUND(CASE WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
                      WHEN nv IS NULL OR nd = pd THEN CAST(pv AS DOUBLE)
                      ELSE pv + (nv - pv) * (d - pd) * 1.0 / (nd - pd) END
                 + 1e-9, 4) + 0.0) AS rev_units,
           v IS NULL AS filled
    FROM m
    """,
    doc="Calendar resample + LINEAR interpolation (pandas "
    "resample('D').interpolate('linear') engine-side): daily order-"
    "revenue per priority densified onto every day of Mar-Apr 1995, "
    "each gap filled on the straight line between its bracketing "
    "observations, edges clamped to the nearest one. Same scale shape "
    "as win_resample_ffill — spine = keys x days, one hash partition "
    "by key, both the backward (last-ignorenulls) and forward "
    "(first-ignorenulls) accumulators ride ONE Window node with no "
    "second exchange. Inputs are exact cent units so the interpolation "
    "arithmetic is the same IEEE sequence on both engines "
    "(operators/windows.py::resample_interp_linear).",
)
def win_interp_linear(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn("rev_units", u2("o_totalprice"))
    out = win_ops.resample_interp_linear(
        o,
        key_col="o_orderpriority",
        date_col="o_orderdate",
        value_col="rev_units",
        start="1995-03-01",
        end="1995-04-30",
    ).toDF("o_orderpriority", "o_orderdate", "rev_units", "filled")
    # canonicalization belongs at the oracle boundary, not in the operator
    return out.withColumn("rev_units", r_(F.col("rev_units"), 4))


@parity(
    "profile_drift_psi",
    sql="""
    WITH b AS (
      SELECT LEAST(CAST(FLOOR(TRY_CAST(round(o_totalprice * 100) AS BIGINT) / 5000000.0) AS INT), 9) AS bucket,
             CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END AS is_ref
      FROM orders
      WHERE year(o_orderdate) IN (1996, 2000)
    ),
    c AS (
      SELECT gs.i AS bucket,
             COALESCE(SUM(CASE WHEN is_ref = 1 THEN 1 ELSE 0 END), 0) AS n_ref,
             COALESCE(SUM(CASE WHEN is_ref = 0 THEN 1 ELSE 0 END), 0) AS n_cur
      FROM (SELECT CAST(u.i AS INT) AS i FROM UNNEST(range(0, 10)) u(i)) gs
      LEFT JOIN b ON b.bucket = gs.i
      GROUP BY gs.i
    ),
    t AS (SELECT SUM(n_ref) AS tot_ref, SUM(n_cur) AS tot_cur FROM c),
    p AS (
      SELECT bucket, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
             (n_ref + 1.0) / (t.tot_ref + 10.0) AS p_ref,
             (n_cur + 1.0) / (t.tot_cur + 10.0) AS p_cur
      FROM c CROSS JOIN t
    )
    SELECT bucket, n_ref, n_cur,
           (ROUND(p_ref + 1e-9, 6) + 0.0) AS p_ref,
           (ROUND(p_cur + 1e-9, 6) + 0.0) AS p_cur,
           (ROUND((p_ref - p_cur) * ln(p_ref / p_cur) + 1e-9, 6) + 0.0) AS psi_contrib
    FROM p
    """,
    doc="Distribution-drift profiling via PSI (population stability "
    "index): order-value histograms for a reference year (1996) vs a "
    "current year (2000) on fixed $50k buckets, Laplace-smoothed "
    "shares, per-bucket PSI contribution (p_ref - p_cur)·ln(p_ref/"
    "p_cur) — the monitoring check a training-data pipeline runs "
    "before trusting a new snapshot. ONE conditional-aggregate scan "
    "produces both histograms (no per-period re-scan, no join of two "
    "subqueries); the 10-row bucket spine and the 1-row totals "
    "broadcast. Bucketing is exact integer cents so bucket edges "
    "never float-flip.",
)
def profile_drift_psi(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    bucket = F.least(
        F.floor(u2("o_totalprice") / F.lit(5_000_000.0)).cast("int"), F.lit(9)
    )
    counts = (
        o.filter(yr.isin(1996, 2000))
        .select(
            bucket.alias("bucket"),
            (yr == 1996).cast("int").alias("is_ref"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("is_ref").alias("n_ref"),
            F.sum(1 - F.col("is_ref")).alias("n_cur"),
        )
    )
    spine = o.sparkSession.range(10).select(F.col("id").cast("int").alias("bucket"))
    dense = (
        spine.join(F.broadcast(counts), "bucket", "left")
        .fillna(0, ["n_ref", "n_cur"])
    )
    # Totals via an unpartitioned window over the 10-row bucket frame —
    # NOT a second aggregate branch over the fact (which would duplicate
    # the orders scan in the plan); a single-partition window is fine
    # because the frame is histogram-sized, never fact-sized.
    from pyspark.sql import Window as _W

    wall = _W.partitionBy()
    dense = dense.withColumn("tot_ref", F.sum("n_ref").over(wall)).withColumn(
        "tot_cur", F.sum("n_cur").over(wall)
    )
    p_ref = (F.col("n_ref") + 1.0) / (F.col("tot_ref") + 10.0)
    p_cur = (F.col("n_cur") + 1.0) / (F.col("tot_cur") + 10.0)
    return (
        dense
        .select(
            "bucket",
            "n_ref",
            "n_cur",
            r_(p_ref, 6).alias("p_ref"),
            r_(p_cur, 6).alias("p_cur"),
            r_((p_ref - p_cur) * F.log(p_ref / p_cur), 6).alias("psi_contrib"),
        )
    )


@parity(
    "sink_orc_roundtrip",
    sql="""
    SELECT l_orderkey, l_partkey,
           TRY_CAST(round(l_quantity * 100) AS BIGINT) AS qty_units,
           CAST(l_shipdate AS DATE) AS l_shipdate
    FROM lineitem WHERE l_shipdate >= DATE '1997-06-01'
    """,
    doc="Columnar-format interchange surface: a lineitem projection "
    "written as ORC (Spark's second native columnar format — the one "
    "a Hive/Trino warehouse hands over) and scanned back; every row "
    "must survive the round trip, so the oracle reads the source "
    "table. ORC carries the same min/max stripe statistics as "
    "parquet, so the shipdate predicate pushes into the scan on "
    "re-read exactly as it does for parquet.",
)
def sink_orc_roundtrip(spark, sf_dir):
    path = os.path.join(_scratch(sf_dir), "lineitem_orc")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1997-06-01").cast("date"))
        .select(
            "l_orderkey",
            "l_partkey",
            u2("l_quantity").alias("qty_units"),
            "l_shipdate",
        )
    )
    li.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@parity(
    "sink_jsonl_roundtrip",
    sql="""
    SELECT o_orderkey, o_orderpriority,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day,
           TRY_CAST(round(o_totalprice * 100) AS BIGINT) AS price_units
    FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="Line-delimited-JSON interchange surface (the landing format "
    "of every log/event pipeline): an orders projection written as "
    "JSONL with an explicit read-back schema — no inference, so the "
    "types are stable whatever the file contents. Dates cross the "
    "text boundary as ISO strings (explicitly cast, not "
    "serializer-dependent); money as exact integer units.",
)
def sink_jsonl_roundtrip(spark, sf_dir):
    path = os.path.join(_scratch(sf_dir), "orders_jsonl")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_orderdate").cast("date").cast("string").alias("order_day"),
            u2("o_totalprice").alias("price_units"),
        )
    )
    o.write.mode("overwrite").json(path)
    schema = (
        "o_orderkey bigint, o_orderpriority string, "
        "order_day string, price_units bigint"
    )
    return spark.read.schema(schema).json(path)


@parity(
    "win_ewma",
    sql="""
    WITH daily AS (
      SELECT o_orderpriority AS k, CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-04-30'
      GROUP BY 1, 2
    ),
    m AS (
      SELECT k, d, n,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY d) - 1 AS i
      FROM daily
    )
    SELECT k AS o_orderpriority, d AS o_orderdate, n,
           (ROUND(pow(0.8, i) * SUM(
             CASE WHEN i = 0 THEN 1.0 ELSE 0.2 * pow(1.0 / 0.8, i) END * n
           ) OVER (PARTITION BY k ORDER BY d ROWS UNBOUNDED PRECEDING)
           + 1e-9, 4) + 0.0) AS ewma
    FROM m
    """,
    doc="Per-key EWMA (pandas ewm(alpha=0.2, adjust=False)) over the "
    "daily order-count series — the recursive smoother y_t = "
    "(1-a)y_{t-1} + a·x_t expressed as a CLOSED-FORM weighted running "
    "sum times a per-row decay factor, so it runs as one window pass "
    "(hash partition by key, streaming unbounded-preceding "
    "accumulator) instead of a per-row recursion or O(n^2) fold "
    "(operators/windows.py::ewma; the geometric-weight range bound "
    "and the chunked carry-in for ultra-long series are documented "
    "there).",
)
def win_ewma(spark, sf_dir):
    daily = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-03-01").cast("date"))
            & (F.col("o_orderdate") <= F.lit("1995-04-30").cast("date"))
        )
        .groupBy(
            F.col("o_orderpriority"),
            F.to_date("o_orderdate").alias("o_orderdate"),
        )
        .agg(F.count("*").alias("n"))
    )
    out = win_ops.ewma(
        daily,
        key_col="o_orderpriority",
        order_col="o_orderdate",
        value_col="n",
        alpha=0.2,
    )
    return out.select(
        "o_orderpriority", "o_orderdate", "n", r_(F.col("ewma"), 4).alias("ewma")
    )


@parity(
    "win_rolling_median",
    sql="""
    WITH daily AS (
      SELECT o_orderpriority AS k, CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-04-30'
      GROUP BY 1, 2
    )
    SELECT k AS o_orderpriority, d AS o_orderdate, n,
           (ROUND(CAST(median(n) OVER (
             PARTITION BY k ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) + 1e-9, 2) + 0.0) AS med7
    FROM daily
    """,
    doc="Trailing 7-row rolling MEDIAN of the daily order-count series "
    "per priority — the outlier-robust moving statistic no built-in "
    "window aggregate provides, as sort_array(collect_list) over the "
    "bounded frame + middle pick (even counts average the two "
    "middles, matching DuckDB's windowed median). Per-row working "
    "set is O(frame), not O(partition); one window pass "
    "(operators/windows.py::rolling_median, where the two-heap "
    "streaming variant for very wide frames is documented).",
)
def win_rolling_median(spark, sf_dir):
    daily = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-03-01").cast("date"))
            & (F.col("o_orderdate") <= F.lit("1995-04-30").cast("date"))
        )
        .groupBy(
            F.col("o_orderpriority"),
            F.to_date("o_orderdate").alias("o_orderdate"),
        )
        .agg(F.count("*").alias("n"))
    )
    out = win_ops.rolling_median(
        daily,
        key_col="o_orderpriority",
        order_col="o_orderdate",
        value_col="n",
        frame_rows=7,
        out_col="med7",
    )
    return out.select(
        "o_orderpriority", "o_orderdate", "n", r_(F.col("med7"), 2).alias("med7")
    )


@parity(
    "agg_covariance_matrix",
    sql="""
    -- same exact-moment unit-band contract as agg_regression
    WITH u0 AS (
      SELECT TRY_CAST(ROUND(l_quantity * 100) AS BIGINT) AS q,
             TRY_CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
             TRY_CAST(ROUND(l_discount * 100) AS BIGINT) AS d
      FROM lineitem
    ),
    u AS (
      SELECT q, p, d FROM u0
      WHERE q IS NOT NULL AND q > -2147483648 AND q < 2147483648
        AND p IS NOT NULL AND p > -2147483648 AND p < 2147483648
        AND d IS NOT NULL AND d > -2147483648 AND d < 2147483648
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(q) AS DOUBLE) AS sq, CAST(SUM(p) AS DOUBLE) AS sp,
             CAST(SUM(d) AS DOUBLE) AS sd,
             CAST(SUM(q * q) AS DOUBLE) AS sqq, CAST(SUM(q * p) AS DOUBLE) AS sqp,
             CAST(SUM(q * d) AS DOUBLE) AS sqd, CAST(SUM(p * p) AS DOUBLE) AS spp,
             CAST(SUM(p * d) AS DOUBLE) AS spd, CAST(SUM(d * d) AS DOUBLE) AS sdd
      FROM u
    )
    SELECT col_a, col_b,
           (ROUND((n * sab - sa * sb) / (CAST(n AS DOUBLE) * n) / 10000.0 + 1e-9, 4) + 0.0) AS cov
    FROM (
      SELECT n, 'quantity' AS col_a, 'quantity' AS col_b, sqq AS sab, sq AS sa, sq AS sb FROM s
      UNION ALL SELECT n, 'quantity', 'extendedprice', sqp, sq, sp FROM s
      UNION ALL SELECT n, 'quantity', 'discount', sqd, sq, sd FROM s
      UNION ALL SELECT n, 'extendedprice', 'extendedprice', spp, sp, sp FROM s
      UNION ALL SELECT n, 'extendedprice', 'discount', spd, sp, sd FROM s
      UNION ALL SELECT n, 'discount', 'discount', sdd, sd, sd FROM s
    )
    """,
    doc="Feature covariance matrix (the PCA/whitening pre-pass) over "
    "(l_quantity, l_extendedprice, l_discount) in ONE aggregate pass: "
    "all 9 co-moments accumulate as exact split-long integer-unit "
    "sums (same hi/lo discipline as agg_regression — Σp² overflows a "
    "naive int64 long before 100 TB), recombined in decimal, and the "
    "population covariances emerge in long form (col_a, col_b, cov) "
    "from the 1-row moment frame. One partial+final aggregate over "
    "one scan, partitioning-invariant by construction; O(d²) state "
    "per partition, never O(rows).",
)
def agg_covariance_matrix(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # unit-band ingest guard (see agg_regression)
    li = (
        li.withColumn("__q", u2("l_quantity"))
        .withColumn("__p", u2("l_extendedprice"))
        .withColumn("__d", u2("l_discount"))
        .filter(
            uband("l_quantity")
            & uband("l_extendedprice")
            & uband("l_discount")
        )
    )
    q, p, d = F.col("__q"), F.col("__p"), F.col("__d")

    def moment(e):
        return exact_sum(e).cast("double")

    s = li.agg(
        F.count("*").alias("n"),
        moment(q).alias("sq"),
        moment(p).alias("sp"),
        moment(d).alias("sd"),
        moment(q * q).alias("sqq"),
        moment(q * p).alias("sqp"),
        moment(q * d).alias("sqd"),
        moment(p * p).alias("spp"),
        moment(p * d).alias("spd"),
        moment(d * d).alias("sdd"),
    )
    pairs = [
        ("quantity", "quantity", "sqq", "sq", "sq"),
        ("quantity", "extendedprice", "sqp", "sq", "sp"),
        ("quantity", "discount", "sqd", "sq", "sd"),
        ("extendedprice", "extendedprice", "spp", "sp", "sp"),
        ("extendedprice", "discount", "spd", "sp", "sd"),
        ("discount", "discount", "sdd", "sd", "sd"),
    ]
    # Long form via stack() over the single 1-row moment frame — NOT a
    # 6-way union of selects, which would leave six copies of the
    # aggregate subtree in the plan and rely on exchange reuse to
    # avoid six fact scans.
    covs = s.select(
        *[
            F.round(
                (F.col("n") * F.col(sab) - F.col(sa) * F.col(sb))
                / (F.col("n").cast("double") * F.col("n"))
                / F.lit(10000.0)
                + F.lit(EPS),
                4,
            ).alias(f"__c{i}")
            for i, (_, _, sab, sa, sb) in enumerate(pairs)
        ]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', __c{i}" for i, (a, b, _, _, _) in enumerate(pairs)
    )
    return covs.selectExpr(
        f"stack(6, {stack_args}) AS (col_a, col_b, cov)"
    )


@parity(
    "f_variant_semistructured",
    sql="""
    SELECT event_id,
           TRY_CAST(json_extract(props, '$.k') AS INT) AS k,
           CAST(json_extract_string(props, '$.k') AS VARCHAR) AS k_str,
           json_extract(props, '$.missing') IS NULL AS missing_absent
    FROM events
    -- json_valid mirrors try_parse_json, TRY_CAST mirrors
    -- try_variant_get: malformed/empty props or non-numeric $.k rows
    -- carry no extractable int and fall out of the typed predicate
    WHERE json_valid(props)
      AND TRY_CAST(json_extract(props, '$.k') AS INT) >= 50
    """,
    doc="Semi-structured fast path via Spark 4's VARIANT type: "
    "parse_json once into the binary variant encoding, then typed "
    "variant_get extractions ($.k as int and as string) and "
    "absent-path null semantics, with the extracted predicate "
    "filtering rows — the modern replacement for repeated "
    "from_json/get_json_object string re-parsing (each of which "
    "re-tokenizes the JSON text; variant parses once and navigates "
    "an offset-indexed binary). Map-only projection in one scan; at "
    "100 TB the win is parse-once amortization across every "
    "extraction and predicate.",
)
def f_variant_semistructured(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    # try_: malformed/empty props (routine in event streams) become
    # NULL variants / NULL extractions instead of MALFORMED_RECORD task
    # crashes; the typed predicate then drops them on both engines.
    v = F.try_parse_json("props")
    out = ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "int").alias("k"),
        F.try_variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.missing", "string").isNull().alias(
            "missing_absent"
        ),
    )
    return out.filter(F.col("k") >= 50)


@parity(
    "win_ewma_chunked",
    sql="""
    WITH daily AS (
      SELECT o_orderpriority AS k,
             datediff('day', DATE '1995-03-01', CAST(o_orderdate AS DATE)) AS di,
             CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-04-30'
      GROUP BY 1, 2, 3
    ),
    m AS (
      SELECT k, d, di, n,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY di) - 1 AS i
      FROM daily
    )
    SELECT k AS o_orderpriority, d AS o_orderdate, n,
           (ROUND(pow(0.8, i) * SUM(
             CASE WHEN i = 0 THEN 1.0 ELSE 0.2 * pow(1.0 / 0.8, i) END * n
           ) OVER (PARTITION BY k ORDER BY di ROWS UNBOUNDED PRECEDING)
           + 1e-9, 4) + 0.0) AS ewma
    FROM m
    """,
    doc="Same EWMA series as win_ewma but through the TWO-PHASE "
    "chunked linear-recurrence operator (operators/windows.py::"
    "ewma_chunked, chunk_width=16): per-chunk carry-free closed "
    "forms, the chunk recurrence y_end = A + B·y_prev solved by an "
    "exact fold over the tiny per-key summary array, carries "
    "broadcast back. This is the formulation that survives series "
    "of ANY length per key (the plain closed form's geometric weight "
    "overflows past ~3000 rows at α=0.2) — and it must agree with "
    "the one-window oracle to the last rounded digit, which is what "
    "this entry checks.",
)
def win_ewma_chunked(spark, sf_dir):
    daily = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-03-01").cast("date"))
            & (F.col("o_orderdate") <= F.lit("1995-04-30").cast("date"))
        )
        .groupBy(
            F.col("o_orderpriority"),
            F.to_date("o_orderdate").alias("o_orderdate"),
        )
        .agg(F.count("*").alias("n"))
        .withColumn(
            "di",
            F.datediff("o_orderdate", F.lit("1995-03-01").cast("date")),
        )
    )
    out = win_ops.ewma_chunked(
        daily,
        key_col="o_orderpriority",
        order_col="di",
        value_col="n",
        alpha=0.2,
        chunk_width=16,
    )
    return out.select(
        "o_orderpriority", "o_orderdate", "n", r_(F.col("ewma"), 4).alias("ewma")
    )


@parity(
    "join_asof_nearest",
    sql="""
    WITH l AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             datediff('day', DATE '1995-03-01', CAST(o_orderdate AS DATE)) AS di,
             COUNT(*) AS n
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-04-30'
      GROUP BY 1, 2
    ),
    r AS (
      SELECT di, CAST(SUM(TRY_CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_units
      FROM (
        SELECT datediff('day', DATE '1995-03-01', CAST(o_orderdate AS DATE)) AS di,
               o_totalprice
        FROM orders
        WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-04-30'
      ) WHERE di % 7 = 0 GROUP BY di
    )
    SELECT l.d AS o_orderdate, l.n,
           m.rev_units AS nearest_anchor_rev, m.dist AS day_dist
    FROM l LEFT JOIN LATERAL (
      SELECT r.rev_units, abs(r.di - l.di) AS dist
      FROM r WHERE abs(r.di - l.di) <= 3
      ORDER BY abs(r.di - l.di), r.di LIMIT 1
    ) m ON TRUE
    """,
    doc="As-of join, direction=NEAREST with tolerance (pandas "
    "merge_asof(nearest, tolerance=3) semantics, backward tie-break): "
    "every day of Mar-Apr 1995 attaches the revenue of its nearest "
    "weekly anchor day within 3 days. Engine side is the union-merge shape with "
    "BOTH a backward and a forward ignorenulls carry on one "
    "partitioning (one Exchange, two in-partition sorts — never a "
    "range/cross join; operators/relational.py::asof_join_nearest); "
    "the oracle states the same result as a lateral "
    "min-distance-limit-1, which IS the range-explosion shape the "
    "engine avoids. Anchor days are 7 apart and tolerance is 3, so "
    "no equidistant tie exists and both tie rules agree.",
)
def join_asof_nearest(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-03-01").cast("date"))
        & (F.col("o_orderdate") <= F.lit("1995-04-30").cast("date"))
    )
    base = o.withColumn(
        "di", F.datediff("o_orderdate", F.lit("1995-03-01").cast("date"))
    )
    left = base.groupBy(
        F.to_date("o_orderdate").alias("o_orderdate"), F.col("di")
    ).agg(F.count("*").alias("n"))
    right = (
        base.filter(F.col("di") % 7 == 0)
        .groupBy("di")
        .agg(F.sum(u2("o_totalprice")).alias("rev_units"))
    )
    out = rel_ops.asof_join_nearest(
        left.select("di", "o_orderdate", "n"),
        right,
        on="di",
        right_value_cols=["rev_units"],
        tolerance=3,
    )
    return out.select(
        "o_orderdate",
        "n",
        F.col("rev_units").alias("nearest_anchor_rev"),
        F.col("__asof_dist").alias("day_dist"),
    )


@parity(
    "agg_ab_test",
    sql="""
    WITH s AS (
      SELECT
        COUNT(*) FILTER (event_type = 'click') AS na,
        AVG(value) FILTER (event_type = 'click') AS ma,
        var_samp(value) FILTER (event_type = 'click') AS va,
        COUNT(*) FILTER (event_type = 'view') AS nb,
        AVG(value) FILTER (event_type = 'view') AS mb,
        var_samp(value) FILTER (event_type = 'view') AS vb
      FROM events WHERE value IS NOT NULL
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           (ROUND(ma + 1e-9, 4) + 0.0) AS mean_a, (ROUND(mb + 1e-9, 4) + 0.0) AS mean_b,
           (ROUND(ma - mb + 1e-9, 4) + 0.0) AS mean_diff,
           (ROUND((ma - mb) / sqrt(va / na + vb / nb) + 1e-9, 4) + 0.0) AS t_stat,
           (ROUND(pow(va / na + vb / nb, 2)
                 / (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1))
                 + 1e-9, 2) + 0.0) AS welch_df
    FROM s
    """,
    doc="Two-sample Welch t-test between the 'click' and 'view' event "
    "populations (the A/B-experimentation primitive): group means, "
    "sample variances, t statistic, and Welch-Satterthwaite degrees "
    "of freedom — ALL from one conditional-aggregate pass over one "
    "scan (FILTER-style conditional aggregates, no per-group "
    "sub-queries, no join of two scans). 1-row output; at 100 TB "
    "this is a partial+final aggregate and nothing else.",
)
def agg_ab_test(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    is_a = F.col("event_type") == "click"
    is_b = F.col("event_type") == "view"
    s = ev.agg(
        F.count(F.when(is_a, 1)).alias("na"),
        F.avg(F.when(is_a, F.col("value"))).alias("ma"),
        F.var_samp(F.when(is_a, F.col("value"))).alias("va"),
        F.count(F.when(is_b, 1)).alias("nb"),
        F.avg(F.when(is_b, F.col("value"))).alias("mb"),
        F.var_samp(F.when(is_b, F.col("value"))).alias("vb"),
    )
    na, ma, va = F.col("na"), F.col("ma"), F.col("va")
    nb, mb, vb = F.col("nb"), F.col("mb"), F.col("vb")
    se2 = va / na + vb / nb
    return s.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        r_(ma, 4).alias("mean_a"),
        r_(mb, 4).alias("mean_b"),
        r_(ma - mb, 4).alias("mean_diff"),
        r_((ma - mb) / F.sqrt(se2), 4).alias("t_stat"),
        r_(
            F.pow(se2, 2)
            / (F.pow(va / na, 2) / (na - 1) + F.pow(vb / nb, 2) / (nb - 1)),
            2,
        ).alias("welch_df"),
    )


@parity(
    "win_zscore_anomaly",
    sql="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-06-30'
      GROUP BY 1
    ),
    m AS (
      SELECT d, n,
             AVG(n) OVER w AS mu,
             stddev_pop(n) OVER w AS sd,
             COUNT(*) OVER w AS frame_n
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
    )
    SELECT d AS o_orderdate, n,
           (ROUND(mu + 1e-9, 4) + 0.0) AS mu,
           (ROUND(CASE WHEN sd > 0 THEN (n - mu) / sd END + 1e-9, 4) + 0.0) AS zscore,
           (frame_n >= 7 AND sd > 0 AND abs((n - mu) / sd) > 3.0) AS is_anomaly
    FROM m WHERE frame_n >= 7
    """,
    doc="Rolling z-score anomaly detection on the daily order-count "
    "series: each day scored against the mean/stddev of the TRAILING "
    "14-day frame ending YESTERDAY (the exclusion keeps today's value "
    "out of its own baseline — the standard leakage guard), flagged "
    "at |z| > 3 once at least 7 baseline days exist. One window pass, "
    "frame-bounded working set; the monitoring primitive that watches "
    "a 100 TB ingest for volume regressions.",
)
def win_zscore_anomaly(spark, sf_dir):
    from pyspark.sql import Window as W

    daily = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") <= F.lit("1995-06-30").cast("date"))
        )
        .groupBy(F.to_date("o_orderdate").alias("o_orderdate"))
        .agg(F.count("*").alias("n"))
    )
    w = W.orderBy("o_orderdate").rowsBetween(-14, -1)
    scored = daily.select(
        "o_orderdate",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_pop("n").over(w).alias("sd"),
        F.count("*").over(w).alias("frame_n"),
    ).filter(F.col("frame_n") >= 7)
    # ANSI mode raises on /0 — a constant trailing frame (sd = 0) is
    # legal data, so the score is NULL there and never an anomaly.
    z = F.when(
        F.col("sd") > 0, (F.col("n") - F.col("mu")) / F.col("sd")
    )
    return scored.select(
        "o_orderdate",
        "n",
        r_(F.col("mu"), 4).alias("mu"),
        r_(z, 4).alias("zscore"),
        F.coalesce(
            (F.col("frame_n") >= 7) & (F.col("sd") > 0) & (F.abs(z) > 3.0),
            F.lit(False),
        ).alias("is_anomaly"),
    )


@parity(
    "analytics_markov_transitions",
    sql="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events WHERE ts IS NOT NULL
    ),
    t AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           (ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type) + 1e-9, 4) + 0.0) AS p
    FROM t
    """,
    doc="Behavioral Markov chain: first-order transition matrix between "
    "event types per user session stream — lead() over (user, time) "
    "pairs consecutive events, one keyed count, then row-normalize "
    "per source state. The product-analytics primitive behind "
    "next-action prediction and funnel leakage. One hash partition "
    "by user for the pairing window, one aggregate on the (from, to) "
    "key, and the normalizing window runs on the states×states "
    "frame — tiny regardless of event volume.",
)
def analytics_markov_transitions(spark, sf_dir):
    from pyspark.sql import Window as W

    # timeline op: an un-timestamped event has no position in the
    # per-user sequence (oracle mirrors with ts IS NOT NULL)
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    t = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wn = W.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n",
        r_(F.col("n") / F.sum("n").over(wn), 4).alias("p"),
    )


@parity(
    "sink_scd2_history",
    sql="""
    WITH snap_a AS (
      SELECT o_custkey AS custkey, COUNT(*) AS n_orders
      FROM orders WHERE o_orderdate < DATE '1997-01-01' GROUP BY 1
    ),
    snap_b AS (
      SELECT o_custkey AS custkey, COUNT(*) AS n_orders
      FROM orders WHERE o_orderdate < DATE '1999-01-01' GROUP BY 1
    )
    SELECT a.custkey, a.n_orders,
           DATE '1997-01-01' AS valid_from, DATE '1999-01-01' AS valid_to,
           FALSE AS is_current
    FROM snap_a a JOIN snap_b b ON b.custkey = a.custkey
    WHERE b.n_orders <> a.n_orders
    UNION ALL
    SELECT b.custkey, b.n_orders,
           CASE WHEN a.custkey IS NULL OR a.n_orders <> b.n_orders
                THEN DATE '1999-01-01' ELSE DATE '1997-01-01' END AS valid_from,
           DATE '9999-12-31' AS valid_to, TRUE AS is_current
    FROM snap_b b LEFT JOIN snap_a a ON a.custkey = b.custkey
    """,
    doc="SCD Type-2 history build (the warehouse dimension-versioning "
    "pattern): two snapshots of per-customer order counts (as-of 1997 "
    "and as-of 1999) merged into validity-interval rows — changed "
    "keys close their old version at the new snapshot date and open "
    "a current one; unchanged keys keep one open row; new keys open "
    "at the new date. ONE full-outer-join-shaped compare "
    "co-partitioned on the key (expressed as a join pair over the "
    "aggregated snapshots — both sides are post-aggregate, "
    "customer-sized); at 100 TB store the snapshot bucketed by key "
    "and the compare is exchange-free.",
)
def sink_scd2_history(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")

    def snap(upper):
        return (
            o.filter(F.col("o_orderdate") < F.lit(upper).cast("date"))
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(F.count("*").alias("n_orders"))
        )

    a = snap("1997-01-01")
    b = snap("1999-01-01")
    d97 = F.lit("1997-01-01").cast("date")
    d99 = F.lit("1999-01-01").cast("date")
    dmax = F.lit("9999-12-31").cast("date")
    closed = (
        a.alias("a")
        .join(b.alias("b"), "custkey")
        .filter(F.col("a.n_orders") != F.col("b.n_orders"))
        .select(
            "custkey",
            F.col("a.n_orders").alias("n_orders"),
            d97.alias("valid_from"),
            d99.alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
    )
    current = (
        b.alias("b")
        .join(
            a.select("custkey", F.col("n_orders").alias("__a_n")),
            "custkey",
            "left",
        )
        .select(
            "custkey",
            F.col("n_orders"),
            F.when(
                F.col("__a_n").isNull() | (F.col("__a_n") != F.col("n_orders")),
                d99,
            )
            .otherwise(d97)
            .alias("valid_from"),
            dmax.alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    return closed.unionByName(current)


@parity(
    "agg_gini",
    sql="""
    WITH cust AS (
      SELECT o_custkey, SUM(TRY_CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY 1
    ),
    ranked AS (
      -- customers with no representable revenue have no rank position
      -- (NULL sorts engine-differently) — excluded on both engines
      SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS i,
             COUNT(*) OVER () AS n, SUM(rev) OVER () AS tot
      FROM cust WHERE rev IS NOT NULL
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           (ROUND(SUM((2.0 * i - n - 1) * rev) / (MAX(n) * 1.0 * MAX(tot)) + 1e-9, 4) + 0.0) AS gini
    FROM ranked
    """,
    doc="Revenue-concentration Gini coefficient across customers "
    "(sort-based formula sum((2i-n-1)x_i)/(n*sum(x)), deterministic "
    "tiebreak): the inequality metric behind whale-customer and "
    "data-source-concentration dashboards. Exact integer-cent "
    "revenues make the ranked weighted sum bit-stable. The global "
    "rank runs on the POST-AGGREGATE customer frame (customers, not "
    "orders); at 100 TB that frame is the dimension cardinality — if "
    "even that is too large for one sort partition, swap the rank for "
    "the distributed prefix-sum machinery used by llm_shard_budget.",
)
def agg_gini(spark, sf_dir):
    from pyspark.sql import Window as W

    cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(u2("o_totalprice")).alias("rev"))
        # no representable revenue → no rank position (oracle mirrors)
        .filter(F.col("rev").isNotNull())
    )
    w = W.orderBy("rev", "o_custkey")
    wall = W.partitionBy()
    ranked = cust.select(
        "rev",
        F.row_number().over(w).alias("i"),
        F.count("*").over(wall).alias("n"),
        F.sum("rev").over(wall).alias("tot"),
    )
    return ranked.agg(
        F.max("n").alias("n_customers"),
        r_(
            F.sum(
                (F.lit(2.0) * F.col("i") - F.col("n") - 1) * F.col("rev")
            )
            / (F.max("n") * F.lit(1.0) * F.max("tot")),
            4,
        ).alias("gini"),
    )


@parity(
    "win_max_drawdown",
    sql="""
    WITH daily AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
      FROM events WHERE value IS NOT NULL
    ),
    cums AS (
      SELECT user_id, event_id, ts_us,
             SUM(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM daily
    ),
    c AS (
      SELECT user_id, cum,
             MAX(cum) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                            ROWS UNBOUNDED PRECEDING) AS run_peak
      FROM cums
    )
    SELECT user_id,
           (ROUND(MAX(run_peak - cum) + 1e-9, 2) + 0.0) AS max_drawdown,
           (ROUND(MAX(cum) + 1e-9, 2) + 0.0) AS peak_cum,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM c GROUP BY user_id
    """,
    doc="Maximum drawdown per entity over the cumulative value series "
    "(the risk metric of the reference's stock domain, "
    "localTrinoTest.ipynb price series): running sum, running peak of "
    "that sum, and the largest peak-to-trough gap — every stage a "
    "frame-bounded streaming accumulator over ONE hash partition per "
    "key and ONE within-partition sort (the nested max-of-cumsum "
    "rides the same window definition; no self-join against the "
    "prefix, which is the O(n²) formulation this replaces).",
)
def win_max_drawdown(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
    )
    # (ts_us, event_id) — deterministic under same-user ts collisions
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("value").over(w)
    c = ev.select(
        "user_id",
        cum.alias("cum"),
        F.max(cum).over(w).alias("run_peak"),
    )
    return c.groupBy("user_id").agg(
        r_(F.max(F.col("run_peak") - F.col("cum")), 2).alias("max_drawdown"),
        r_(F.max("cum"), 2).alias("peak_cum"),
        F.count("*").alias("n_events"),
    )


@parity(
    "scan_csv_malformed",
    sql="""
    WITH src AS (
      SELECT i, (i % 11 = 5) AS corrupt, 3 * i AS v
      FROM range(0, 1000) r(i)
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
           CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN NOT corrupt THEN v ELSE 0 END) AS BIGINT) AS v_sum
    FROM src
    """,
    doc="Malformed-record tolerance on the CSV decode path (the "
    "reference ingests raw CSVs — fillMongoDB.ipynb:176-185, "
    "fill_postgresql.sql COPY): every 11th-ish line is written with a "
    "non-numeric value in a BIGINT column, scanned in PERMISSIVE mode "
    "with columnNameOfCorruptRecord — bad lines surface as NULL "
    "fields plus the raw line for quarantine instead of failing the "
    "COPY. Oracle recomputes expected good/corrupt/value totals from "
    "the generation rule, so silent drops or mis-parses of either "
    "class break the match.",
)
def scan_csv_malformed(spark, sf_dir):
    path = os.path.join(_scratch(sf_dir), "csv_malformed")
    line = F.when(
        F.col("id") % 11 == 5,
        F.concat(F.col("id").cast("string"), F.lit(",not_a_number")),
    ).otherwise(
        F.concat(
            F.col("id").cast("string"),
            F.lit(","),
            (F.col("id") * 3).cast("string"),
        )
    )
    spark.range(1000).select(line.alias("value")).write.mode(
        "overwrite"
    ).text(path)
    scanned = (
        spark.read.schema("id BIGINT, v BIGINT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return scanned.agg(
        F.count("*").alias("n_rows"),
        F.count("v").alias("n_good"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.sum(F.coalesce("v", F.lit(0))).alias("v_sum"),
    )


@parity(
    "join_interval_overlap",
    sql="""
    WITH l AS (
      SELECT o_orderkey,
             datediff('day', DATE '1995-03-01', CAST(o_orderdate AS DATE)) AS f_start,
             datediff('day', DATE '1995-03-01', CAST(o_orderdate AS DATE))
               + (o_orderkey % 14) + 1 AS f_end
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-04-30'
    ),
    p AS (
      SELECT CAST(i AS INT) AS promo_id,
             CAST(i AS INT) * 20 AS p_start, CAST(i AS INT) * 20 + 10 AS p_end
      FROM UNNEST(range(0, 4)) u(i)
    )
    SELECT l.o_orderkey, p.promo_id, l.f_start, l.f_end
    FROM l JOIN p ON l.f_start < p.p_end AND p.p_start < l.f_end
    """,
    doc="Interval x interval OVERLAP join: per-order fulfillment "
    "windows [orderdate, orderdate + 1..14d) against 10-day promo "
    "windows — matched when the half-open intervals overlap. Engine "
    "side buckets BOTH interval sets into fixed 16-day buckets and "
    "hash-equi-joins on the bucket with a residual overlap predicate "
    "(operators/relational.py::interval_overlap_join_bucketed) — the "
    "shape that survives when neither side broadcasts; the oracle "
    "states the same result as the direct theta join the bucketing "
    "replaces (a broadcast nested loop at demo scale, O(|L|x|R|) at "
    "any scale).",
)
def join_interval_overlap(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-03-01").cast("date"))
        & (F.col("o_orderdate") <= F.lit("1995-04-30").cast("date"))
    )
    l = o.select(
        "o_orderkey",
        F.datediff("o_orderdate", F.lit("1995-03-01").cast("date")).alias(
            "f_start"
        ),
        (
            F.datediff("o_orderdate", F.lit("1995-03-01").cast("date"))
            + (F.col("o_orderkey") % 14)
            + 1
        ).alias("f_end"),
    )
    p = spark.range(4).select(
        F.col("id").cast("int").alias("promo_id"),
        (F.col("id") * 20).cast("int").alias("p_start"),
        (F.col("id") * 20 + 10).cast("int").alias("p_end"),
    )
    out = rel_ops.interval_overlap_join_bucketed(
        l, p, "f_start", "f_end", "p_start", "p_end", bucket_width=16
    )
    return out.select("o_orderkey", "promo_id", "f_start", "f_end")


@parity(
    "win_cusum_alarm",
    sql="""
    WITH RECURSIVE daily AS (
      SELECT event_type AS k, CAST(ts AS DATE) AS d, COUNT(*) AS x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY CAST(ts AS DATE)) AS rn
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    thr AS (SELECT AVG(x) + 2.0 AS t FROM daily),
    rec AS (
      SELECT k, rn, GREATEST(0.0, x - thr.t) AS s
      FROM daily CROSS JOIN thr WHERE rn = 1
      UNION ALL
      SELECT d.k, d.rn, GREATEST(0.0, rec.s + d.x - thr.t)
      FROM daily d
      CROSS JOIN thr
      JOIN rec ON d.k IS NOT DISTINCT FROM rec.k AND d.rn = rec.rn + 1
    )
    SELECT k AS event_type, CAST(MAX(rn) AS BIGINT) AS n_days,
           (ROUND(MAX(s) + 1e-9, 4) + 0.0) AS max_cusum,
           MAX(s) > 15.0 AS alarm
    FROM rec GROUP BY k
    """,
    doc="CUSUM upward change detection per event type (Page 1954): the "
    "one-sided recursion S_t = max(0, S_{t-1} + x_t - threshold) over "
    "each type's daily count series, reporting the peak statistic and "
    "an alarm flag. The recursion has a max() inside, so no closed "
    "form exists (contrast win_ewma) — it runs as ONE sequential "
    "aggregate() fold over the per-key SORTED day array (pure "
    "codegen, scalar state, O(series) per key with no O(n^2) array "
    "build); the oracle states the identical recursion as a "
    "recursive CTE. The threshold is a 1-row broadcast (global mean "
    "+ drift allowance). Per-key series are day-counts — bounded; "
    "for ultra-long series this is the fold the ewma_chunked "
    "two-phase trick does NOT apply to (max() breaks linearity), "
    "which is exactly why the fold formulation matters.",
)
def win_cusum_alarm(spark, sf_dir):
    # timeline op: un-timestamped events belong to no day (oracle mirrors)
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("x"))
    thr = daily.agg((F.avg("x") + F.lit(2.0)).alias("t"))
    arr = (
        daily.crossJoin(F.broadcast(thr))
        .groupBy("event_type")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("d", "x"))
            ).alias("__series"),
            F.first("t").alias("t"),
            F.count("*").alias("n_days"),
        )
    )
    fold = F.expr(
        "aggregate(__series, "
        "named_struct('s', CAST(0.0 AS DOUBLE), 'm', CAST(0.0 AS DOUBLE)), "
        "(acc, e) -> named_struct("
        "  's', greatest(CAST(0.0 AS DOUBLE), acc.s + e.x - t), "
        "  'm', greatest(acc.m, greatest(CAST(0.0 AS DOUBLE), acc.s + e.x - t))), "
        "acc -> acc.m)"
    )
    return arr.select(
        "event_type",
        F.col("n_days"),
        r_(fold, 4).alias("max_cusum"),
        (fold > F.lit(15.0)).alias("alarm"),
    )


@parity(
    "agg_chi_square",
    sql="""
    WITH c AS (
      SELECT event_type, CAST(user_id % 2 AS INT) AS cohort, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT c.*,
             SUM(n) OVER (PARTITION BY event_type) AS row_tot,
             SUM(n) OVER (PARTITION BY cohort) AS col_tot,
             SUM(n) OVER () AS tot
      FROM c
    )
    SELECT CAST(COUNT(*) - COUNT(DISTINCT event_type) - COUNT(DISTINCT cohort) + 1 AS BIGINT) AS dof,
           (ROUND(SUM(pow(n - row_tot * 1.0 * col_tot / tot, 2)
                     / (row_tot * 1.0 * col_tot / tot)) + 1e-9, 4) + 0.0) AS chi2
    FROM m
    """,
    doc="Chi-square independence test of event_type vs a user cohort "
    "split (the categorical counterpart of agg_ab_test): observed "
    "contingency counts from ONE keyed aggregate, expected counts and "
    "the statistic from windows over the tiny cells frame "
    "(types x cohorts rows). dof computed as cells - rows - cols + 1 "
    "(= (r-1)(c-1) for a complete table). Only the contingency "
    "aggregate touches fact-sized data.",
)
def agg_chi_square(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", (F.col("user_id") % 2).cast("int").alias("cohort")
    ).agg(F.count("*").alias("n"))
    wr = W.partitionBy("event_type")
    wc = W.partitionBy("cohort")
    wall = W.partitionBy()
    m = c.select(
        "event_type",
        "cohort",
        "n",
        F.sum("n").over(wr).alias("row_tot"),
        F.sum("n").over(wc).alias("col_tot"),
        F.sum("n").over(wall).alias("tot"),
    )
    exp = F.col("row_tot") * F.lit(1.0) * F.col("col_tot") / F.col("tot")
    return m.agg(
        (
            F.count("*")
            - F.countDistinct("event_type")
            - F.countDistinct("cohort")
            + 1
        ).alias("dof"),
        r_(F.sum(F.pow(F.col("n") - exp, 2) / exp), 4).alias("chi2"),
    )


@parity(
    "agg_ks_test",
    sql="""
    WITH s AS (
      SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'view')
    ),
    tot AS (
      SELECT SUM(is_a) AS na, COUNT(*) - SUM(is_a) AS nb FROM s
    ),
    e AS (
      SELECT value,
             SUM(is_a) OVER (ORDER BY value
                             ROWS UNBOUNDED PRECEDING) AS ca,
             SUM(1 - is_a) OVER (ORDER BY value
                                 ROWS UNBOUNDED PRECEDING) AS cb
      FROM s
    ),
    m AS (
      SELECT value, MAX(ca) AS ca, MAX(cb) AS cb
      FROM e GROUP BY value
    )
    SELECT CAST(tot.na AS BIGINT) AS n_a, CAST(tot.nb AS BIGINT) AS n_b,
           (ROUND(MAX(ABS(ca * 1.0 / tot.na - cb * 1.0 / tot.nb)) + 1e-9, 4) + 0.0) AS ks_d
    FROM m CROSS JOIN tot
    GROUP BY tot.na, tot.nb
    """,
    doc="Two-sample Kolmogorov-Smirnov statistic between the 'click' "
    "and 'view' value distributions (the nonparametric companion to "
    "agg_ab_test — detects any distributional difference, not just a "
    "mean shift): both empirical CDFs ride ONE ordered running-sum "
    "window over the union sample, collapsed to per-distinct-value "
    "steps, D = max |F_a - F_b|. The order-global cumulative is the "
    "same class as agg_gini's rank (post-filter sample frame; "
    "prefix-sum remedy documented there); totals broadcast.",
)
def agg_ks_test(spark, sf_dir):
    from pyspark.sql import Window as W

    s = (
        _t(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "view")
        )
        .select(
            "value",
            (F.col("event_type") == "click").cast("int").alias("is_a"),
        )
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, W.currentRow)
    e = s.select(
        "value",
        F.sum("is_a").over(w).alias("ca"),
        F.sum(1 - F.col("is_a")).over(w).alias("cb"),
    )
    m = e.groupBy("value").agg(F.max("ca").alias("ca"), F.max("cb").alias("cb"))
    tot = s.agg(
        F.sum("is_a").alias("na"), (F.count("*") - F.sum("is_a")).alias("nb")
    )
    # groupBy mirrors the oracle's GROUP BY tot.na, tot.nb: an EMPTY
    # union sample yields ZERO verdict rows, not one all-NaN row
    return (
        m.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            r_(
                F.max(
                    F.abs(
                        F.col("ca") * F.lit(1.0) / F.col("na")
                        - F.col("cb") * F.lit(1.0) / F.col("nb")
                    )
                ),
                4,
            ).alias("ks_d"),
        )
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            "ks_d",
        )
    )


@parity(
    "agg_brr_ci",
    sql="""
    WITH s AS (
      SELECT event_id, value FROM events WHERE value IS NOT NULL
    ),
    reps AS (
      SELECT CAST(r.r AS INT) AS rep, AVG(s.value) AS m
      FROM s CROSS JOIN UNNEST(range(0, 20)) r(r)
      WHERE ((((xor(s.event_id, CAST(r.r AS BIGINT) * 40503) & 2147483647)
               * 2654435761) % 2147483647) % 2) = 0
      GROUP BY 1
    ),
    full_m AS (SELECT AVG(value) AS theta, COUNT(*) AS n FROM s)
    SELECT CAST(full_m.n AS BIGINT) AS n,
           (ROUND(full_m.theta + 1e-9, 4) + 0.0) AS mean_value,
           (ROUND(sqrt(AVG(pow(reps.m - full_m.theta, 2))) + 1e-9, 4) + 0.0) AS se_brr,
           (ROUND(full_m.theta - 1.96 * sqrt(AVG(pow(reps.m - full_m.theta, 2))) + 1e-9, 4) + 0.0) AS ci_lo,
           (ROUND(full_m.theta + 1.96 * sqrt(AVG(pow(reps.m - full_m.theta, 2))) + 1e-9, 4) + 0.0) AS ci_hi
    FROM reps CROSS JOIN full_m
    GROUP BY full_m.theta, full_m.n
    """,
    doc="Distribution-free confidence interval for the mean via "
    "balanced-repeated-replication-style half-samples: 20 "
    "DETERMINISTIC hash-selected half-samples (the same seeded "
    "Knuth-multiplicative realization as the samplers — no RNG "
    "state, any engine reproduces the replicas), SE = sqrt(mean of "
    "(replica mean - full mean)^2), normal-theory 95% band. At scale "
    "this is the resampling scheme that works distributed: replica "
    "membership is a map-side hash predicate, all 20 replica means "
    "are conditional aggregates in ONE pass (here expressed as a "
    "20-way unnest join for oracle clarity — the engine side uses "
    "FILTER-style conditional sums, no row blow-up).",
)
def agg_brr_ci(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())

    def member(r):
        # mask to 31 bits BEFORE the Knuth multiply (ANSI overflow
        # safety), then reduce MOD the Mersenne prime like
        # mixing.shuffle_key_expr — a power-of-two AND would preserve
        # bit 0 through the odd multiplier and collapse all replicas
        # into two complementary parity classes
        h = (
            F.col("event_id").bitwiseXOR(F.lit(r * 40503)).bitwiseAND(
                F.lit(2147483647)
            )
            * F.lit(2654435761)
        ) % F.lit(2147483647)
        return (h % 2) == 0

    aggs = [F.count("*").alias("n"), F.avg("value").alias("theta")]
    for r in range(20):
        aggs.append(
            F.avg(F.when(member(r), F.col("value"))).alias(f"m{r}")
        )
    s = ev.agg(*aggs)
    sq = [
        F.pow(F.col(f"m{r}") - F.col("theta"), 2) for r in range(20)
    ]
    se = F.sqrt(sum(sq[1:], sq[0]) / F.lit(20.0))
    return s.select(
        F.col("n").cast("long").alias("n"),
        r_(F.col("theta"), 4).alias("mean_value"),
        r_(se, 4).alias("se_brr"),
        r_(F.col("theta") - F.lit(1.96) * se, 4).alias("ci_lo"),
        r_(F.col("theta") + F.lit(1.96) * se, 4).alias("ci_hi"),
    )


@parity(
    "sink_manifest_integrity",
    sql="""
    WITH src AS (
      SELECT o_orderkey, o_orderpriority,
             TRY_CAST(round(o_totalprice * 100) AS BIGINT) AS price_units
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price_units) AS BIGINT) AS sum_units,
           CAST(SUM(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
                                        || o_orderpriority || '|'
                                        || CAST(price_units AS VARCHAR)), 1, 8))::UBIGINT)
                AS BIGINT) AS digest_sum,
           TRUE AS roundtrip_ok
    FROM src
    """,
    doc="Sink integrity manifest (the trust-but-verify step after any "
    "bulk write): a filtered orders projection is written to parquet "
    "and read back, and BOTH sides reduce to an order-independent "
    "manifest — row count, exact value total, and a content digest "
    "sum (md5-derived 32-bit token per row, summed — commutative, so "
    "file/partition order is irrelevant). roundtrip_ok asserts the "
    "read-back manifest equals the pre-write manifest; the oracle "
    "recomputes the same manifest from the source table, so a row "
    "lost, duplicated, or altered ANYWHERE in the write-read cycle "
    "flips at least one column. One scan per side + a 1-row compare; "
    "at 100 TB this is the cheap full-fidelity audit that replaces "
    "row-by-row diffing.",
)
def sink_manifest_integrity(spark, sf_dir):
    path = os.path.join(_scratch(sf_dir), "orders_manifest")
    src = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            "o_orderpriority",
            u2("o_totalprice").alias("price_units"),
        )
    )

    def manifest(df):
        # digest covers the FULL row content (key, attrs, value) — a
        # value swapped between rows flips it even though sum_units
        # cannot; 32-bit tokens summed through the hi/lo split so the
        # accumulator stays exact past ~4e9 rows (ANSI overflow
        # discipline, same as the money sums)
        digest = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey").cast("string"),
                        F.col("o_orderpriority"),
                        F.col("price_units").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return df.agg(
            F.count("*").alias("n_rows"),
            F.sum("price_units").alias("sum_units"),
            exact_sum(digest).cast("long").alias("digest_sum"),
        )

    src.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    pre = manifest(src).first()
    post = manifest(back)
    return post.select(
        "n_rows",
        "sum_units",
        "digest_sum",
        (
            (F.col("n_rows") == F.lit(pre["n_rows"]))
            & (F.col("sum_units") == F.lit(pre["sum_units"]))
            & (F.col("digest_sum") == F.lit(pre["digest_sum"]))
        ).alias("roundtrip_ok"),
    )


@parity(
    "win_seasonal_decompose",
    sql="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS di,
             COUNT(*) * 1.0 AS n
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-06-30'
      GROUP BY 1, 2
    ),
    tr AS (
      SELECT d, di, n,
             CASE WHEN COUNT(*) OVER w = 7 THEN AVG(n) OVER w END AS trend
      FROM daily
      WINDOW w AS (ORDER BY di ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (SELECT *, n - trend AS detr, di % 7 AS phase FROM tr),
    seas AS (
      SELECT phase, AVG(detr) AS seasonal
      FROM det WHERE detr IS NOT NULL GROUP BY phase
    )
    SELECT det.d AS o_orderdate, CAST(det.n AS BIGINT) AS n,
           (ROUND(det.trend + 1e-9, 4) + 0.0) AS trend,
           (ROUND(seas.seasonal + 1e-9, 4) + 0.0) AS seasonal,
           (ROUND(det.detr - seas.seasonal + 1e-9, 4) + 0.0) AS residual
    FROM det JOIN seas ON seas.phase = det.phase
    WHERE det.trend IS NOT NULL
    """,
    doc="Classical additive seasonal decomposition of the daily "
    "order-count series (trend + weekly seasonal + residual — the "
    "moving-average method of statsmodels' seasonal_decompose): trend "
    "= centered 7-day average (full-frame only), weekly seasonal = "
    "per-phase mean of the detrended series with phase = day-index "
    "mod 7 (calendar-convention-free), residual = remainder. One "
    "frame-bounded window over the daily aggregate, one tiny 7-row "
    "phase aggregate broadcast back — the fact is touched once by the "
    "daily rollup and never again.",
)
def win_seasonal_decompose(spark, sf_dir):
    from pyspark.sql import Window as W

    daily = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") <= F.lit("1995-06-30").cast("date"))
        )
        .groupBy(
            F.to_date("o_orderdate").alias("o_orderdate"),
            F.datediff(
                "o_orderdate", F.lit("1995-01-01").cast("date")
            ).alias("di"),
        )
        .agg((F.count("*") * F.lit(1.0)).alias("n"))
    )
    w = W.orderBy("di").rowsBetween(-3, 3)
    tr = daily.select(
        "o_orderdate",
        "di",
        "n",
        F.when(F.count("*").over(w) == 7, F.avg("n").over(w)).alias("trend"),
    )
    det = tr.withColumn("detr", F.col("n") - F.col("trend")).withColumn(
        "phase", F.col("di") % 7
    )
    # phase means via a window over the SAME daily frame (AVG ignores
    # the NULL detr edges) — a groupBy+join branch here would scan and
    # re-aggregate the fact a second time
    seas_w = W.partitionBy("phase")
    det = det.withColumn("seasonal", F.avg("detr").over(seas_w))
    return (
        det
        .filter(F.col("trend").isNotNull())
        .select(
            "o_orderdate",
            F.col("n").cast("long").alias("n"),
            r_(F.col("trend"), 4).alias("trend"),
            r_(F.col("seasonal"), 4).alias("seasonal"),
            r_(F.col("detr") - F.col("seasonal"), 4).alias("residual"),
        )
    )  # one orders scan (asserted in tests/test_scale_plans.py)


@parity(
    "win_holt_linear",
    sql="""
    WITH RECURSIVE daily AS (
      SELECT event_type AS k, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS DOUBLE) AS x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY CAST(ts AS DATE)) AS rn
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    rec AS (
      SELECT k, rn, x AS l, CAST(0.0 AS DOUBLE) AS b FROM daily WHERE rn = 1
      UNION ALL
      SELECT d.k, d.rn,
             0.3 * d.x + 0.7 * (rec.l + rec.b) AS l,
             0.1 * (0.3 * d.x + 0.7 * (rec.l + rec.b) - rec.l) + 0.9 * rec.b AS b
      -- IS NOT DISTINCT FROM: the NULL event_type series must advance
      -- through the recursion too (= stalls at rn=1 for NULL keys)
      FROM daily d JOIN rec ON d.k IS NOT DISTINCT FROM rec.k AND d.rn = rec.rn + 1
    ),
    last AS (
      SELECT r.k, r.l, r.b, r.rn
      FROM rec r JOIN (SELECT k, MAX(rn) AS mx FROM rec GROUP BY k) m
        ON m.k IS NOT DISTINCT FROM r.k AND m.mx = r.rn
    )
    SELECT k AS event_type, CAST(rn AS BIGINT) AS n_days,
           (ROUND(l + 1e-9, 4) + 0.0) AS level,
           (ROUND(b + 1e-9, 4) + 0.0) AS trend,
           (ROUND(l + b + 1e-9, 4) + 0.0) AS forecast_1,
           (ROUND(l + 7 * b + 1e-9, 4) + 0.0) AS forecast_7
    FROM last
    """,
    doc="Holt's linear-trend smoothing (double exponential, "
    "alpha=0.3 beta=0.1, l_0 = x_0, b_0 = 0) per event type over the "
    "daily count series, emitting the final (level, trend) state and "
    "the 1-day / 7-day forecasts — the step up from EWMA when the "
    "series drifts. The recursion carries a 2-D state with a max-free "
    "LINEAR update, but the per-row closed form needs matrix powers, "
    "so like win_cusum_alarm it runs as ONE sequential aggregate() "
    "fold with (l, b) scalar state over the per-key sorted day array "
    "— pure codegen, O(series) per key, no O(n^2) array build; the "
    "oracle states the identical recursion as a recursive CTE. "
    "(For unbounded series the chunked carry generalizes: each "
    "chunk's affine map (A_k, c_k) composes over the tiny summary "
    "frame exactly like ewma_chunked's scalar recurrence.)",
)
def win_holt_linear(spark, sf_dir):
    # timeline op: un-timestamped events belong to no day (oracle mirrors)
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("d")
    ).agg((F.count("*") * F.lit(1.0)).alias("x"))
    arr = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("__s"),
        F.count("*").alias("n_days"),
    )
    fold = F.expr(
        "aggregate(slice(__s, 2, size(__s) - 1), "
        "named_struct('l', CAST(__s[0].x AS DOUBLE), 'b', CAST(0.0 AS DOUBLE)), "
        "(acc, e) -> named_struct("
        "  'l', 0.3 * e.x + 0.7 * (acc.l + acc.b), "
        "  'b', 0.1 * (0.3 * e.x + 0.7 * (acc.l + acc.b) - acc.l) + 0.9 * acc.b))"
    )
    st = arr.withColumn("__st", fold)
    return st.select(
        "event_type",
        "n_days",
        r_(F.col("__st.l"), 4).alias("level"),
        r_(F.col("__st.b"), 4).alias("trend"),
        r_(F.col("__st.l") + F.col("__st.b"), 4).alias("forecast_1"),
        r_(F.col("__st.l") + 7 * F.col("__st.b"), 4).alias("forecast_7"),
    )


@parity(
    "ts_subseq_search",
    sql="""
    WITH daily AS (
      SELECT event_type AS k, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events
      GROUP BY 1, 2
    ),
    win AS (
      SELECT k, d,
             list(n) OVER w AS w,
             COUNT(*) OVER w AS cnt
      FROM daily
      WINDOW w AS (PARTITION BY k ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    ),
    fullw AS (
      SELECT k, d, w, list_avg(w) AS mu,
             sqrt(list_avg(list_transform(w, x -> (x - list_avg(w)) * (x - list_avg(w))))) AS sd
      FROM win WHERE cnt = 5
    ),
    z AS (
      SELECT k, d, list_transform(w, x -> (x - mu) / sd) AS z
      FROM fullw WHERE sd > 0
    ),
    q AS (SELECT k AS qk, d AS qd, z AS qz FROM z
          WHERE k = 'click' ORDER BY d DESC LIMIT 1),
    scored AS (
      SELECT z.k, z.d,
             (ROUND(list_sum(list_transform(list_zip(z.z, q.qz),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) + 1e-9, 4) + 0.0) AS dist
      FROM z CROSS JOIN q
      WHERE NOT (z.k = q.qk AND z.d = q.qd)
    )
    SELECT k, d AS window_end, dist
    FROM scored ORDER BY dist, k, d LIMIT 5
    """,
    doc="Time-series subsequence similarity search (the distributed "
    "trajectory/TS-similarity workload of the retrieved EDBT/ICDE "
    "papers, reduced to its core): z-normalized length-5 sliding "
    "windows over each event_type's daily event-count series (events "
    "is dense and varying at EVERY SF — the original orders series "
    "was all-constant at the sf0.001 smoke slice, so z-filtering left "
    "an empty, vacuously-green result that never exercised the "
    "distance logic), Euclidean distance to the "
    "query pattern (the latest full window of the 'click' series), "
    "top-5 nearest. Windows come from a bounded collect over the "
    "frame (O(len) per row, same shape as rolling_median), the "
    "z-normalization and distance are pure array codegen, the 1-row "
    "query broadcasts, and the top-5 is TakeOrderedAndProject — no "
    "pairwise window join, no global materialization of the "
    "subsequence space beyond one row per (key, day).",
)
def ts_subseq_search(spark, sf_dir):
    from pyspark.sql import Window as W

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("k"),
            F.to_date("ts").alias("d"),
        )
        .agg(F.count("*").cast("double").alias("n"))
    )
    w = W.partitionBy("k").orderBy("d").rowsBetween(-4, 0)
    win = daily.select(
        "k",
        "d",
        F.collect_list("n").over(w).alias("w"),
        F.count("*").over(w).alias("cnt"),
    ).filter(F.col("cnt") == 5)
    mu = F.expr("aggregate(w, 0.0D, (a, x) -> a + x) / 5.0")
    fullw = win.withColumn("mu", mu).withColumn(
        "sd",
        F.sqrt(
            F.expr(
                "aggregate(w, 0.0D, (a, x) -> a + (x - mu) * (x - mu)) / 5.0"
            )
        ),
    )
    z = (
        fullw.filter(F.col("sd") > 0)
        .withColumn(
            "z", F.expr("transform(w, x -> (x - mu) / sd)")
        )
        .select("k", "d", "z")
    )
    q = (
        z.filter(F.col("k") == "click")
        .orderBy(F.col("d").desc())
        .limit(1)
        .select(
            F.col("k").alias("qk"), F.col("d").alias("qd"), F.col("z").alias("qz")
        )
    )
    dist = F.expr(
        "aggregate(zip_with(z, qz, (a, b) -> (a - b) * (a - b)), "
        "0.0D, (acc, v) -> acc + v)"
    )
    scored = (
        z.crossJoin(F.broadcast(q))
        .filter(~((F.col("k") == F.col("qk")) & (F.col("d") == F.col("qd"))))
        .select("k", F.col("d").alias("window_end"), r_(dist, 4).alias("dist"))
    )
    return scored.orderBy("dist", "k", "window_end").limit(5)


@parity(
    "stream_sliding_window",
    sql="""
    WITH e AS (
      SELECT ts, event_type, value,
             time_bucket(INTERVAL '1 hour', ts) AS h
      FROM events WHERE ts IS NOT NULL
    ),
    assigned AS (
      SELECT event_type, value,
             h - INTERVAL (o.off) HOUR AS win_start
      FROM e, (SELECT 0 AS off UNION ALL SELECT 1) o
    )
    SELECT win_start, event_type, COUNT(*) AS cnt,
           (ROUND(SUM(value) + 1e-9, 2) + 0.0) AS sum_value
    FROM assigned GROUP BY 1, 2
    """,
    doc="SLIDING event-time windows (2-hour length, 1-hour slide — "
    "each event lands in TWO overlapping windows), the overlapping "
    "counterpart of stream_window_agg's tumbling buckets and the same "
    "F.window operator the streaming path uses with a slideDuration. "
    "Spark expands the window assignment map-side (explode of the "
    "covering windows, x2 rows) before ONE keyed aggregate; the "
    "oracle states the identical assignment as an hour-bucket shift "
    "join. Window start is the bucket boundary so results are "
    "calendar-stable across engines.",
)
def stream_sliding_window(spark, sf_dir):
    # timeline op: F.window drops un-timestamped rows at the operator
    # level — drop at ingest so the policy is explicit + oracle-mirrored
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value") + F.lit(EPS), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


@parity(
    "agg_rank_correlation",
    sql="""
    WITH a AS (
      SELECT o_custkey, SUM(TRY_CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
    ),
    b AS (
      SELECT o_custkey, SUM(TRY_CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders WHERE year(o_orderdate) = 2000 GROUP BY 1
    ),
    j AS (
      SELECT a.o_custkey,
             ROW_NUMBER() OVER (ORDER BY a.rev DESC, a.o_custkey) AS ra,
             ROW_NUMBER() OVER (ORDER BY b.rev DESC, a.o_custkey) AS rb
      FROM a JOIN b ON b.o_custkey = a.o_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_common,
           (ROUND(1.0 - 6.0 * SUM(CAST((ra - rb) * (ra - rb) AS DOUBLE))
                 / (COUNT(*) * (CAST(COUNT(*) AS DOUBLE) * COUNT(*) - 1))
                 + 1e-9, 4) + 0.0) AS spearman_rho
    FROM j
    """,
    doc="Rank-stability analytics: Spearman's rho between customer "
    "revenue RANKINGS in two periods (1996 vs 2000) over the common "
    "customers — the 'did the leaderboard reshuffle' metric behind "
    "cohort and assortment dashboards. Exact integer-cent revenues "
    "and fully tie-broken row_number ranks (rev desc, custkey) make "
    "the rank vectors identical on any engine; rho from the "
    "closed-form 1 - 6*sum(d^2)/(n(n^2-1)). Two keyed aggregates, one "
    "co-partitioned join, ranks over the POST-AGGREGATE customer "
    "frame (same caveat + prefix-sum remedy as agg_gini).",
)
def agg_rank_correlation(spark, sf_dir):
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")

    def period(year):
        return (
            o.filter(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(F.sum(u2("o_totalprice")).alias("rev"))
        )

    a = period(1996)
    b = period(2000).select(
        F.col("o_custkey"), F.col("rev").alias("rev_b")
    )
    j = a.join(b, "o_custkey")
    ra = F.row_number().over(
        W.orderBy(F.col("rev").desc(), F.col("o_custkey"))
    )
    rb = F.row_number().over(
        W.orderBy(F.col("rev_b").desc(), F.col("o_custkey"))
    )
    ranked = j.select(
        ra.alias("ra").cast("double"), rb.alias("rb").cast("double")
    )
    n = F.count("*")
    d2 = F.sum((F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb")))
    return ranked.agg(
        n.cast("long").alias("n_common"),
        r_(
            F.lit(1.0)
            - F.lit(6.0) * d2 / (n * (n.cast("double") * n - 1)),
            4,
        ).alias("spearman_rho"),
    )


@parity(
    "profile_quarantine",
    sql="""
    -- the oracle re-evaluates the CONTRACT on the same augmented frame
    -- (base rows + planted violations: %10=3 lose the date, %10=6 turn
    -- NaN, %10=9 overflow the unit band, %10=0 violate both) — so the
    -- verdict also holds when the BASE data itself carries violations
    -- (the hostile-orders corpus does). NaN/±Inf fail the band compare
    -- identically on both engines (NaN sorts greatest in each).
    WITH base AS (
      SELECT o_orderkey, o_orderdate, o_totalprice
      FROM orders WHERE o_orderkey IS NOT NULL
    ),
    aug AS (
      SELECT * FROM base
      UNION ALL
      SELECT o_orderkey + 10000000,
             CASE WHEN o_orderkey % 10 IN (3, 0) THEN NULL
                  ELSE o_orderdate END,
             CASE WHEN o_orderkey % 10 IN (6, 0) THEN 'nan'::DOUBLE
                  WHEN o_orderkey % 10 = 9 THEN o_totalprice * 1e308
                  ELSE o_totalprice END
      FROM base WHERE o_orderkey % 10 IN (0, 3, 6, 9)
    ),
    checked AS (
      SELECT (o_orderdate IS NULL) AS d_bad,
             NOT (o_totalprice IS NOT NULL
                  AND o_totalprice * 100 >= -9223372036854775808.0
                  AND o_totalprice * 100 < 9223372036854775808.0) AS p_bad
      FROM aug
    )
    SELECT CASE WHEN d_bad AND p_bad
                THEN 'o_orderdate:not_null,o_totalprice:unit_band_100'
                WHEN d_bad THEN 'o_orderdate:not_null'
                WHEN p_bad THEN 'o_totalprice:unit_band_100'
                ELSE 'valid' END AS reason,
           COUNT(*) AS n
    FROM checked GROUP BY 1
    """,
    doc="Contract quarantine as a declared query (operators.quality."
    "quarantine): the ingest gate that splits a landing table into "
    "valid rows and machine-readable rejects, formalizing the validity "
    "policies the hostile-corpus program pinned (timestamped rows for "
    "timeline ops, unit-representable money for exact accumulators, "
    "non-NULL keys). Violations are PLANTED deterministically on "
    "driver data (per-key-decile copies with a NULL date / NaN money / "
    "1e308 money / both), so the per-reason reject counts are fully "
    "oracle-checkable from the planting rule alone. One codegen "
    "projection, zero shuffles before the count; at 100 TB the valid "
    "side flows on unchanged and the reject side partitions by reason "
    "into a reprocessing queue. The hostile-orders gate additionally "
    "property-tests that the same contract catches every hostile row "
    "(tests/test_hostile_orders.py).",
)
def profile_quarantine(spark, sf_dir):
    from .operators import quality as Q

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    k = F.col("o_orderkey") % 10
    nan = F.lit(float("nan"))
    plant = (
        o.filter(k.isin(0, 3, 6, 9))
        .select(
            (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
            F.when(k.isin(3, 0), F.lit(None).cast("timestamp"))
            .otherwise(F.col("o_orderdate"))
            .alias("o_orderdate"),
            F.when(k.isin(6, 0), nan)
            .when(k == 9, F.col("o_totalprice") * F.lit(1e308))
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
    )
    aug = o.select("o_orderkey", "o_orderdate", "o_totalprice").unionByName(
        plant
    )
    contract = [
        ("o_orderkey", Q.not_null()),
        ("o_orderdate", Q.not_null()),
        ("o_totalprice", Q.unit_band()),
    ]
    annotated = Q.contract_check(aug, contract)
    return annotated.groupBy(
        F.coalesce(F.col("__quarantine_reason"), F.lit("valid")).alias(
            "reason"
        )
    ).agg(F.count("*").alias("n"))
