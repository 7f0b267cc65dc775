"""The benchmark workloads: which public library calls each op makes, the
action that materializes the result, the input rows it reads, and how its
output is checked.

An op's ``start`` is the public library call; ``finish`` is the action
that materializes it. In timed passes a DataFrame is drained into the
``noop`` sink; in the check pass it is written to parquet so DuckDB can
compare it with an oracle computed on the same generated inputs.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


@dataclass
class Ctx:
    """What an op needs: the session, its inputs, and a private directory
    for sinks and checkpoints that is removed after the op."""

    spark: object
    data: str
    op_dir: str
    check: bool
    queries: list


@dataclass
class Op:
    name: str
    tables: tuple[str, ...]
    start: Callable[[Ctx], object]
    finish: Callable[[Ctx, object], None]
    check: Callable[[Ctx], str | None]  # a description of what is wrong, or None


@dataclass
class Workload:
    name: str
    inputs: str  # input kind built by inputs.build
    ops: list[Op]


# ---------------------------------------------------------------------------
# actions
# ---------------------------------------------------------------------------


def out_path(ctx: Ctx) -> str:
    return os.path.join(ctx.op_dir, "out")


def drain(ctx: Ctx, df: DataFrame) -> None:
    if ctx.check:
        df.write.mode("overwrite").parquet(out_path(ctx))
    else:
        df.write.format("noop").mode("overwrite").save()


def await_query(ctx: Ctx, query) -> None:
    """Wait until an ``AvailableNow`` query has drained its input. The
    op's bounded wait stops the query if it takes too long."""
    ctx.queries.append(query)
    query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))


# ---------------------------------------------------------------------------
# correctness checks (DuckDB over the same generated inputs)
# ---------------------------------------------------------------------------


def parity_registry() -> dict:
    """The library's registered entries (relational and LLM), each a
    public function paired with its DuckDB oracle SQL."""
    import trino_demo_spark.parity_llm  # noqa: F401  (registers the LLM entries)
    from trino_demo_spark.parity import PARITY

    return PARITY


def duck(data: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def parity_check(entry: str) -> Callable[[Ctx], str | None]:
    """The op's output against its parity oracle, by the order-independent
    multiset fingerprint of the pre-flight tool."""

    def check(ctx: Ctx) -> str | None:
        from scripts.preflight import fingerprint_compare

        con = duck(ctx.data)
        try:
            got, want, tag = fingerprint_compare(
                con, f"read_parquet('{out_path(ctx)}/*.parquet')", parity_registry()[entry].sql
            )
        finally:
            con.close()
        return None if tag == "OK(fp)" else f"{tag}: {got} != oracle {want}"

    return check


def _compare_sql(con, got_sql: str, want_sql: str) -> str | None:
    extra, missing = con.sql(
        f"SELECT (SELECT count(*) FROM (({got_sql}) EXCEPT ALL ({want_sql}))),"
        f" (SELECT count(*) FROM (({want_sql}) EXCEPT ALL ({got_sql})))"
    ).fetchone()
    return None if extra == missing == 0 else f"{extra} unexpected and {missing} missing rows"


def corpus_clean_check(ctx: Ctx) -> str | None:
    """The incremental clean keeps one row per content hash, and exactly
    the texts the batch corpus pipeline keeps (its DuckDB oracle)."""
    out = os.path.join(ctx.op_dir, "sink")
    con = duck(ctx.data)
    try:
        n, n_distinct = con.sql(
            f"SELECT count(*), count(DISTINCT content_hash) FROM read_parquet('{out}/*/*.parquet')"
        ).fetchone()
        if n != n_distinct:
            return f"{n - n_distinct} duplicate content hashes kept"
        return _compare_sql(
            con,
            f"SELECT DISTINCT content_hash FROM read_parquet('{out}/*/*.parquet')",
            "SELECT DISTINCT sha256(text) FROM documents WHERE doc_id IN"
            f" (SELECT doc_id FROM ({parity_registry()['e2e_llm_data_pipeline'].sql}))",
        )
    finally:
        con.close()


# ---------------------------------------------------------------------------
# op builders
# ---------------------------------------------------------------------------


def parity_op(entry: str, tables: tuple[str, ...]) -> Op:
    """An op that is one registered parity entry (a public function of
    the library) drained by the action."""

    def start(ctx: Ctx):
        return parity_registry()[entry].fn(ctx.spark, ctx.data)

    return Op(entry, tables, start, drain, parity_check(entry))


DOCUMENTS_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"


def documents_stream(ctx: Ctx):
    """The documents landing zone as a file stream, one file per micro-batch."""
    return (
        ctx.spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(ctx.data, "landing", "documents"))
    )


def corpus_clean_op() -> Op:
    def start(ctx: Ctx):
        from trino_demo_spark.streaming import kafka_shape as ks

        return ks.foreach_batch_sink(
            ks.corpus_clean_stream(documents_stream(ctx)),
            os.path.join(ctx.op_dir, "sink"),
            os.path.join(ctx.op_dir, "checkpoint"),
        )

    return Op("corpus_clean_stream", ("documents",), start, await_query, corpus_clean_check)


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in [
        Workload(
            "sql_star",
            "star",
            [
                parity_op("tpch_q1", ("lineitem",)),
                parity_op("tpch_q5", STAR_TABLES),
                parity_op("tpch_q9_full", ("lineitem", "part", "supplier", "nation", "orders")),
                parity_op("tpch_q18", ("customer", "orders", "lineitem")),
                parity_op("tpch_q21_full", ("lineitem", "orders", "supplier", "nation")),
                parity_op("join_inner_eq", ("lineitem", "orders")),
            ],
        ),
        Workload(
            "llm_ingest",
            "corpus",
            [
                parity_op("llm_dedup_semantic_lsh", ("embeddings",)),
                parity_op("llm_gopher_repetition", ("documents",)),
                parity_op("llm_multimodal_mp4_demux", ("documents",)),
                corpus_clean_op(),
            ],
        ),
    ]
}
