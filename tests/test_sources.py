"""Source-adapter tests: typed-header CSV dialect, Kafka table-description
mapping (decode tested against literal frames — no broker in container),
bounded-scan option rewrite, sidecar schema rendering."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from trino_demo_spark.sources import csv as csv_src
from trino_demo_spark.sources import document as doc_src
from trino_demo_spark.sources import kafka as kafka_src

# The reference's stockdata table description, abridged
# (trino/kafka/stockdata.json:1-41).
STOCK_DESC = {
    "topicName": "stockdata",
    "message": {
        "dataFormat": "json",
        "fields": [
            {"name": "date", "mapping": "date", "type": "DATE", "dataFormat": "iso8601"},
            {"name": "apple_price", "mapping": "apple_price", "type": "DOUBLE"},
            {"name": "volume", "mapping": "volume", "type": "BIGINT"},
            {"name": "low", "mapping": "low", "type": "DOUBLE"},
            {"name": "high", "mapping": "high", "type": "DOUBLE"},
            {"name": "open", "mapping": "open", "type": "DOUBLE"},
        ],
    },
}


def test_typed_header_parse():
    schema, formats = csv_src.parse_typed_header(
        "_id.date_ms(yyyy-MM-dd),AWND.double(),STATION.string(),WT01.double()"
    )
    assert [f.name for f in schema.fields] == ["_id", "AWND", "STATION", "WT01"]
    assert isinstance(schema.fields[0].dataType, T.DateType)
    assert isinstance(schema.fields[1].dataType, T.DoubleType)
    assert formats == {"_id": "yyyy-MM-dd"}


def test_typed_header_read(spark, tmp_path):
    p = os.path.join(str(tmp_path), "w.csv")
    with open(p, "w") as f:
        f.write("_id,AWND,STATION\n2022-09-01,12.5,NYC\n2022-09-02,3.25,NYC\n")
    df = csv_src.read_typed_header_csv(
        spark, p, "_id.date_ms(yyyy-MM-dd),AWND.double(),STATION.string()"
    )
    rows = df.orderBy("_id").collect()
    assert str(rows[0]["_id"]) == "2022-09-01"
    assert rows[1]["AWND"] == 3.25
    assert dict(df.dtypes)["_id"] == "date"


def test_kafka_mapping_decode(spark):
    raw = spark.createDataFrame(
        [
            ('{"date": "2022-09-01", "apple_price": 155.5, "volume": 1000, "low": 150.0, "high": 156.0, "open": 151.0}',
             datetime(2022, 9, 1, 14, 0, 0), 0, 7),
            ('{"date": "2022-09-02", "apple_price": 156.5, "volume": 2000, "low": 151.0, "high": 157.0, "open": 152.0}',
             datetime(2022, 9, 2, 14, 0, 0), 1, 8),
        ],
        "value string, timestamp timestamp, partition int, offset long",
    )
    out = kafka_src.decode_with_mapping(raw, STOCK_DESC)
    assert set(out.columns) == {
        "date", "apple_price", "volume", "low", "high", "open",
        "_timestamp", "_partition", "_offset",
    }
    types = dict(out.dtypes)
    assert types["date"] == "date" and types["volume"] == "bigint"
    rows = out.orderBy("date").collect()
    assert rows[0]["apple_price"] == 155.5
    assert rows[1]["_offset"] == 8


def test_bounded_scan_options():
    opts = kafka_src.bounded_scan_options(
        "stockdata", "broker:9092",
        lower=datetime(2022, 9, 1), upper=datetime(2022, 9, 2),
    )
    assert opts["subscribe"] == "stockdata"
    assert "startingTimestamp" in opts and "endingTimestamp" in opts
    assert "startingOffsets" not in opts and "endingOffsets" not in opts
    # unbounded scan keeps offsets
    opts2 = kafka_src.bounded_scan_options("t", "b")
    assert opts2["startingOffsets"] == "earliest"


def test_sidecar_rendering():
    schema = T.StructType(
        [T.StructField("_id", T.TimestampType()), T.StructField("tavg", T.DoubleType())]
    )
    side = doc_src.schema_to_sidecar(schema)
    assert side == [
        {"name": "_id", "type": "TIMESTAMP", "hidden": False},
        {"name": "tavg", "type": "DOUBLE", "hidden": False},
    ]


def test_registry_three_part_names(spark):
    from trino_demo_spark.registry import resolve_name

    assert resolve_name("TrinoDemo.Public.LINEITEM") == "lineitem"
    assert resolve_name("kafka.default.events") == "events"
    assert resolve_name("documents") == "documents"


def test_pyjsonl_partitions_per_file(spark, tmp_path):
    """The Python DataSource must expose one scan partition per part
    file (the unit of parallelism) and parse typed values exactly."""
    from trino_demo_spark.sources import pyjsonl

    pyjsonl.register(spark)
    for i in range(3):
        (tmp_path / f"part-{i}.jsonl").write_text(
            "\n".join(
                '{"k": %d, "v": %.1f, "s": "row%d"}' % (i * 10 + j, j + 0.5, j)
                for j in range(4)
            )
        )
    df = (
        spark.read.format("pyjsonl")
        .schema("k BIGINT, v DOUBLE, s STRING")
        .option("path", str(tmp_path))
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    rows = sorted(map(tuple, df.collect()))
    assert len(rows) == 12
    assert rows[0] == (0, 0.5, "row0")
    # missing keys surface as NULL, not errors
    extra = tmp_path / "part-9.jsonl"
    extra.write_text('{"k": 99}')
    df2 = (
        spark.read.format("pyjsonl")
        .schema("k BIGINT, v DOUBLE, s STRING")
        .option("path", str(tmp_path))
        .load()
    )
    r = [t for t in map(tuple, df2.collect()) if t[0] == 99][0]
    assert r == (99, None, None)


def test_pyjsonl_malformed_lines_permissive_and_failfast(spark, tmp_path):
    """Malformed-line contract (mirrors the native JSON reader): under
    the default PERMISSIVE mode an unparseable or non-object line
    becomes an all-NULL row — carrying the raw line when the schema
    declares _corrupt_record — instead of killing the scan task; under
    FAILFAST the scan raises. Caught at birth: json.loads crashed the
    task on the first bad line."""
    import pytest as _pytest

    from trino_demo_spark.sources import pyjsonl

    pyjsonl.register(spark)
    src = tmp_path / "landing"
    src.mkdir()
    (src / "part-0.jsonl").write_text(
        '{"k": 1, "s": "ok"}\n'
        "{not json at all\n"
        "[1, 2, 3]\n"
        '{"k": 2}\n'
    )
    df = (
        spark.read.format("pyjsonl")
        .schema("k BIGINT, s STRING")
        .option("path", str(src))
        .load()
    )
    rows = sorted(map(tuple, df.collect()), key=str)
    assert (1, "ok") in rows and (2, None) in rows
    assert rows.count((None, None)) == 2  # both poison lines quarantined

    caught = (
        spark.read.format("pyjsonl")
        .schema("k BIGINT, s STRING, _corrupt_record STRING")
        .option("path", str(src))
        .load()
    )
    bad = {r._corrupt_record for r in caught.collect() if r.k is None}
    assert bad == {"{not json at all", "[1, 2, 3]"}

    strict = (
        spark.read.format("pyjsonl")
        .schema("k BIGINT, s STRING")
        .option("path", str(src))
        .option("mode", "FAILFAST")
        .load()
    )
    with _pytest.raises(Exception):
        strict.collect()


def test_pyjsonl_recursion_bomb_quarantines_not_kills(spark, tmp_path):
    """ADVICE r5: stdlib json raises RecursionError (not ValueError) on
    pathologically nested input; before the fix one such poison line
    killed the whole scan task, contradicting the PERMISSIVE quarantine
    contract. The bomb line must become an all-NULL row while its
    healthy neighbors parse; FAILFAST must still raise."""
    import sys

    import pytest as _pytest

    from trino_demo_spark.sources import pyjsonl

    pyjsonl.register(spark)
    src = tmp_path / "landing"
    src.mkdir()
    depth = sys.getrecursionlimit() * 2
    bomb = "[" * depth + "]" * depth
    (src / "part-0.jsonl").write_text(
        '{"k": 1, "s": "before"}\n' + bomb + '\n{"k": 2, "s": "after"}\n'
    )
    df = (
        spark.read.format("pyjsonl")
        .schema("k BIGINT, s STRING")
        .option("path", str(src))
        .load()
    )
    rows = sorted(map(tuple, df.collect()), key=str)
    assert (1, "before") in rows and (2, "after") in rows
    assert (None, None) in rows  # the bomb, quarantined

    strict = (
        spark.read.format("pyjsonl")
        .schema("k BIGINT, s STRING")
        .option("path", str(src))
        .option("mode", "FAILFAST")
        .load()
    )
    with _pytest.raises(Exception):
        strict.collect()


def test_events_nanos_and_micros_encodings_normalize_identically(spark, tmp_path):
    """Regression pin for the landing-zone flip that cost round 3 a day:
    the driver has shipped events.ts as BOTH int64 TIMESTAMP(NANOS)
    (readable only via nanosAsLong) and native timestamp[us]. The
    registry must sniff either physical encoding and produce the same
    logical (ts TIMESTAMP, ts_ns BIGINT) rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trino_demo_spark.registry import load_table

    base = [
        (1, 1_700_000_000_123_456_000, 7, "click", 1.5, '{"k": 1}'),
        (2, 1_700_000_060_500_000_000, 8, "view", 2.5, '{"k": 2}'),
    ]
    nanos_dir = tmp_path / "nanos"
    micros_dir = tmp_path / "micros"
    nanos_dir.mkdir()
    micros_dir.mkdir()
    cols = {
        "event_id": pa.array([r[0] for r in base], pa.int64()),
        "user_id": pa.array([r[2] for r in base], pa.int64()),
        "event_type": pa.array([r[3] for r in base]),
        "value": pa.array([r[4] for r in base], pa.float64()),
        "props": pa.array([r[5] for r in base]),
    }
    pq.write_table(
        pa.table({**cols, "ts": pa.array([r[1] for r in base], pa.int64())}),
        nanos_dir / "events.parquet",
    )
    pq.write_table(
        pa.table(
            {
                **cols,
                "ts": pa.array(
                    [r[1] // 1000 for r in base], pa.timestamp("us")
                ),
            }
        ),
        micros_dir / "events.parquet",
    )
    a = {
        r["event_id"]: (str(r["ts"]), r["ts_ns"] // 1000, r["user_id"])
        for r in load_table(spark, "events", str(nanos_dir)).collect()
    }
    b = {
        r["event_id"]: (str(r["ts"]), r["ts_ns"] // 1000, r["user_id"])
        for r in load_table(spark, "events", str(micros_dir)).collect()
    }
    assert a == b and len(a) == 2


def test_load_table_reinfers_a_table_rewritten_at_the_same_path(spark, tmp_path):
    """The physical-schema memo must not outlive the file it describes:
    a long-lived process that loads events, then sees the table rewritten
    at the same path with an extra column and the other ts encoding,
    must read the new file with the new layout (a path-only memo kept
    the int64-nanos schema and misread the timestamp[us] column)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trino_demo_spark.registry import load_table

    nanos = [1_700_000_000_123_456_000, 1_700_000_060_500_000_000]
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([7, 8], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(['{"k": 1}', '{"k": 2}']),
    }
    path = tmp_path / "events.parquet"

    def ts_ns():
        return sorted(
            r["ts_ns"] for r in load_table(spark, "events", str(tmp_path)).collect()
        )

    pq.write_table(pa.table({**cols, "ts": pa.array(nanos, pa.int64())}), path)
    assert ts_ns() == nanos
    micros = pa.array([n // 1000 for n in nanos], pa.timestamp("us"))
    pq.write_table(
        pa.table({**cols, "ts": micros, "extra": pa.array(["a", "b"])}), path
    )
    assert ts_ns() == [n // 1000 * 1000 for n in nanos]


def test_observation_metrics_without_second_scan(spark):
    """Spark's Observation API: pipeline health metrics (row count,
    null count, value total) ride the SAME action as the real job —
    no second scan, no .count() re-run. The observed values must
    equal independently aggregated ones."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from trino_demo_spark.registry import load_table

    from .conftest import SF_SMOKE

    ev = load_table(spark, "events", SF_SMOKE)
    obs = Observation("ingest_health")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        F.round(F.sum(F.coalesce("value", F.lit(0.0))) + 1e-9, 2).alias(
            "sum_value"
        ),
    )
    # one real action drives both the job and the metrics
    kept = observed.filter(F.col("value").isNotNull()).count()
    got = obs.get
    direct = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        F.round(F.sum(F.coalesce("value", F.lit(0.0))) + 1e-9, 2).alias(
            "sum_value"
        ),
    ).first()
    assert got["n_rows"] == direct["n_rows"]
    assert got["n_null_value"] == direct["n_null_value"]
    assert got["sum_value"] == direct["sum_value"]
    assert kept == direct["n_rows"] - direct["n_null_value"]


def test_jdbc_real_roundtrip_embedded_derby(spark, tmp_path):
    """REAL JDBC round-trip through Spark's jdbc source against embedded
    Derby (shipped in Spark's own jars) — the closest this sandbox gets
    to the reference's live PostgreSQL catalog (no network daemons
    allowed; docker client exists but no daemon). Exercises the actual
    sources/jdbc.py path end-to-end: batched write, single-task dim
    read, range-PARTITIONED parallel fact read (4 bound-split queries),
    and predicate pushdown INTO the remote scan — none of which the
    parquet stand-ins (`scan_jdbc`/`sink_jdbc_copy`) can prove."""
    from trino_demo_spark.sources import jdbc as J

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.range(0, 500).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("row"), F.col("id")).alias("s"),
    )
    J.write_table(df, url, "t_fact", mode="overwrite", **drv)

    # single-task read (the dim shape)
    dim = J.read_table(spark, url, "t_fact", **drv)
    assert dim.rdd.getNumPartitions() == 1
    assert dim.count() == 500

    # partitioned parallel read (the fact shape): 4 range-bounded queries
    fact = J.read_table(
        spark, url, "t_fact",
        partition_column="k", lower_bound=0, upper_bound=500,
        num_partitions=4, **drv,
    )
    assert fact.rdd.getNumPartitions() == 4
    assert sorted(map(tuple, fact.collect())) == sorted(map(tuple, df.collect()))

    # predicate pushdown reaches the remote scan (filter runs in the DB,
    # not in Spark — the JDBC analog of parquet PushedFilters)
    plan = (
        fact.filter(F.col("k") < 10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "LessThan" in plan
    assert fact.filter(F.col("k") < 10).count() == 10


def test_pkg_zip_per_process_cache_and_fork_safe_cleanup():
    """session._pkg_zip_path contract (ADVICE r5 + review): one zip per
    process (cached), removed at interpreter exit by the OWNING process
    only — a forked child running its atexit stack must not delete the
    parent's zip (local-mode executors fetch it lazily at first task).
    Exercised in a subprocess so the atexit firing is observable."""
    import subprocess
    import sys as _sys

    # ADVICE r6: derive the repo root instead of hardcoding /root/repo so
    # the test survives a moved checkout.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = rf"""
import os, sys
sys.path.insert(0, {repo_root!r})
from trino_demo_spark import session as S
p1 = S._pkg_zip_path()
p2 = S._pkg_zip_path()
assert p1 == p2, "not cached per process"
assert os.path.exists(p1)
r, w = os.pipe()
pid = os.fork()
if pid == 0:
    # ADVICE r6: the child must NOT inherit the parent's cached path —
    # register_at_fork resets it so the child builds/owns its own zip
    # (else the parent's exit-unlink strands the child's executors).
    os.close(r)
    child_zip = S._pkg_zip_path()
    os.write(w, child_zip.encode())
    os.close(w)
    sys.exit(0)  # child: normal interpreter shutdown DOES run atexit
os.close(w)
child_zip = b""
while True:
    chunk = os.read(r, 4096)
    if not chunk:
        break
    child_zip += chunk
os.close(r)
os.waitpid(pid, 0)
child_zip = child_zip.decode()
assert child_zip and child_zip != p1, "child reused the parent's zip path"
assert os.path.exists(p1), "forked child's atexit deleted the parent's zip"
assert not os.path.exists(child_zip), "child exit did not clean up its own zip"
print("ZIP=" + p1)
"""
    r = subprocess.run(
        [_sys.executable, "-c", code], capture_output=True, text=True
    )
    assert r.returncode == 0, r.stderr[-2000:]
    zpath = [l for l in r.stdout.splitlines() if l.startswith("ZIP=")][0][4:]
    # the owning process has now exited → its atexit removed the zip
    assert not os.path.exists(zpath), "owner exit did not clean up the zip"


def test_all_sf_dirs_normalize_to_one_logical_schema(spark):
    """Testdata-drift guard: the driver regenerates /root/testdata
    between rounds and has flipped physical encodings before (events.ts
    shipped as int64 TIMESTAMP(NANOS) one round, native timestamp[us]
    the next — cost round 3 a day). registry.load_table must normalize
    every table to ONE logical schema across all three SF dirs, so a
    physical flip at any SF surfaces here as a named failure at round
    start instead of as 278 mysterious oracle mismatches."""
    from trino_demo_spark.registry import TABLE_NAMES, load_table

    dirs = [f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")]
    for t in TABLE_NAMES:
        schemas = {
            d: load_table(spark, t, d).schema.simpleString() for d in dirs
        }
        assert len(set(schemas.values())) == 1, (t, schemas)
