"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import probes  # noqa: E402


def test_interval_union_merges_overlaps_and_keeps_gaps():
    assert probes.interval_union([]) == 0.0
    assert probes.interval_union([(0.0, 1.0), (2.0, 3.0)]) == 2.0
    # overlapping, nested and touching intervals count once
    assert probes.interval_union([(0.0, 2.0), (1.0, 3.0), (1.5, 1.7), (3.0, 4.0)]) == 4.0
    assert probes.interval_union([(5.0, 6.0), (0.0, 1.0), (0.5, 5.5)]) == 6.0


def test_interval_union_rejects_reversed_interval():
    with pytest.raises(ValueError):
        probes.interval_union([(2.0, 1.0)])


def test_parse_metric_counts_and_sizes():
    assert probes.parse_metric("1,234") == 1234.0
    size = "total (min, med, max (stageId: taskId))\n1.5 KiB (100.0 B, 200.0 B, 1.2 KiB (stage 3.0: task 7))"
    assert probes.parse_metric(size) == 1536.0
    assert probes.parse_metric("2.0 MiB") == 2.0 * (1 << 20)


@pytest.mark.parametrize("kind", ["star", "corpus"])
def test_inputs_are_seed_deterministic(kind, tmp_path):
    a = inputs.build(kind, 5, str(tmp_path / "a"))
    b = inputs.build(kind, 5, str(tmp_path / "b"))
    c = inputs.build(kind, 6, str(tmp_path / "c"))
    assert a["tables"] == b["tables"]
    for name in a["tables"]:
        pa_ = (tmp_path / "a" / f"{name}.parquet").read_bytes()
        assert pa_ == (tmp_path / "b" / f"{name}.parquet").read_bytes()
    # another seed changes the files (the row order) but no promised row count
    differs = [
        n
        for n in a["tables"]
        if (tmp_path / "a" / f"{n}.parquet").read_bytes()
        != (tmp_path / "c" / f"{n}.parquet").read_bytes()
    ]
    assert differs
    for name, rows in inputs.expected_rows(kind).items():
        if rows is not None:
            assert a["tables"][name]["rows"] == c["tables"][name]["rows"] == rows


def test_validate_rejects_a_short_table(tmp_path):
    import pyarrow.parquet as pq

    manifest = inputs.build("corpus", 1, str(tmp_path))
    path = str(tmp_path / "documents.parquet")
    pq.write_table(pq.read_table(path).slice(0, 10), path)
    with pytest.raises(RuntimeError):
        inputs.validate("corpus", str(tmp_path), manifest)


def test_landing_zone_covers_the_table_in_order(tmp_path):
    import pyarrow.parquet as pq

    inputs.build("corpus", 3, str(tmp_path))
    zone = tmp_path / "landing" / "documents"
    parts = sorted(zone.iterdir())
    assert len(parts) == inputs.N_LANDING_FILES
    ids = [i for p in parts for i in pq.read_table(p)["doc_id"].to_pylist()]
    assert ids == pq.read_table(tmp_path / "documents.parquet")["doc_id"].to_pylist()
    assert sorted(ids) == list(range(inputs.N_DOCUMENTS))


@pytest.mark.parametrize("kind", ["star", "corpus"])
def test_seeds_reorder_the_same_rows(kind, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    a = inputs.build(kind, 1, str(tmp_path / "a"))
    inputs.build(kind, 2, str(tmp_path / "b"))
    for name in a["tables"]:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        tb = pq.read_table(tmp_path / "b" / f"{name}.parquet")
        key = [(f.name, "ascending") for f in ta.schema if not pa.types.is_list(f.type)]
        assert ta.sort_by(key).equals(tb.sort_by(key))


def test_replica_keeps_foreign_keys_valid(tmp_path):
    import pyarrow.parquet as pq

    inputs.build("star", 2, str(tmp_path))
    orders = set(pq.read_table(tmp_path / "orders.parquet")["o_orderkey"].to_pylist())
    custs = set(pq.read_table(tmp_path / "customer.parquet")["c_custkey"].to_pylist())
    li = pq.read_table(tmp_path / "lineitem.parquet")
    assert set(li["l_orderkey"].to_pylist()) <= orders
    o = pq.read_table(tmp_path / "orders.parquet")
    assert set(o["o_custkey"].to_pylist()) <= custs


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pyspark = pytest.importorskip("pyspark.sql")
    session = (
        pyspark.SparkSession.builder.master("local[1]")
        .appName("perfbench-helper-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.warehouse.dir", str(tmp_path_factory.mktemp("warehouse")))
        .getOrCreate()
    )
    yield session
    session.stop()


def test_status_reader_attributes_a_tiny_op(spark):
    from pyspark.sql import functions as F

    spark.range(10).count()  # earlier jobs must not be attributed to the op
    reader = probes.StatusReader(spark)
    before = reader.job_cursor()
    df = spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count()
    assert df.count() == 7
    reader.settle()
    jobs = reader.jobs()
    plans = reader.sql_plans()
    assert jobs["jobs"] >= 1 and jobs["stages"] >= 1 and jobs["tasks"] >= 1
    assert reader.next_job > before
    assert probes.interval_union(jobs["intervals"]) > 0
    assert jobs["shuffle_write_bytes"] > 0
    assert plans["executions"] >= 1 and plans["exchanges"] >= 1
    # a second read sees nothing new
    assert reader.jobs()["jobs"] == 0
    assert reader.sql_plans()["executions"] == 0
    # work skipped over (an untraced pass) is charged to no later op
    spark.range(0, 100, 1, 2).groupBy((F.col("id") % 3).alias("k")).count().collect()
    reader.skip()
    assert reader.jobs()["jobs"] == 0
    assert reader.sql_plans()["executions"] == 0


def test_call_timer_wraps_and_restores():
    import types

    mod = types.ModuleType("m")

    def f(x):
        return x + 1

    mod.f = f
    other = types.ModuleType("other")
    other.f = f
    timer = probes.CallTimer({"m.f": (mod, "f")})
    timer.install([mod, other])
    assert mod.f(1) == 2 and other.f(2) == 3
    assert timer.calls["m.f"] == 2 and timer.seconds["m.f"] >= 0
    timer.uninstall()
    assert mod.f is f and other.f is f
