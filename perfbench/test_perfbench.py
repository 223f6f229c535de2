"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

They check that every metric is printed with its unit, that each
workload's correctness check rejects a corrupted answer or a missing one,
that the seed moves the query order but never the operation mix, and
that traced snapshot commits count the files they write.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_describe_prints_every_metric_with_its_unit():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--describe"],
        check=True, capture_output=True, text=True, cwd=ROOT,
    ).stdout.splitlines()
    printed = {line.split("\t")[0]: line.split("\t")[1] for line in out}
    spec = _spec()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert printed[m["name"]] == m["unit"]


def test_end_to_end_metrics_match_the_spec():
    got = run.end_to_end_metrics([3.0, 1.0, 2.0], {"a": [5.0, 9.0, 6.0], "b": [1.0, 1.5, 4.0]}, 900.0)
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: u for k, (_, u) in got.items()} == spec
    assert got["setup_s"][0] == 2.0
    assert got["pass_s"][0] == 7.5
    assert all(v > 0 for v, _ in got.values())


def test_workloads_match_the_spec():
    assert {w["name"] for w in _spec()["workloads"]} == set(workloads.WORKLOADS)
    assert set(run.DATA) == set(workloads.WORKLOADS)
    for sf in run.DATA.values():
        assert os.path.exists(os.path.join(HERE, "data", sf, "lineitem.parquet"))


def test_seed_changes_query_order_not_mix():
    class Ctx:
        def __init__(self, seed):
            self.seed = seed

    for name in ("olap_mix", "llm_pipelines"):
        passes = []
        for seed in range(1, 9):
            w = workloads.WORKLOADS[name]()
            w.prepare(Ctx(seed))
            passes.append([op.name for op in w.pass_ops(Ctx(seed))])
        assert all(sorted(p) == sorted(w.queries) for p in passes)
        assert len({tuple(p) for p in passes}) > 1


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    from pyspark.sql import SparkSession

    work = str(tmp_path_factory.mktemp("perfbench"))
    # queries write their scratch tables under the temporary directory
    saved, tempfile.tempdir = tempfile.tempdir, work
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    data = shutil.copytree(os.path.join(HERE, "data", "sf0.001"), os.path.join(work, "data"))
    yield workloads.Context(spark, data, tracing.Tracer(spark.sparkContext, "test"), 7)
    spark.stop()
    tempfile.tempdir = saved


def _corrupt_one_value(df):
    """``df`` with one numeric value of one row changed."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import NumericType

    col = next(f.name for f in df.schema.fields if isinstance(f.dataType, NumericType))
    first = df.limit(1)
    bumped = first.withColumn(col, (F.col(col) + 1).cast(df.schema[col].dataType))
    return df.exceptAll(first).unionByName(bumped)


@pytest.mark.parametrize("name", ["olap_mix", "llm_pipelines"])
def test_query_check_rejects_corrupted_answer(ctx, name):
    w = workloads.WORKLOADS[name]()
    w.prepare(ctx)
    query = w.queries[0]
    df = workloads.QUERIES[query](ctx.spark, ctx.data_dir)
    assert workloads.check_query(ctx, query, df) is None
    assert workloads.check_query(ctx, query, _corrupt_one_value(df)) is not None
    assert workloads.check_query(ctx, query, df.limit(df.count() - 1)) is not None


def test_check_reports_a_query_that_built_no_plan(ctx):
    w = workloads.WORKLOADS["llm_pipelines"]()
    w.prepare(ctx)
    assert set(w.check(ctx)) == set(w.queries)


def test_traced_commits_count_the_files_they_write(ctx, tmp_path):
    from exceldatatransform_py_spark.sources import snapshots

    tracer = tracing.Tracer(ctx.spark.sparkContext, "test")
    table = str(tmp_path / "t")
    df = ctx.spark.range(100).repartition(3)
    with snapshots.use_commit_protocol(tracing._counting_protocol(snapshots, tracer)):
        tracer.enabled = True
        snapshots.snapshot_write(table, df)
        nbytes, nfiles = tracer.take_written()
        assert nfiles == 3 and nbytes > 0
        snapshots.snapshot_write(table, df.limit(10).coalesce(1))
        assert tracer.take_written()[1] == 1
        tracer.enabled = False
        snapshots.snapshot_write(table, df)
        assert tracer.take_written() == (0, 0)
