"""Self-tests of the benchmark's own machinery.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import stats  # noqa: E402
from probes import parse_metric  # noqa: E402


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    v, pct, beyond = stats.tail([float(x) for x in range(1, 101)])
    assert (v, pct, beyond) == (90.0, 90.0, 10)
    # 18 samples: only the 8th smallest has ten above it
    v, pct, beyond = stats.tail([float(x) for x in range(18, 0, -1)])
    assert (v, round(pct, 1), beyond) == (8.0, 44.4, 10)


def test_tail_with_too_few_samples_reports_the_shortfall():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert stats.tail([float(x) for x in range(10)]) == (9.0, 100.0, 0)
    assert stats.tail([float(x) for x in range(11)]) == (0.0, 100 / 11, 10)
    with pytest.raises(ValueError):
        stats.tail([])


def test_parse_metric_reads_the_total():
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 2 ms, 3 ms)") == 1.5
    assert parse_metric("total (min, med, max)\n512.0 KiB (1 B, 2 B, 3 B)") == 0.5
    assert parse_metric("250 ms") == 0.25
    assert parse_metric(None) == 0.0


def test_key_order_rejects_unsorted_rows_and_overlapping_files(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from workloads import key_order

    def write(name, keys):
        d = tmp_path / name
        d.mkdir()
        for i, part in enumerate(keys):
            pq.write_table(pa.table({"key": part, "value": ["v"] * len(part)}),
                           d / f"part-{i:05d}.parquet", row_group_size=2)
        return str(d)

    assert key_order(write("sorted", [["a", "b", "b", "c"], ["d", "e"]])) is None
    # rows out of order inside one row group, whose min/max still look fine
    assert "not sorted" in key_order(write("rows", [["b", "a"], ["c", "d"]]))
    # row groups out of order inside a file
    assert "not sorted" in key_order(write("rg", [["c", "d", "a", "b"]]))
    # one key split across two files
    assert "overlaps" in key_order(write("files", [["a", "b"], ["b", "c"]]))


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.path.dirname(HERE)
    from hadoop_source_spark import get_spark
    from run import stop_spark

    s = get_spark(app_name="perfbench-selftest", cpus=2, driver_memory="1g",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    stop_spark()


def test_fingerprint_ignores_row_order_and_partitioning(spark):
    from pyspark.sql import functions as F

    from sink import fingerprint

    df = spark.createDataFrame(
        [(i, float(i) / 3, f"s{i % 7}", None if i % 5 else [i, i + 1], {"k": i})
         for i in range(200)],
        "a long, b double, c string, d array<long>, e map<string,long>",
    ).withColumn("a2", F.col("a"))
    dup = df.select("a", "b", F.col("c").alias("a"))  # duplicate column name
    fp = fingerprint(df)
    assert fp[0] == 200
    assert fingerprint(df.orderBy(F.rand(7))) == fp
    assert fingerprint(df.repartition(5)) == fp
    assert fingerprint(dup.orderBy(F.desc("b"))) == fingerprint(dup)
    changed = df.withColumn("b", F.when(F.col("a") == 3, 0.0).otherwise(F.col("b")))
    assert fingerprint(changed) != fp
    assert fingerprint(df.limit(0)) == (0, 0, 0)


def test_job_from_helper_thread_counts_against_its_op(spark):
    """A job submitted from workload._overlap's pool carries no job group of
    the caller, yet the id-range attribution charges it to the op."""
    from hadoop_source_spark import workload
    from probes import SparkClock, Tracer
    from run import Env, run_op
    from workloads import QueryOp

    def build(sp, _dir):
        sp.sparkContext.setJobGroup("caller-group", "op under test")
        seen = workload._overlap(
            lambda: (sp.range(1000).count(), sp.sparkContext.getLocalProperty("spark.jobGroup.id"))
        )
        sp.sparkContext.setJobGroup(None, None)
        assert seen[0][1] != "caller-group"  # the helper thread escaped the group
        return sp.range(10).toDF("x")

    op = QueryOp("q01_pricing_summary", "", expected=None)
    op.fn = build
    clock = SparkClock(spark)
    env = Env(spark, Tracer(clock), clock)
    env.tracer.active = True
    sample = run_op(env, op, 0, True)
    assert sample["layers"]["workload.build_jobs"] >= 1
    assert sample["layers"]["exec.jobs"] >= sample["layers"]["workload.build_jobs"] + 1
    assert sample["layers"]["exec.stages"] >= 2
