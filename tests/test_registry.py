"""The registry contract the driver relies on, plus the build helper
every suite shares: each capability is registered once, the driver
window is exactly what __spark_entry__ exposes, and `_overlap` keeps
the caller's job group and error order."""

from __future__ import annotations

import threading
import time

import pytest

from hadoop_source_spark import workload

# Registered outside the driver window only because bench.py and
# perfbench time these exact queries by name; each is also a branch of
# a window suite (window_suite, dedup_jaccard_suite, ann_cosine_approx).
OFF_WINDOW = {"window_running_total", "dedup_minhash_lsh", "ann_cosine_ivf"}


def test_window_contract():
    """Every _WINDOW query is registered with an oracle OR is on the
    documented rows-only list, __spark_entry__ exposes exactly the
    _WINDOW surface in order, and nothing else is registered beyond
    OFF_WINDOW. A dropped oracle, a dangling window row or a regrown
    second registration of a capability fails here."""
    import __spark_entry__ as entry

    missing_oracle = [
        n for n in workload._WINDOW
        if workload.QUERIES[n].oracle is None
        and n not in workload.ROWS_ONLY_BY_DESIGN
    ]
    assert not missing_oracle, (
        f"window queries lack an oracle and are not documented rows-only: "
        f"{missing_oracle}"
    )
    stale_tags = sorted(
        workload.ROWS_ONLY_BY_DESIGN
        - {n for n in workload._WINDOW if workload.QUERIES[n].oracle is None}
    )
    assert not stale_tags, f"rows-only tags no longer apply: {stale_tags}"
    assert list(entry.queries()) == workload._WINDOW, (
        "__spark_entry__.queries() diverged from workload._WINDOW"
    )
    assert set(entry.oracle_sql()) == set(workload._WINDOW) - set(
        workload.ROWS_ONLY_BY_DESIGN
    ), "__spark_entry__.oracle_sql() diverged from the oracle-backed window"
    assert set(workload.QUERIES) - set(workload._WINDOW) == OFF_WINDOW


def test_overlap_thunks_keep_the_callers_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("overlap-group", "jobs from _overlap threads")
    try:
        groups = workload._overlap(
            lambda: (spark.range(100).count(), sc.getLocalProperty("spark.jobGroup.id"))[1],
            lambda: sc.getLocalProperty("spark.jobGroup.id"),
        )
        ids = sc.statusTracker().getJobIdsForGroup("overlap-group")
    finally:
        sc.setJobGroup(None, None)
    assert groups == ["overlap-group", "overlap-group"]
    assert ids, "the thunk's job is missing from the caller's job group"


def test_overlap_raises_first_submitted_failure(spark):
    """When two thunks fail, the first one submitted is raised, even if
    the later one fails first; its traceback reaches the thunk."""
    second_failed = threading.Event()

    def first():
        second_failed.wait(30)
        time.sleep(0.5)  # fail strictly after the second thunk has
        raise KeyError("first")

    def second():
        second_failed.set()
        raise ValueError("second")

    with pytest.raises(KeyError, match="first") as info:
        workload._overlap(first, second)
    assert any(tb.name == "first" for tb in info.traceback)
