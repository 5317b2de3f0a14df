"""Spark-job budgets of the CDC applier (ROADMAP north star 1: the
deterministic counters are the regression gates, not wall seconds).

A commit's fixed cost is its job count: every extra collect, count,
schema inference or broadcast is one more scheduling round trip per
micro-batch.  A batch onto existing state is one aggregate (touched
buckets, truncate watermark) and one write: under AQE the aggregate is
a cache-build, a shuffle-map and a result job, the write a shuffle-map
and a result job — five.  A committed-state read is one scan job, with
no Parquet schema inference."""

from __future__ import annotations

import pytest

from creek_spark.streaming import CdcApplier
from tests.fixtures import ENV_SCHEMA, wal_row

APPLY_BUDGET = 5
READ_BUDGET = 1


def _jobs(spark, group, fn):
    """(fn's result, the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _state(applier):
    return {
        r["id"]: r["data"]
        for r in applier.current_state().select("id", "data").collect()
    }


@pytest.fixture
def applier(spark, tmp_path):
    """An applier over 8 buckets holding ids 1..20, committed by one
    earlier batch."""
    a = CdcApplier(spark, str(tmp_path / "state"), ["id"], ENV_SCHEMA, n_buckets=8)
    a.apply_batch(
        spark.createDataFrame(
            [wal_row(i, "c", after=(i, f"v{i}")) for i in range(1, 21)],
            schema=ENV_SCHEMA,
        ),
        0,
    )
    return a


def _batch(spark, tmp_path, name, rows):
    """A batch as the stream hands it over: a schema-given file scan."""
    path = str(tmp_path / name)
    spark.createDataFrame(rows, schema=ENV_SCHEMA).coalesce(1).write.parquet(path)
    return spark.read.schema(ENV_SCHEMA).parquet(path)


def test_apply_batch_job_budget(spark, tmp_path, applier):
    batch = _batch(
        spark,
        tmp_path,
        "b1",
        [
            wal_row(30, "u", before=(3,), after=(3, "v3-new")),
            wal_row(31, "d", before=(4,)),
            wal_row(32, "u_pk", before=(5,), after=(50, "moved")),
            wal_row(33, "c", after=(60, "new")),
        ],
    )
    _, jobs = _jobs(
        spark, "budget-apply", lambda: applier.apply_batch(batch, 1)
    )
    assert jobs <= APPLY_BUDGET, f"apply_batch ran {jobs} Spark jobs"

    expected = {i: f"v{i}" for i in range(1, 21) if i not in (4, 5)}
    expected.update({3: "v3-new", 50: "moved", 60: "new"})
    assert _state(applier) == expected


def test_apply_truncate_batch_job_budget(spark, tmp_path, applier):
    """A truncate rewrites every bucket; its watermark rides in the
    probe row, so the budget is the same."""
    batch = _batch(
        spark,
        tmp_path,
        "bt",
        [
            wal_row(40, "u", before=(1,), after=(1, "pre-truncate")),
            wal_row(41, "t"),
            wal_row(42, "c", after=(2, "after")),
            wal_row(43, "c", after=(70, "after-70")),
        ],
    )
    _, jobs = _jobs(
        spark, "budget-truncate", lambda: applier.apply_batch(batch, 1)
    )
    assert jobs <= APPLY_BUDGET, f"truncate apply ran {jobs} Spark jobs"
    assert _state(applier) == {2: "after", 70: "after-70"}


def test_current_state_read_job_budget(spark, applier):
    """Two version dirs, still one job: no per-dir schema inference."""
    applier.apply_batch(
        spark.createDataFrame(
            [wal_row(50, "u", before=(7,), after=(7, "v7-new"))],
            schema=ENV_SCHEMA,
        ),
        1,
    )
    rows, jobs = _jobs(
        spark, "budget-read", lambda: applier.current_state().collect()
    )
    assert jobs <= READ_BUDGET, f"current_state().collect() ran {jobs} jobs"
    assert {r["id"]: r["data"] for r in rows} == {
        **{i: f"v{i}" for i in range(1, 21)},
        7: "v7-new",
    }
