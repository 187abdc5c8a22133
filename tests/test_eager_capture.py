"""Unit tests for plan-audit global rule #4: ``capture_build`` must see
every job a builder runs at BUILD time - actions, writes, eager and
AQE-driven lazy checkpoints, and jobs no SQL execution owns - read
from the builder's job group and Spark's SQL status store, with each
execution's action name and final plan, so tools/plan_audit.py can
apply rules #1-#3 to build-time plans and reject undeclared jobs."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import Window
from pyspark.sql import functions as F

from pudatalake_spark import registry
from pudatalake_spark.plans.audit import (
    BOUNDED_DRIVER_ACTIONS,
    MATERIALIZES_AT_BUILD,
    WRITES_AT_BUILD,
    capture_build,
    global_window_violations,
)

from tests.conftest import SF_DIR


def _actions(work):
    return [a.action for a in work]


def test_capture_records_actions_with_plans(spark):
    df = spark.range(100).select("id", (F.col("id") % 7).alias("v"))

    def build():
        df.count()
        df.limit(3).collect()  # take/head funnel through collect
        df.localCheckpoint(eager=False)  # no shuffle below: runs no job
        df.groupBy("v").count().isEmpty()

    _, work = capture_build(spark, "q_fake", build)
    assert _actions(work) == [
        "Dataset.count", "Dataset.collectToPython", "Dataset.isEmpty",
    ]
    for a in work:
        assert a.jobs >= 1
        assert "== Physical Plan ==" in a.plan
    # the group tag is cleared after the build: later jobs are no key's
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_extended_action_surface_is_captured(spark):
    """show/tail/toLocalIterator do not funnel through collect, and
    foreach/foreachPartition are RDD actions with no SQL execution;
    eager reliable checkpoint() executes a job."""
    df = spark.range(20)
    spark.sparkContext.setCheckpointDir("/tmp/pudl_ckpt_test")

    def build():
        with contextlib.redirect_stdout(io.StringIO()):
            df.show(2)
        df.tail(2)
        list(df.toLocalIterator())
        df.foreach(lambda r: None)
        df.foreachPartition(lambda it: None)
        df.checkpoint()            # reliable, eager by default
        df.checkpoint(eager=False)  # no shuffle below: runs no job

    _, work = capture_build(spark, "q_surface", build)
    actions = _actions(work)
    for want in ("Dataset.showString", "Dataset.tailToPython",
                 "Dataset.toPythonIterator", "job:foreach",
                 "job:foreachPartition"):
        assert want in actions, f"{want} evaded the capture"
    assert actions.count("Dataset.checkpoint") == 1


def test_writer_v2_terminal_methods_are_captured(spark):
    """df.writeTo(...).create() executes the written frame's plan like
    the v1 writer methods do - same audit contract."""
    spark.sql("CREATE DATABASE IF NOT EXISTS pudl_v2_test")
    spark.sql("DROP TABLE IF EXISTS pudl_v2_test.eager_capture_probe")
    _, work = capture_build(
        spark, "q_v2",
        lambda: spark.range(7).writeTo(
            "pudl_v2_test.eager_capture_probe"
        ).using("parquet").create(),
    )
    assert _actions(work) == ["DataFrameWriterV2.create"]
    assert "== Physical Plan ==" in work[0].plan
    spark.sql("DROP TABLE IF EXISTS pudl_v2_test.eager_capture_probe")


def test_captured_plan_exposes_single_task_sort(spark):
    """The defect class rule #4 exists for: an action on a
    global-order window is captured WITH the SinglePartition plan,
    so the audit post-pass can flag it."""
    df = spark.range(1000).select(
        "id", (F.col("id") * 37 % 101).alias("v")
    )
    bad = df.withColumn(
        "r", F.row_number().over(Window.orderBy("v", "id"))
    )
    # NOT a top-k filter: r==1 would be rewritten to
    # TakeOrderedAndProject (no single-task sort left); a lower-bound
    # filter keeps the real Window plan.
    _, work = capture_build(
        spark, "q_bad", lambda: bad.filter(F.col("r") > 5).count()
    )
    plans = [a.plan for a in work if a.plan]
    assert plans, "the count must be captured"
    assert any(global_window_violations(p) for p in plans), (
        "the captured plan must show the single-task sort"
    )


def test_single_task_window_under_lazy_checkpoint_is_flagged(spark):
    """A lazy checkpoint over a global-order window runs its
    SinglePartition shuffle at the call under AQE. Its status-store
    plan puts a ShuffleQueryStage between the Exchange and the
    Sort -> Window; rule #2 must flag the final plan itself, not only
    its ``== Initial Plan ==`` copy."""
    df = spark.range(1000).select(
        "id", (F.col("id") * 37 % 101).alias("v")
    )
    bad = df.withColumn(
        "r", F.row_number().over(Window.orderBy("v", "id"))
    ).filter(F.col("r") > 5)
    _, work = capture_build(
        spark, "q_bad_ckpt", lambda: bad.localCheckpoint(eager=False)
    )
    assert _actions(work) == ["Dataset.localCheckpoint"]
    plan = work[0].plan
    assert "ShuffleQueryStage" in plan
    final_windows = re.findall(
        r"Window \((\d+)\)", plan.split("== Initial Plan ==")[0]
    )
    hits = global_window_violations(plan)
    assert any(f"feeds Window ({w})" in h
               for h in hits for w in final_windows), hits


def test_eager_localcheckpoint_default_is_recorded(spark):
    _, work = capture_build(
        spark, "q_ck", lambda: spark.range(10).localCheckpoint()
    )
    assert _actions(work) == ["Dataset.localCheckpoint"]


def test_lazy_localcheckpoint_over_shuffle_is_recorded(spark):
    """Under AQE a lazy localCheckpoint executes the adaptive plan at
    the call, which runs every shuffle stage below the frame."""
    df = spark.range(200).groupBy((F.col("id") % 5).alias("k")).count()
    _, work = capture_build(
        spark, "q_lazy", lambda: df.localCheckpoint(eager=False)
    )
    assert _actions(work) == ["Dataset.localCheckpoint"]
    assert work[0].jobs >= 1
    assert "== Final Plan ==" in work[0].plan
    assert "Exchange" in work[0].plan


def test_rdd_job_is_counted_without_plan(spark):
    df = spark.range(50)
    _, work = capture_build(spark, "q_rdd", lambda: df.rdd.count())
    assert [(a.action, a.jobs, a.plan) for a in work] == [
        ("job:count", 1, "")
    ]


def test_pagerank_build_materializes_a_checkpoint(spark):
    registry.load_all()
    df, work = capture_build(
        spark, "q_graph_pagerank",
        lambda: registry.QUERIES["q_graph_pagerank"](spark, SF_DIR),
    )
    assert df.schema.fields
    assert "Dataset.localCheckpoint" in _actions(work)
    assert "q_graph_pagerank" in MATERIALIZES_AT_BUILD


def test_bounded_driver_actions_entries_are_documented():
    for key, why in BOUNDED_DRIVER_ACTIONS.items():
        assert key.startswith(("q_", "src_", "sink_", "s_", "udf", "udtf"))
        assert len(why) > 20, f"{key}: bound must be a real sentence"
    registry.load_all()
    declared = (set(BOUNDED_DRIVER_ACTIONS) | WRITES_AT_BUILD
                | MATERIALIZES_AT_BUILD)
    assert declared <= set(registry.QUERIES), "declared key not registered"
