"""r14 (VERDICT r13 #1): the two formerly-unconditional broadcasts -
q_text_line_dedup's hot-line mark set and q_dedup_embedding's
candidate/removal sets - are size-switched via loaders.broadcast_below
(the q_dedup_cross_corpus precedent). These tests pin both halves of
the switch:

1. the HELPER: hint applied iff the source scan's metadata bytes are
   under the threshold;
2. the SHUFFLED BRANCH: forcing every threshold to -1 (and disabling
   auto-broadcast so the planner cannot sneak the hint back from
   fixture-scale size estimates) yields byte-identical output from a
   genuinely shuffled plan - proving the 100 TB branch computes the
   same answer, the test VERDICT r13 asked for.

A third test pins the planner behaviour that every unhinted join
relies on: fixed-size dimensions and one-row aggregates broadcast
without a hint under a threshold that the fact tables exceed, while
a filtered scan is sized as its whole scan and needs its hint.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from pudatalake_spark.loaders import broadcast_below, scan_bytes, table

SF_DIR = "/root/testdata/sf0.001"


def _physical_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_broadcast_below_hints_only_under_threshold(spark):
    docs = table(spark, SF_DIR, "documents")
    small = docs.select("doc_id").limit(5)
    hinted = broadcast_below(small, docs, 1 << 60)
    unhinted = broadcast_below(small, docs, -1)
    # The hint lives in the analyzed logical plan as UnresolvedHint/
    # ResolvedHint; the un-hinted frame must be the SAME object (no
    # wrapper at all - zero plan overhead on the scale branch).
    assert "hint" in hinted._jdf.queryExecution().analyzed().toString().lower()
    assert unhinted is small


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_line_dedup_shuffled_branch_identical(spark, monkeypatch):
    from pudatalake_spark import registry
    from pudatalake_spark.llmops import text

    registry.load_all()
    q = registry.QUERIES["q_text_line_dedup"]
    base = _rows(q(spark, SF_DIR))

    monkeypatch.setattr(text, "LINE_HOT_BROADCAST_MAX_BYTES", -1)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        forced = q(spark, SF_DIR)
        plan = _physical_plan(forced)
        assert "BroadcastHashJoin" not in plan, (
            "forced-large branch must plan the hot-line mark join "
            "shuffled, not broadcast"
        )
        assert _rows(forced) == base
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert base, "fixture must produce per-doc line stats"


def test_dedup_embedding_shuffled_branch_identical(spark, monkeypatch):
    from pudatalake_spark import registry
    from pudatalake_spark.llmops import dedup

    registry.load_all()
    q = registry.QUERIES["q_dedup_embedding"]
    base = _rows(q(spark, SF_DIR))

    monkeypatch.setattr(dedup, "EMB_BROADCAST_MAX_BYTES", -1)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        forced = q(spark, SF_DIR)
        plan = _physical_plan(forced)
        assert "BroadcastHashJoin" not in plan, (
            "forced-large branch must plan the verify/anti joins "
            "shuffled, not broadcast"
        )
        assert _rows(forced) == base
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert base, "fixture must keep at least one survivor"


def _size_estimate(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def test_planner_broadcasts_small_sides_without_a_hint(spark):
    """The operators leave the broadcast choice to the planner for
    fixed-size dimensions and one-row aggregates. With the size
    threshold set between ``nation`` and the fact tables (the 100 TB
    case, where every table but nation/region is over it), both must
    still broadcast with no hint. A filter of a scan is sized as the
    whole scan, so a bounded query set cut from a large table keeps
    its hint: unhinted, its cross with the table is a
    CartesianProduct."""
    li = table(spark, SF_DIR, "lineitem")
    nat = table(spark, SF_DIR, "nation")
    emb = table(spark, SF_DIR, "embeddings")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    limit = scan_bytes(nat)
    assert limit < scan_bytes(li) and limit < scan_bytes(emb)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(limit))
    try:
        tot = li.agg(F.sum("l_quantity").alias("tot"))
        crossed = _physical_plan(
            li.crossJoin(tot).select(
                "l_orderkey", F.col("l_quantity") / F.col("tot")
            )
        )
        assert "BroadcastNestedLoopJoin" in crossed
        assert "CartesianProduct" not in crossed

        joined = _physical_plan(
            li.join(
                nat.select("n_nationkey", "n_name"),
                (F.col("l_suppkey") % 25) == F.col("n_nationkey"),
            )
        )
        assert "BroadcastHashJoin" in joined

        q = emb.filter(F.col("vec_id") < 10)
        assert _size_estimate(q) == _size_estimate(emb)
        assert "CartesianProduct" in _physical_plan(emb.crossJoin(q))
        hinted = _physical_plan(emb.crossJoin(F.broadcast(q)))
        assert "BroadcastNestedLoopJoin" in hinted
        assert "CartesianProduct" not in hinted
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
