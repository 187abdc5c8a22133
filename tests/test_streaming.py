"""Streaming ≡ batch equivalence (SURVEY §5.2): every true Structured
Streaming operator's final state must equal the batch formulation
over the same events — this is what justifies oracle-checking the
batch twins (q_stream_*) while the s_* keys stay rows-only.

Append-mode watermark caveat: a watermarked append-mode query only
emits windows the final watermark (max event time - delay) has
closed, so the trailing window(s) are withheld at end-of-stream.
Equivalence is therefore: streaming ⊆ batch, and streaming ⊇ batch
restricted to closed windows.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from pudatalake_spark import registry
from pudatalake_spark.loaders import table
from pudatalake_spark.streaming import streams

from tests.conftest import (
    SF_DIR,
    assert_driver_canon_safe,
    assert_frames_match,
    canonicalize,
)

registry.load_all()


def test_watermark_late_matches_batch_closed_windows(spark):
    _sdf = registry.QUERIES["s_watermark_late"](spark, SF_DIR)
    assert_driver_canon_safe(_sdf.schema, "s_watermark_late")
    stream_pdf = _sdf.toPandas()
    batch_pdf = registry.QUERIES["q_stream_tumbling"](spark, SF_DIR).toPandas()

    max_ts = table(spark, SF_DIR, "events").agg(F.max("ts")).collect()[0][0]
    watermark = max_ts - pd.Timedelta(minutes=10)
    closed = batch_pdf[
        batch_pdf["window_start"] + pd.Timedelta(hours=1) <= watermark
    ]

    s = canonicalize(stream_pdf)
    b_all = canonicalize(batch_pdf)
    b_closed = canonicalize(closed)

    # streaming ⊆ batch: every emitted row is a true final aggregate
    merged = s.merge(b_all, how="left", indicator=True)
    assert (merged["_merge"] == "both").all(), "streaming emitted a row not in batch"
    # streaming ⊇ closed windows: nothing the watermark closed is missing
    merged2 = b_closed.merge(s, how="left", indicator=True)
    assert (merged2["_merge"] == "both").all(), "closed window missing from streaming"


def test_stream_dedup_recovers_unique_counts(spark):
    # Source is staged with every event duplicated; streaming dedup on
    # event_id must recover the original per-type counts exactly.
    _sdf = registry.QUERIES["s_stream_dedup"](spark, SF_DIR)
    assert_driver_canon_safe(_sdf.schema, "s_stream_dedup")
    stream_pdf = _sdf.toPandas()
    batch_pdf = (
        table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
        .toPandas()
    )
    assert_frames_match(stream_pdf, batch_pdf, "s_stream_dedup≡batch")


def test_stateful_running_final_equals_batch(spark):
    _sdf = registry.QUERIES["s_stateful_running"](spark, SF_DIR)
    assert_driver_canon_safe(_sdf.schema, "s_stateful_running")
    stream_pdf = _sdf.toPandas()
    batch_pdf = (
        table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .toPandas()
    )
    assert_frames_match(stream_pdf, batch_pdf, "s_stateful_running≡batch")


def test_stateful_running_tws_twin(spark):
    """transformWithStateInPandas twin (Spark 4 successor API) must
    produce the identical per-user final state. Skips where the TWS
    Python runner's protobuf dependency is absent (this container -
    the probe result is pinned in streams.py's module docstring)."""
    import pytest

    from pudatalake_spark.streaming.streams import (
        s_stateful_running_tws,
        tws_available,
    )

    if not tws_available():
        pytest.skip("transformWithStateInPandas needs google.protobuf")
    stream_pdf = s_stateful_running_tws(spark, SF_DIR).toPandas()
    batch_pdf = (
        table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .toPandas()
    )
    assert_frames_match(stream_pdf, batch_pdf, "s_stateful_running_tws≡batch")


def test_foreach_sink_roundtrip_counts(spark):
    _sdf = registry.QUERIES["s_foreach_sink"](spark, SF_DIR)
    assert_driver_canon_safe(_sdf.schema, "s_foreach_sink")
    stream_pdf = _sdf.toPandas()
    batch_pdf = (
        table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .toPandas()
    )
    assert_frames_match(stream_pdf, batch_pdf, "s_foreach_sink≡batch")


def test_microbatched_replay_equals_single_batch(spark):
    """One file per trigger (4 ordered micro-batches) must converge to
    the same final state as one availableNow batch: state handling is
    order- and batching-insensitive for in-order sources."""
    src = streams.stage_event_files(spark, SF_DIR, "t_microbatch")
    stream = streams.read_event_stream(spark, src, max_files=1)
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value")
    )
    streams.run_to_memory(agg, "t_microbatch", "complete")
    got = spark.table("t_microbatch").toPandas()

    want = (
        table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .toPandas()
    )
    assert_frames_match(got, want, "microbatch≡batch")


def test_session_window_emits_subset_of_batch_sessions(spark):
    """Native session_window sessions must fingerprint-match batch
    lag/cumsum sessions: every emitted (user, n_events, dur_us,
    sum_value) exists in the batch result, and most sessions are
    emitted (only trailing ones may be withheld by the watermark)."""
    _sdf = registry.QUERIES["s_session_window"](spark, SF_DIR)
    assert_driver_canon_safe(_sdf.schema, "s_session_window")
    stream_pdf = _sdf.toPandas()
    batch_pdf = (
        registry.QUERIES["q_stream_session"](spark, SF_DIR)
        .select("user_id", "n_events", "dur_us", "sum_value")
        .toPandas()
    )
    s = canonicalize(stream_pdf)
    b = canonicalize(batch_pdf)
    assert len(s) > 0, "no sessions emitted"
    merged = s.merge(b, how="left", indicator=True)
    assert (merged["_merge"] == "both").all(), (
        "streaming emitted a session not present in the batch result"
    )
    # The 30-day event range vs a 40-min withholding horizon: nearly
    # every session must have been emitted.
    assert len(s) >= 0.8 * len(b), f"only {len(s)}/{len(b)} sessions emitted"


def test_stream_static_join_equals_batch_join(spark):
    """Stream-static joins hold no state and inner-join semantics emit
    on match, so the complete-mode final aggregate must equal the same
    join + aggregate run as one batch."""
    _sdf = registry.QUERIES["s_stream_static_join"](spark, SF_DIR)
    assert_driver_canon_safe(_sdf.schema, "s_stream_static_join")
    stream_pdf = _sdf.toPandas()
    ev = table(spark, SF_DIR, "events").filter(F.col("event_type") == "purchase")
    cust = table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch_pdf = (
        ev.join(cust, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .toPandas()
    )
    assert len(batch_pdf) > 0, "fixture produced no purchase->segment rows"
    assert_frames_match(stream_pdf, batch_pdf, "s_stream_static_join≡batch")


def test_stream_stream_join_equals_batch_join(spark):
    """Inner stream-stream interval joins emit on match, so the final
    result must equal the identical batch join exactly."""
    _sdf = registry.QUERIES["s_stream_stream_join"](spark, SF_DIR)
    assert_driver_canon_safe(_sdf.schema, "s_stream_stream_join")
    stream_pdf = _sdf.toPandas()
    ev = table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("buy_ts"),
        F.col("event_id").alias("buy_id"),
        F.col("value").alias("buy_value"),
    )
    batch_pdf = (
        clicks.join(
            buys,
            (F.col("c_user") == F.col("b_user"))
            & (F.col("buy_ts") >= F.col("click_ts"))
            & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select("c_user", "click_id", "buy_id", "click_ts", "buy_ts", "buy_value")
        .toPandas()
    )
    assert len(batch_pdf) > 0, "fixture produced no click->purchase pairs"
    assert_frames_match(stream_pdf, batch_pdf, "s_stream_stream_join≡batch")


def test_anomaly_score_stream_equals_batch(spark):
    """s_anomaly_score must reproduce q_events_anomaly EXACTLY (same
    flagged events, same rounded z) both as one availableNow batch and
    file-by-file (maxFilesPerTrigger=1, state carrying the trailing
    window across micro-batch boundaries)."""
    batch = registry.QUERIES["q_events_anomaly"](spark, SF_DIR).toPandas()
    single = registry.QUERIES["s_anomaly_score"](spark, SF_DIR).toPandas()
    assert_driver_canon_safe(
        registry.QUERIES["s_anomaly_score"](spark, SF_DIR).schema,
        "s_anomaly_score",
    )
    assert_frames_match(single, batch, "s_anomaly_score≡batch(single)")
    per_file = streams.s_anomaly_score(spark, SF_DIR, max_files=1).toPandas()
    assert_frames_match(per_file, batch, "s_anomaly_score≡batch(per-file)")


def test_anomaly_score_stable_under_arrow_chunking(spark):
    """Regression (r10): applyInPandasWithState hands each group to
    the scorer as ARROW-SIZED CHUNKS in shuffle-arrival order. The
    pre-r10 code sorted per chunk instead of per group, so whenever a
    group spanned chunks (sf0.1 and up — never the sf0.001 fixture,
    which is why the equivalence test above stayed green) ~3% of the
    flags flickered run to run. Forcing 97-row Arrow batches makes
    every fixture group span many chunks; the output must still equal
    the batch analytic exactly. (Verified to FAIL against the pre-fix
    code.)"""
    batch = registry.QUERIES["q_events_anomaly"](spark, SF_DIR).toPandas()
    orig = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "97")
    try:
        chunked = registry.QUERIES["s_anomaly_score"](spark, SF_DIR).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", orig)
    assert_frames_match(chunked, batch, "s_anomaly_score≡batch(97-row chunks)")


def test_checkpoint_restart_is_exactly_once(spark):
    """Exactly-once across RESTARTS: a stateful aggregation drains
    half its input, stops, and a NEW query resumes from the same
    checkpoint over the full directory. The checkpoint must both
    restore the aggregate state and skip the already-committed files
    - double-reading would inflate the counts, losing state would
    deflate them; the final table must equal the one-shot batch
    aggregate over everything."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from pudatalake_spark.streaming.streams import (
        EVENT_SCHEMA,
        _fresh,
        stage_event_files,
    )

    src = stage_event_files(spark, "/root/testdata/sf0.001", "ckpt_restart")
    hold = _fresh("ckpt_restart", "hold")
    parts = sorted(f for f in os.listdir(src) if f.startswith("part-"))
    assert len(parts) >= 4
    held = parts[2:]
    for f in held:
        shutil.move(os.path.join(src, f), os.path.join(hold, f))
    ckpt = _fresh("ckpt_restart", "ckpt")

    def run_query():
        agg = (
            spark.readStream.schema(EVENT_SCHEMA)
            .parquet(src)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 4).alias("sv"),
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("ckpt_restart_tbl")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_query()  # phase 1: first half of the files, then clean stop
    partial = {
        r["event_type"]: r["n"]
        for r in spark.table("ckpt_restart_tbl").collect()
    }
    for f in held:
        shutil.move(os.path.join(hold, f), os.path.join(src, f))
    run_query()  # phase 2: NEW query, SAME checkpoint, full directory

    got = {
        r["event_type"]: (r["n"], r["sv"])
        for r in spark.table("ckpt_restart_tbl").collect()
    }
    want = {
        r["event_type"]: (r["n"], r["sv"])
        for r in spark.read.parquet(src)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sv"))
        .collect()
    }
    assert got == want
    # phase 1 really was partial, so phase 2 provably resumed state
    assert sum(partial.values()) < sum(n for n, _ in want.values())


def test_window_approx_distinct_equals_batch_sketch(spark):
    """Stream and batch HLL sketches agree EXACTLY (not within
    tolerance): HLL merge is order/partitioning-independent, so the
    micro-batched merge path must land on the same estimate as one
    batch pass - and the closed-window rows must be a subset check
    on count too (append mode emits only watermark-closed windows)."""
    from pudatalake_spark.loaders import table

    got = {
        r["window_start"]: (r["approx_users"], r["n_events"])
        for r in registry.QUERIES["s_window_approx_distinct"](
            spark, SF_DIR
        ).collect()
    }
    batch = {
        r["window_start"]: (r["approx_users"], r["n_events"])
        for r in (
            table(spark, SF_DIR, "events")
            .groupBy(F.window("ts", "6 hours").alias("w"))
            .agg(
                F.approx_count_distinct("user_id").alias("approx_users"),
                F.count("*").alias("n_events"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "approx_users",
                "n_events",
            )
        ).collect()
    }
    assert got, "no closed windows emitted"
    for w, vals in got.items():
        assert batch[w] == vals


def test_foreachbatch_upsert_equals_batch_latest(spark):
    # The versioned foreachBatch MERGE must land on exactly the batch
    # latest-row-per-user table, however the source splits into
    # micro-batches.
    _sdf = registry.QUERIES["s_foreachbatch_upsert"](spark, SF_DIR)
    assert_driver_canon_safe(_sdf.schema, "s_foreachbatch_upsert")
    stream_pdf = _sdf.toPandas()
    batch_pdf = (
        table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("ts", "event_id", "event_type"),
                F.struct("ts", "event_id"),
            ).alias("s")
        )
        .select("user_id", "s.ts", "s.event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_users_latest"),
            F.max("ts").alias("latest_ts"),
        )
        .toPandas()
    )
    assert_frames_match(stream_pdf, batch_pdf, "s_foreachbatch_upsert≡batch")


def test_dedup_cross_corpus_stream_equals_batch(spark):
    """s_dedup_cross_corpus (foreachBatch probe of each micro-batch
    against the persisted reference signature store) must produce
    EXACTLY q_dedup_cross_corpus's rows on a doc_id-ordered file
    replay - the batch key is the oracle, whichever branch (exact
    inverted index or minhash build/probe) it selected for this
    corpus size. Also proves the planted fixture actually exercises
    the gate (non-empty contamination log)."""
    _sdf = registry.QUERIES["s_dedup_cross_corpus"](spark, SF_DIR)
    assert_driver_canon_safe(_sdf.schema, "s_dedup_cross_corpus")
    stream_pdf = _sdf.toPandas()
    batch_pdf = registry.QUERIES["q_dedup_cross_corpus"](
        spark, SF_DIR
    ).toPandas()
    assert len(batch_pdf) > 0, "fixture produced no cross-corpus dups"
    assert_frames_match(stream_pdf, batch_pdf, "s_dedup_cross_corpus≡batch")


def test_drain_sizes_state_and_skips_nodata_batch(spark):
    """run_to_memory's contract: state-store partitions are one wave of
    task slots, a complete-mode drain runs no trailing no-data batch,
    append mode keeps it, and the session conf it overrides is
    restored after every drain, also one that raises."""
    import pytest

    conf = spark.conf
    parts_key = "spark.sql.shuffle.partitions"
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = {k: conf.get(k, None) for k in (parts_key, nodata_key)}
    want_parts = min(
        streams.STREAM_SHUFFLE_PARTITIONS, spark.sparkContext.defaultParallelism
    )

    src = streams.stage_event_files(spark, SF_DIR, "t_drain_dedup")
    dedup = (
        streams.read_event_stream(spark, src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )
    q = streams.run_to_memory(dedup, "t_drain_dedup", "complete")
    progress = q.recentProgress
    assert len(progress) == 1, f"complete drain ran {len(progress)} batches"
    state_ops = progress[0]["stateOperators"]
    assert len(state_ops) == 2, state_ops
    assert {op["numShufflePartitions"] for op in state_ops} == {want_parts}
    assert {k: conf.get(k, None) for k in prev} == prev

    # Append mode keeps the no-data batch: it emits the windows the
    # final watermark closes (the s_watermark_late shape).
    src = streams.stage_event_files(spark, SF_DIR, "t_drain_append")
    windows = (
        streams.read_event_stream(spark, src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    q = streams.run_to_memory(windows, "t_drain_append", "append")
    assert len(q.recentProgress) >= 2
    assert spark.table("t_drain_append").count() > 0
    assert {k: conf.get(k, None) for k in prev} == prev

    # A drain that fails at start (complete mode without an aggregate)
    # still restores the conf, from an explicitly set value too.
    conf.set(nodata_key, "true")
    try:
        with pytest.raises(Exception, match="(?i)complete"):
            streams.run_to_memory(
                streams.read_event_stream(spark, src), "t_drain_bad", "complete"
            )
        assert conf.get(parts_key) == prev[parts_key]
        assert conf.get(nodata_key) == "true"
    finally:
        if prev[nodata_key] is None:
            conf.unset(nodata_key)
        else:
            conf.set(nodata_key, prev[nodata_key])
