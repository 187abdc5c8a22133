"""TRUE rate-source micro-batch smoke per stateful streaming family
(r9, VERDICT r8 #8).

The s_* keys are equivalence-tested against their batch twins by
replaying files through availableNow — which proves VALUES but cannot
prove the one thing batch equivalence can't show: that state-store
size stays BOUNDED as micro-batches keep arriving. These tests run
each stateful family on a genuine continuous ``rate`` source for >= 3
non-empty micro-batches and assert on the engine's own
``stateOperators`` progress metrics:

- watermarked tumbling window  -> open-window state plateaus, rows
  are EVICTED (numRowsRemoved > 0), final state << total input;
- dropDuplicatesWithinWatermark -> key state is evicted past the
  watermark, final state << total input;
- applyInPandasWithState       -> per-group state stays at exactly
  |groups| rows (keyed by value % 8) no matter how many batches run;
- stream-stream interval join  -> both buffered sides evict past the
  watermark, final buffered rows << total input;
- session windows              -> closed sessions leave state.

Wall-clock flake posture: every bound is an order-of-magnitude
separation from the unbounded alternative (state ~= total input),
never a tight constant; deadlines are generous and the queries stop
in ``finally``. Marked slow: each test runs ~5-15 s of real stream.
"""

from __future__ import annotations

import time
import uuid

import pytest

from pyspark.sql import functions as F

pytestmark = pytest.mark.slow


def _run_until_state_batches(q, min_batches=3, deadline_s=90, until=None):
    """Poll progress until >= min_batches micro-batches carry
    stateOperators metrics with input rows (and the optional ``until``
    predicate over those batches holds — e.g. eviction observed,
    which lags the watermark by a few batches); return the progress
    dicts (engine-reported JSON)."""
    t0 = time.time()
    progs: list = []
    while time.time() - t0 < deadline_s:
        # keep EVERY batch that carries state metrics: evictions
        # often land in zero-input maintenance batches triggered by
        # watermark advance alone, and filtering those out hides the
        # removal signal (observed on dropDuplicatesWithinWatermark)
        progs = [p for p in q.recentProgress if p.get("stateOperators")]
        if len(progs) >= min_batches and (until is None or until(progs)):
            return progs
        time.sleep(0.5)
    if len(progs) >= min_batches and until is not None:
        # enough batches but the predicate never held: let the
        # caller's assertion report it with full metrics
        return progs
    raise AssertionError(
        f"never saw {min_batches} stateful micro-batches; got "
        f"{len(q.recentProgress)} progress entries"
    )


def _rate(spark, rows_per_second):
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def _state_rows(progs):
    return [p["stateOperators"][0]["numRowsTotal"] for p in progs]


def _removed(progs):
    return sum(
        op.get("numRowsRemoved", 0)
        for p in progs
        for op in p["stateOperators"]
    )


def _total_input(progs):
    return sum(p["numInputRows"] for p in progs)


def test_rate_windowed_agg_state_bounded(spark, tmp_path):
    """Watermarked tumbling count: open windows are evicted as the
    watermark passes, so state rows stay near (delay + window) /
    window, not near the number of windows ever seen."""
    src = _rate(spark, 500).withWatermark("timestamp", "1 second")
    agg = src.groupBy(F.window("timestamp", "500 milliseconds")).count()
    q = (
        agg.writeStream.format("memory")
        .queryName(f"rate_win_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        progs = _run_until_state_batches(
            q, min_batches=5, until=lambda ps: _removed(ps) > 0
        )
        states = _state_rows(progs)
        # bounded: open windows ≈ (1s delay + 0.5s window)/0.5s + slack
        assert max(states) <= 20, states
        # eviction actually happened (the unbounded formulation never
        # removes): closed windows left the store
        assert _removed(progs) > 0
        # separation from the unbounded alternative (state ~ input)
        assert max(states) < _total_input(progs) / 10
    finally:
        q.stop()


def test_rate_dedup_within_watermark_state_bounded(spark, tmp_path):
    """dropDuplicatesWithinWatermark over a 40-key stream: key state
    is evicted once older than the watermark, so it tracks keys seen
    WITHIN the horizon, not keys-x-batches."""
    src = (
        _rate(spark, 500)
        .withColumn("k", F.col("value") % 40)
        .withWatermark("timestamp", "1 second")
    )
    dd = src.dropDuplicatesWithinWatermark(["k"])
    q = (
        dd.writeStream.format("memory")
        .queryName(f"rate_dedup_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        progs = _run_until_state_batches(
            q, min_batches=5, until=lambda ps: _removed(ps) > 0
        )
        states = _state_rows(progs)
        # within-watermark key state: 40 keys x a small number of
        # expiry epochs, far from total input (~500 rows/s)
        assert max(states) <= 400, states
        assert _removed(progs) > 0
        assert max(states) < _total_input(progs) / 4
    finally:
        q.stop()


def test_rate_apply_in_pandas_with_state_bounded(spark, tmp_path):
    """applyInPandasWithState keyed by value % 8: exactly one state
    row per group regardless of how many micro-batches have run (the
    family's contract - per-key state, not per-event)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def running(key, pdfs, state):
        import pandas as pd

        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"k": [key[0]], "n": [n]})

    src = _rate(spark, 500).withColumn("k", F.col("value") % 8)
    out = src.groupBy("k").applyInPandasWithState(
        running,
        outputStructType="k long, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("memory")
        .queryName(f"rate_apips_{uuid.uuid4().hex[:8]}")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        progs = _run_until_state_batches(q, min_batches=3)
        states = _state_rows(progs)
        assert max(states) <= 8, states  # one row per group, ever
    finally:
        q.stop()


def test_rate_stream_stream_join_state_bounded(spark, tmp_path):
    """Interval self-join of two rate streams: both buffered sides
    evict rows older than the watermark, so buffered state tracks the
    join horizon, not the stream length."""
    left = (
        _rate(spark, 200)
        .select(
            F.col("value").alias("lk"),
            F.col("timestamp").alias("lts"),
        )
        .withWatermark("lts", "1 second")
    )
    right = (
        _rate(spark, 200)
        .select(
            F.col("value").alias("rk"),
            F.col("timestamp").alias("rts"),
        )
        .withWatermark("rts", "1 second")
    )
    joined = left.join(
        right,
        (F.col("lk") == F.col("rk"))
        & (F.col("rts") >= F.col("lts"))
        & (F.col("rts") <= F.col("lts") + F.expr("interval 1 second")),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(f"rate_ssj_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        progs = _run_until_state_batches(
            q, min_batches=5, deadline_s=120,
            until=lambda ps: _removed(ps) > 0,
        )
        states = _state_rows(progs)
        total_in = _total_input(progs)
        assert _removed(progs) > 0, "join state never evicted"
        # buffered rows track the watermark horizon (~2-3 s of both
        # sides ≈ 800-1200 rows), far below everything ever ingested
        # once enough batches have run
        assert states[-1] < max(total_in, 4000), states
        assert states[-1] <= 6000, states
    finally:
        q.stop()


def test_rate_session_window_state_bounded(spark, tmp_path):
    """Session windows keyed by value % 5 with sub-second gaps: the
    watermark closes sessions and evicts them; state holds only the
    open sessions per key."""
    src = (
        _rate(spark, 500)
        .withColumn("k", F.col("value") % 5)
        .withWatermark("timestamp", "1 second")
    )
    sess = src.groupBy(
        "k", F.session_window("timestamp", "250 milliseconds")
    ).count()
    q = (
        sess.writeStream.format("memory")
        .queryName(f"rate_sess_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        progs = _run_until_state_batches(q, min_batches=5)
        states = _state_rows(progs)
        # 5 keys x open sessions (rate rows arrive continuously, so
        # sessions keep merging; closed ones must leave)
        assert max(states) <= 100, states
        assert max(states) < _total_input(progs) / 10
    finally:
        q.stop()
