"""True Structured Streaming operators (SURVEY §2.9, rows-only).

Each builder materializes the events table as a multi-file stream
source under scratch, runs a streaming query with
``trigger(availableNow=True)`` to completion, and returns the final
result as a DataFrame. tests/test_streaming.py additionally feeds
ordered micro-batches (maxFilesPerTrigger=1) and asserts equivalence
with the batch formulations in batch_windows.py.

100 TB posture: state (windows, dedup keys, per-user aggregates)
lives in the executor state store, keyed and partitioned by the
grouping key; watermarks bound state size by evicting windows older
than max(event time) - delay. Checkpointing makes restarts
exactly-once.

The arbitrary-state keys use applyInPandasWithState, not Spark 4's
transformWithStateInPandas: the TWS Python runner needs
``google.protobuf`` at init, and the engine does not depend on it.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..loaders import table
from ..registry import register, scope
from ..sources.ingest import SCRATCH

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _fresh(*parts: str) -> str:
    path = os.path.join(SCRATCH, "stream", *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def stage_event_files(
    spark: SparkSession, sf_dir: str, name: str, n_files: int = 4
) -> str:
    """Write events as n_files parquet files ordered by ts: a replayable
    file-stream source (file order == event-time order)."""
    src = _fresh(name, "src")
    ev = table(spark, sf_dir, "events")
    # Range-partition by ts so file boundaries follow event time.
    ev.repartitionByRange(n_files, "ts").write.mode("overwrite").parquet(src)
    # FileStreamSource replays in MODIFICATION-TIME order, and the
    # writer stamps every part file within the same second - so the
    # "file order == event-time order" premise silently broke for
    # maxFilesPerTrigger=1 replays. Range partitioning makes part
    # NUMBER order the ts order; re-stamp mtimes to match it.
    parts = sorted(
        f for f in os.listdir(src) if f.startswith("part-")
    )
    base = int(os.path.getmtime(os.path.join(src, parts[-1]))) if parts else 0
    for i, f in enumerate(parts):
        os.utime(os.path.join(src, f), (base + i, base + i))
    return src


def read_event_stream(
    spark: SparkSession, src: str, max_files: int | None = None
):
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    return reader.parquet(src)


#: Cap on the state-store partition count of a drain. Each micro-batch
#: commits one state file per partition per stateful operator, so its
#: fixed cost follows partition waves, not data: on the stream-stream
#: join at sf0.1 a drain took 6.9 s at 32 partitions and 3.1 s at 8,
#: same result. A drain uses min(cap, defaultParallelism): one wave.
STREAM_SHUFFLE_PARTITIONS = 8


#: State-store provider that per-user aggregate state opts into (only
#: ``s_stateful_running``). At x100 events (SCALING §26) RocksDB won the
#: applyInPandasWithState aggregate (median 68.9 -> 61.9 s) and lost the
#: session-window aggregate (53.4 vs 75.1 s) and the dedup keys (38.0 vs
#: 41.1 s), so every other key keeps the heap store. On a cluster whose
#: state outgrows executor heap RocksDB is mandatory; that is the
#: deployment's conf to flip, not this engine's default.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_NO_DATA_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"


def run_to_memory(
    stream_df, name: str, output_mode: str, state_provider: str | None = None
) -> StreamingQuery:
    """Drain a stream availableNow into an in-memory sink table named
    `name` and return the terminated query (its ``recentProgress`` has
    one entry per micro-batch).

    For the drain only, and restored after it even when it raises:

    - ``spark.sql.shuffle.partitions`` is
      min(STREAM_SHUFFLE_PARTITIONS, defaultParallelism), so each
      batch's state-store commits run in one wave of task slots;
    - in ``complete`` mode the trailing no-data batch is off. It has no
      input and a complete aggregate keeps all of its state, so it can
      only evict upstream watermark state and re-emit the same table;
      it cost 0.6-0.97 s per ``s_stream_dedup`` drain at local[2]. The
      state it would evict stays in the checkpoint until a next batch
      runs (``s_stream_dedup`` ends holding its dedup keys). Append
      and update modes keep it: it emits what the final watermark
      closes;
    - ``state_provider``, if given, is the state-store provider.
    """
    spark = stream_df.sparkSession
    conf = spark.conf
    overrides = {
        "spark.sql.shuffle.partitions": str(
            min(STREAM_SHUFFLE_PARTITIONS, spark.sparkContext.defaultParallelism)
        )
    }
    if output_mode == "complete":
        overrides[_NO_DATA_CONF] = "false"
    if state_provider is not None:
        overrides[_PROVIDER_CONF] = state_provider
    prev = {k: conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        conf.set(k, v)
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", _fresh(name, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q
    finally:
        for k, v in prev.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


@register("s_watermark_late")
def s_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregate: 10-minute watermark bounds
    state; events later than watermark - 10min are dropped."""
    src = stage_event_files(spark, sf_dir, "s_watermark_late")
    stream = read_event_stream(spark, src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    run_to_memory(agg, "s_watermark_late", "append")
    return spark.table("s_watermark_late")


@register("s_session_window")
def s_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming session windows: ``session_window(ts, '30
    minutes')`` per user - the native-state twin of the batch
    lag/cumsum sessionization in q_stream_session. Append mode emits a
    session once the watermark passes its close (last event + gap), so
    the trailing per-user sessions are withheld at end-of-stream;
    tests assert emitted ⊆ batch sessions on the session fingerprint
    (user, n_events, duration, sum)."""
    src = stage_event_files(spark, sf_dir, "s_session_window")
    stream = read_event_stream(spark, src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias("dur_us"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select("user_id", "n_events", "dur_us", "sum_value")
    )
    # Heap state store: RocksDB lost this key's A/B (ROCKSDB_PROVIDER).
    run_to_memory(agg, "s_session_window", "append")
    return spark.table("s_session_window")


@register("s_stream_dedup")
def s_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on event_id within the watermark horizon. The
    source is staged WITH duplicates (events unioned twice) to prove
    the dedup state works. The drain is one availableNow batch, so the
    staged files need no event-time order: one write job stages them."""
    src = _fresh("s_stream_dedup", "src")
    ev = table(spark, sf_dir, "events")
    ev.unionByName(ev).write.mode("overwrite").parquet(src)
    stream = read_event_stream(spark, src)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    counted = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    run_to_memory(counted, "s_stream_dedup", "complete")
    return spark.table("s_stream_dedup")


@register("s_stateful_running")
def s_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful per-user aggregate via applyInPandasWithState:
    state = (count, sum, max_ts_us) per user, updated per micro-batch."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = stage_event_files(spark, sf_dir, "s_stateful_running")
    # Only the columns ``update`` reads reach the Python worker.
    stream = read_event_stream(spark, src).select("user_id", "value")

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 4)]}
        )

    result = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    run_to_memory(result, "s_stateful_running", "update",
                  state_provider=ROCKSDB_PROVIDER)
    # The memory sink holds one row per (user, batch); keep the final
    # state per user (max n_events is the last update).
    tbl = spark.table("s_stateful_running")
    return tbl.groupBy("user_id").agg(
        F.max(F.struct("n_events", "sum_value")).alias("final")
    ).select("user_id", "final.n_events", "final.sum_value")


@register("s_foreach_sink")
def s_foreach_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet sink partitioned by event_type (lake append
    with exactly-once via checkpoint + file-sink transaction log)."""
    src = stage_event_files(spark, sf_dir, "s_foreach_sink")
    out = _fresh("s_foreach_sink", "out")
    stream = read_event_stream(spark, src)
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", _fresh("s_foreach_sink", "ckpt"))
        .partitionBy("event_type")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(F.count("*").alias("n"))


@register("s_stream_stream_join")
def s_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: every purchase joined
    to the same user's clicks in the preceding hour (attribution
    join). Both sides carry a 1-hour watermark and the join condition
    bounds buy_ts to [click_ts, click_ts + 1h], so the state store
    holds at most ~2 hours of either stream per user key - without
    the time bound a stream-stream join must buffer BOTH streams
    forever, which is the canonical unbounded-state bug at 100 TB.
    Inner joins emit on match (no watermark withholding), so the
    final result equals the batch join exactly
    (tests/test_streaming.py asserts it)."""
    src = stage_event_files(spark, sf_dir, "s_ss_join")
    clicks = (
        read_event_stream(spark, src)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    buys = (
        read_event_stream(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("buy_ts"),
            F.col("event_id").alias("buy_id"),
            F.col("value").alias("buy_value"),
        )
        .withWatermark("buy_ts", "1 hour")
    )
    joined = clicks.join(
        buys,
        F.expr(
            "c_user = b_user AND buy_ts >= click_ts "
            "AND buy_ts <= click_ts + INTERVAL 1 HOUR"
        ),
        "inner",
    ).select("c_user", "click_id", "buy_id", "click_ts", "buy_ts", "buy_value")
    run_to_memory(joined, "s_stream_stream_join", "append")
    return spark.table("s_stream_stream_join")


@register("s_stream_static_join")
def s_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to the
    STATIC customer dimension (user_id -> customer row) - the
    standard streaming-enrichment shape. The static side needs no
    watermark and holds no state: every micro-batch re-plans the join
    against the dim as-of that batch, so dim updates between batches
    are picked up automatically (slowly-changing enrichment for
    free). With the dim under the broadcast threshold each micro-batch
    is a broadcast hash join - the stream never shuffles; that is the
    100 TB shape (a dim too big to broadcast pre-buckets on the join
    key instead). Output: per-segment purchase volume."""
    src = stage_event_files(spark, sf_dir, "s_static_join")
    stream = read_event_stream(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream.join(F.broadcast(cust), "user_id")
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_purchases"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    run_to_memory(agg, "s_stream_static_join", "complete")
    return spark.table("s_stream_static_join")


@register("s_anomaly_score")
def s_anomaly_score(
    spark: SparkSession, sf_dir: str, max_files: int | None = None
) -> DataFrame:
    """Streaming twin of q_events_anomaly via applyInPandasWithState:
    per-event-type state = the trailing window of the last 50 values;
    each arriving event is z-scored against the CURRENT state (which
    by construction holds exactly its 50 predecessors, frame
    excluding itself), then pushed into it. Emits only flagged rows
    (|z| > 3 with >= 30 history), like the batch analytic.

    Rows within a micro-batch are sorted by (ts, event_id) before
    scoring and the source files are staged in ts order, so the
    scoring order - and therefore every score - is identical to the
    batch window's, whether the drain runs as one availableNow batch
    or file-by-file (the equivalence test runs both). State is
    bounded at 50 doubles per event type regardless of stream length
    - the O(frame) state bound the batch docstring promises, realized
    in the state store.
    """
    import numpy as np

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = stage_event_files(spark, sf_dir, "s_anomaly_score")
    # Only the columns ``score`` reads reach the Python worker.
    stream = read_event_stream(spark, src, max_files=max_files).select(
        "event_type", "event_id", "ts", "value"
    )

    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("z", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("hist", T.ArrayType(T.DoubleType()))]
    )

    def score(key, pdf_iter, state: GroupState):
        # Vectorized scoring (VERDICT r4 #3): concatenate the carried
        # state window with the sorted batch and take pandas rolling
        # mean/std over the combined series. rolling(50, min_periods=30)
        # at index j covers [j-49, j] INCLUDING j, so shift(1) yields
        # the stats of each row's <=50 PREDECESSORS with >=30 history -
        # exactly the per-row loop's frame (and the batch window's
        # "rowsBetween(-50, -1)" frame), with one C-level pass per
        # batch instead of an O(rows x frame) Python loop. Exact
        # per-window mean/std recomputation (pandas windowed kernels),
        # not a drifting running estimate; the batch<->stream
        # equivalence tests gate the semantics.
        (hist,) = state.get if state.exists else ([],)
        hist = list(hist)
        out = {"event_id": [], "event_type": [], "value": [], "z": []}
        frames = []
        # The iterator yields the group in ARROW-SIZED CHUNKS whose
        # boundaries and order follow shuffle arrival, which varies
        # run to run. Sorting per chunk (the r4-r10 code) therefore
        # scored a run-dependent order and ~3% of the flags flickered
        # across identical runs (caught by the r10 throughput
        # measurement). The group must be assembled BEFORE the one
        # global (ts, event_id) sort; per-micro-batch memory is
        # bounded by the trigger (maxFilesPerTrigger in the replay
        # test, file batching under availableNow), not by this concat.
        chunks = list(pdf_iter)
        whole = (
            pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        )
        for pdf in ([whole] if len(whole) else []):
            pdf = pdf.sort_values(["ts", "event_id"])
            vals = pdf["value"].to_numpy(dtype=np.float64)
            n0 = len(hist)
            s = pd.Series(
                np.concatenate([np.asarray(hist, dtype=np.float64), vals])
            )
            roll = s.rolling(window=50, min_periods=30)
            mean_prev = roll.mean().shift(1).to_numpy()[n0:]
            std_prev = roll.std(ddof=1).shift(1).to_numpy()[n0:]
            with np.errstate(invalid="ignore", divide="ignore"):
                z = (vals - mean_prev) / std_prev
            flag = (std_prev > 0) & np.isfinite(z) & (np.abs(z) > 3)
            if flag.any():
                frames.append(
                    pd.DataFrame(
                        {
                            "event_id": pdf["event_id"].to_numpy()[flag].astype("int64"),
                            "event_type": key[0],
                            "value": np.round(vals[flag], 4),
                            "z": np.round(z[flag], 4),
                        }
                    )
                )
            hist = [float(v) for v in s.to_numpy()[-50:]]
        state.update((hist,))
        yield pd.concat(frames) if frames else pd.DataFrame(out)

    result = stream.groupBy("event_type").applyInPandasWithState(
        score,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    run_to_memory(result, "s_anomaly_score", "append")
    return spark.table("s_anomaly_score")


@register("s_window_approx_distinct")
def s_window_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user sketches: approx_count_distinct per
    6-hour tumbling window under a 10-minute watermark - the
    sketch-in-state pattern for cardinality dashboards. HLL partials
    merge associatively, so the per-window state is ONE bounded
    sketch regardless of user cardinality (an exact streaming
    distinct would hold every key in the state store), and the
    watermark evicts closed windows.

    Rows-only by design (approximate); the batch-equivalence test
    asserts stream == the batch approx_count_distinct over the same
    windows EXACTLY, because HLL merge is order-independent - the
    same property that makes the sketch safe to merge across
    micro-batches makes the equivalence check exact, not
    tolerance-based.
    """
    src = stage_event_files(spark, sf_dir, "s_window_approx_distinct")
    stream = read_event_stream(spark, src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
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
    )
    run_to_memory(agg, "s_window_approx_distinct", "append")
    return spark.table("s_window_approx_distinct")


@register("s_foreachbatch_upsert")
def s_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert via foreachBatch - THE production pattern
    for 'MERGE a change stream into a keyed table' on a plain-parquet
    lake (what Delta/Iceberg MERGE does natively, expressed with the
    engine primitives this environment ships): each micro-batch
    reduces to its latest row per user (max_by on (ts, event_id)),
    reads the current table version, merges keep-latest, and writes
    version N+1 - versioned rewrite, never in-place, so a failed
    batch never corrupts the table and re-running a batch is
    idempotent (exactly-once effect on top of at-least-once
    delivery).

    The returned frame is the FINAL table rolled up per event_type;
    tests/test_streaming.py proves it equals the batch
    latest-per-key computed directly from the source - the
    stream-equals-batch contract the whole s_* family carries.

    100 TB posture: per-batch work is one shuffle on the key; the
    rewrite cost is the known plain-parquet MERGE trade (full-table
    IO per batch) and the docstring of q_merge_upsert records the
    partition-restricted variant; state never lives on the driver.
    """
    src = stage_event_files(spark, sf_dir, "s_fbu")
    base = _fresh("s_fbu", "table")
    os.makedirs(base, exist_ok=True)
    version = {"n": 0}

    def upsert(batch_df, batch_id):
        latest = batch_df.groupBy("user_id").agg(
            F.max_by(
                F.struct("ts", "event_id", "event_type", "value"),
                F.struct("ts", "event_id"),
            ).alias("s")
        ).select("user_id", "s.ts", "s.event_id", "s.event_type", "s.value")
        cur = os.path.join(base, f"v{version['n']}")
        if version["n"] > 0:
            prev = batch_df.sparkSession.read.parquet(cur)
            merged = (
                prev.unionByName(latest)
                .groupBy("user_id")
                .agg(
                    F.max_by(
                        F.struct("ts", "event_id", "event_type", "value"),
                        F.struct("ts", "event_id"),
                    ).alias("s")
                )
                .select(
                    "user_id", "s.ts", "s.event_id", "s.event_type", "s.value"
                )
            )
        else:
            merged = latest
        version["n"] += 1
        merged.write.mode("overwrite").parquet(
            os.path.join(base, f"v{version['n']}")
        )

    stream = read_event_stream(spark, src)
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", _fresh("s_fbu", "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = spark.read.parquet(os.path.join(base, f"v{version['n']}"))
    return (
        final.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_users_latest"),
            F.max("ts").alias("latest_ts"),
        )
        .orderBy("event_type")
    )

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stage_document_files(
    spark: SparkSession, sf_dir: str, name: str, n_files: int = 4,
    parity: int | None = None,
) -> str:
    """Stage (a parity slice of) the documents table as n_files
    parquet files ordered by doc_id - the replayable ingest-crawl
    stream source (same mtime re-stamping contract as
    stage_event_files)."""
    src = _fresh(name, "src")
    d = table(spark, sf_dir, "documents")
    if parity is not None:
        d = d.filter(F.col("doc_id") % 2 == parity)
    d.repartitionByRange(n_files, "doc_id").write.mode(
        "overwrite"
    ).parquet(src)
    parts = sorted(f for f in os.listdir(src) if f.startswith("part-"))
    base = int(os.path.getmtime(os.path.join(src, parts[-1]))) if parts else 0
    for i, f in enumerate(parts):
        os.utime(os.path.join(src, f), (base + i, base + i))
    return src


@register("s_dedup_cross_corpus")
def s_dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING cross-corpus decontamination (VERDICT r12 #6) - the
    production ingest gate: the reference corpus (even doc_ids, the
    already-ingested training set) is signed ONCE into a PERSISTED
    minhash signature store (banded signatures + hashed shingle
    sets, parquet); the new crawl (odd doc_ids) then arrives as a
    file stream, and each micro-batch signs ONLY its own documents,
    probes its band buckets against the stored reference bands via
    foreachBatch, exact-Jaccard-verifies the surviving candidates,
    and appends the flagged (batch_doc, ref_doc, jaccard) pairs to
    the contamination log. The returned frame is the per-doc argmax
    over the log - each batch doc appears in exactly one
    micro-batch, so per-batch pairs ARE globally complete per doc.

    Equivalence contract (the s_anomaly_score protocol): on a
    doc_id-ordered file replay this must produce EXACTLY
    q_dedup_cross_corpus's rows (tests/test_streaming.py) - the
    batch key IS the oracle, whichever branch (exact index or
    minhash build/probe) it selected for the corpus size.

    100 TB posture: the signature store is the corpus-version
    artifact (built once per training-set release, ~64 ints + one
    hashed-shingle array per doc); per-ingest cost is O(batch)
    signing + one band equi-join against the store + bounded verify,
    INDEPENDENT of reference size - the batch twin re-signs the
    whole union every run, which is exactly what a production lake
    cannot afford. State lives in the store and the checkpoint, not
    the driver. Restart is IDEMPOTENT, not sink-log exactly-once
    (r14, ADVICE r13: foreachBatch is at-least-once): each
    micro-batch writes its pairs into its own batch_id partition
    with dynamic partition overwrite, so a replayed batch REPLACES
    its partition instead of re-appending duplicates - the raw log
    is clean under retries, and the per-doc argmax below is
    duplicate-insensitive anyway (row_number==1 over identical rows).
    """
    from ..llmops.dedup import (
        cross_corpus_probe,
        minhash_signature_frames,
    )

    # Build: persist the reference signature store (corpus-version
    # artifact). Parquet round-trip is the point - the probe reads
    # the STORE, not the reference corpus.
    ref = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    store = _fresh("s_dedup_xc", "store")
    with scope():
        ref_sh, ref_banded = minhash_signature_frames(ref)
        ref_sh.write.mode("overwrite").parquet(os.path.join(store, "sh"))
        ref_banded.write.mode("overwrite").parquet(
            os.path.join(store, "bands")
        )

    src = stage_document_files(
        spark, sf_dir, "s_dedup_xc", parity=1
    )
    out = _fresh("s_dedup_xc", "pairs")

    def probe(batch_df, batch_id):
        ss = batch_df.sparkSession
        # The batch shingle frame is consumed twice (the verify join
        # AND the banded derivation), so it is worth caching per batch.
        with scope():
            b_sh, b_banded = minhash_signature_frames(batch_df)
            pairs = cross_corpus_probe(
                b_sh,
                b_banded,
                ss.read.parquet(os.path.join(store, "sh")),
                ss.read.parquet(os.path.join(store, "bands")),
            )
            # Idempotent under foreachBatch's at-least-once retries:
            # a replayed batch_id OVERWRITES its own partition
            # (dynamic mode touches no other batch's partition)
            # instead of appending a second copy of its pairs.
            (pairs.withColumn("batch_id", F.lit(batch_id))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("batch_id").parquet(out))

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", "1")  # genuine micro-batches
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", _fresh("s_dedup_xc", "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        log = spark.read.parquet(out)
    except Exception:  # no contamination found -> empty contract frame
        return spark.createDataFrame(
            [], "batch_doc bigint, ref_doc bigint, jaccard double"
        )
    from pyspark.sql import Window

    w = Window.partitionBy("batch_doc").orderBy(
        F.desc("jaccard"), "ref_doc"
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("batch_doc", "ref_doc", "jaccard")
        .orderBy("batch_doc")
    )
