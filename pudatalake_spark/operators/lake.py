"""Lake-maintenance operators (SURVEY §2.11): CDC MERGE/upsert,
SCD2 dimension build, small-file compaction.

These are the table-maintenance verbs a parquet lake needs but plain
Spark (without a table format like Delta/Iceberg) does not ship as
statements; each is expressed as a deterministic DataFrame plan so it
is oracle-checkable.

100 TB posture:
- MERGE = anti-join + union: one shuffle on the merge key. On a
  partitioned lake layout, pair it with dynamic partition overwrite
  (sink_overwrite_dynamic) so only partitions containing touched keys
  are rewritten - the rewrite cost scales with the delta, not the
  table.
- SCD2 = windows partitioned by the business key: one shuffle on
  user_id, then all lag/cumsum/lead run within the partition. Key
  cardinality (users) is high -> no skew; state never leaves the
  executor.
- Compaction reads file-level metadata (listing), never data, to pick
  the output file count; the rewrite itself is one round-robin
  repartition - no key shuffle, so it scales with bytes, not keys.
"""

from __future__ import annotations

import glob
import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..loaders import load, parquet_reader, table
from ..registry import register
from ..sources.ingest import _scratch

MERGE_NEW_KEY_OFFSET = 100_000_000


@register(
    "q_merge_upsert",
    oracle=f"""
    WITH src AS (
      SELECT o_orderkey, o_custkey, 'F' AS o_orderstatus,
             o_totalprice * 1.1 AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + {MERGE_NEW_KEY_OFFSET}, o_custkey, 'O',
             o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 11 = 0
    ),
    merged AS (
      SELECT * FROM src
      UNION ALL
      SELECT * FROM orders
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
    )
    SELECT o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 4) AS total
    FROM merged GROUP BY o_orderstatus
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (CDC apply) on a plain-parquet lake table,
    as the standard anti-join + union rewrite:

      merged = source UNION ALL (target ANTI JOIN source ON key)

    The deterministic CDC source is derived from orders itself: keys
    divisible by 7 are updates (status -> 'F', price * 1.1), keys
    divisible by 11 are inserts (key shifted past the existing range).
    Matched target rows are replaced, unmatched survive, new keys
    append - exactly MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED
    INSERT. The per-row price update is left unrounded (bit-identical
    IEEE multiply on both engines); only the final aggregate rounds.
    """
    o = table(spark, sf_dir, "orders")
    upd = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("F"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
    )
    ins = (
        o.filter(F.col("o_orderkey") % 11 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + MERGE_NEW_KEY_OFFSET)
        .withColumn("o_orderstatus", F.lit("O"))
    )
    src = upd.unionByName(ins)
    merged = src.unionByName(
        o.join(src.select("o_orderkey"), "o_orderkey", "left_anti")
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
    )


# Shared between engine (spark.sql over temp views) and oracle: the
# EP3 pattern (SURVEY §3) - one SQL text, two engines, zero drift.
_SCD2_SQL = """
    WITH e AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_type IS NULL OR prev_type <> event_type
                     THEN 1 ELSE 0 END AS chg
      FROM e
    ),
    runs AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS run_id
      FROM flagged
    ),
    scd AS (
      SELECT user_id, event_type, run_id,
             min(ts) AS valid_from, count(*) AS n_events
      FROM runs GROUP BY user_id, event_type, run_id
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, run_id) AS valid_to,
           n_events,
           CASE WHEN lead(valid_from) OVER (PARTITION BY user_id
                                            ORDER BY valid_from, run_id)
                     IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM scd
"""


@register("q_scd2_build", oracle=_SCD2_SQL)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build from an event log: per
    user, consecutive runs of the same event_type collapse to one
    validity interval [valid_from, valid_to) with the current row
    open-ended (valid_to NULL, is_current=1).

    Gaps-and-islands: lag() flags changes, a running sum over the
    flags numbers the runs, a group-by collapses each run, lead()
    closes each interval with the next run's start. Ties on ts break
    by event_id so the run numbering is a pure function of the data.
    The engine executes the SAME SQL text as the DuckDB oracle over
    the registered temp views (EP3, SURVEY §3).
    """
    load(spark, sf_dir)  # registers the events temp view
    return spark.sql(_SCD2_SQL)


TARGET_FILE_BYTES = 4 * 1024 * 1024  # local-fixture target; 128 MB in prod


@register("q_compact_small_files")  # sink-like -> rows-only check
def q_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: take a fragmented layout (64 tiny files,
    the classic streaming-ingest pathology), size the compacted layout
    from file-listing metadata (bytes / target-file-size), and rewrite
    with a round-robin repartition - no key shuffle, cost scales with
    bytes moved, and row-group-sized output files restore scan
    efficiency (footer count and task count drop 64x).

    The output reports the before/after file counts plus row-count and
    key-cardinality checks proving compaction lost nothing. File sizes
    come from a local listing here; on a cluster the same numbers come
    from the FileSystem API or the lake's file-metadata table - either
    way metadata-only, never a data read.
    """
    frag = _scratch("lake", "events_fragmented")
    compact = _scratch("lake", "events_compacted")
    ev = table(spark, sf_dir, "events")
    ev.repartition(64).write.mode("overwrite").parquet(frag)

    files = glob.glob(os.path.join(frag, "*.parquet"))
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total_bytes / TARGET_FILE_BYTES))
    spark.read.schema(ev.schema).parquet(frag).repartition(n_out).write.mode(
        "overwrite"
    ).parquet(compact)

    back = spark.read.schema(ev.schema).parquet(compact)
    n_files_after = len(glob.glob(os.path.join(compact, "*.parquet")))
    return back.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("n_event_ids"),
        F.lit(len(files)).alias("files_before"),
        F.lit(n_files_after).alias("files_after"),
    )


@register(
    "q_delete_keys",
    oracle="""
    WITH erased AS (
      SELECT DISTINCT user_id FROM events
      WHERE (user_id * 2654435761 + 1013904223) % 1000000007 % 100 < 5
    )
    SELECT event_type, count(*) AS n_remaining,
           count(DISTINCT e.user_id) AS n_users_remaining
    FROM events e ANTI JOIN erased x ON e.user_id = x.user_id
    GROUP BY event_type
    """,
)
def q_delete_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure (GDPR-style) delete: purge every event of a
    deletion list of users (here a deterministic 5% hash cohort
    standing in for the request queue) as one anti join, returning
    the post-delete audit counts.

    Scale shape: the deletion list is small -> broadcast anti join,
    no shuffle of the fact table. On the lake this pairs with
    partition-scoped rewrite (sink_overwrite_dynamic): only
    partitions containing an erased key are rewritten, found by a
    metadata-cheap semi join on the partition column first - erasure
    cost scales with the cohort's footprint, not the table."""
    ev = table(spark, sf_dir, "events")
    erased = (
        ev.select("user_id")
        .filter(
            (F.col("user_id") * 2654435761 + 1013904223) % 1000000007 % 100 < 5
        )
        .distinct()
    )
    return (
        ev.join(F.broadcast(erased), "user_id", "left_anti")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_remaining"),
            F.countDistinct("user_id").alias("n_users_remaining"),
        )
    )


@register(
    "q_snapshot_diff",
    oracle=f"""
    WITH new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey + {MERGE_NEW_KEY_OFFSET}, 'O', o_totalprice
      FROM orders WHERE o_orderkey % 11 = 0
    ),
    old AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
    diff AS (
      SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                  WHEN n.o_orderkey IS NULL THEN 'delete'
                  WHEN n.o_totalprice <> o.o_totalprice
                       OR n.o_orderstatus <> o.o_orderstatus THEN 'update'
                  ELSE 'unchanged' END AS change
      FROM new n FULL JOIN old o ON n.o_orderkey = o.o_orderkey
    )
    SELECT change, count(*) AS n FROM diff GROUP BY change
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / change-data-feed generation: compare two table
    versions (the new one derived deterministically: every 13th key
    deleted, every 7th repriced, every 11th re-inserted under a new
    key) and classify each key as insert/delete/update/unchanged -
    the diff a lake without a table format computes to feed downstream
    CDC consumers.

    Scale shape: ONE full outer join on the key - both snapshots
    shuffle once; with both snapshots bucketed on the key
    (q_join_bucketed's layout) the diff is shuffle-free. Compare
    column-by-column (or a precomputed row hash at width) so
    'unchanged' rows are dropped before anything downstream runs."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        o.filter(F.col("o_orderkey") % 13 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 1.1
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 11 == 0).select(
                (F.col("o_orderkey") + MERGE_NEW_KEY_OFFSET).alias("o_orderkey"),
                F.lit("O").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
    )
    n, old = new.alias("n"), o.alias("o")
    diff = n.join(
        old, F.col("n.o_orderkey") == F.col("o.o_orderkey"), "full"
    ).select(
        F.when(F.col("o.o_orderkey").isNull(), "insert")
        .when(F.col("n.o_orderkey").isNull(), "delete")
        .when(
            (F.col("n.o_totalprice") != F.col("o.o_totalprice"))
            | (F.col("n.o_orderstatus") != F.col("o.o_orderstatus")),
            "update",
        )
        .otherwise("unchanged")
        .alias("change")
    )
    return diff.groupBy("change").agg(F.count("*").alias("n"))


@register(
    "q_rollup_incremental",
    oracle="""
    WITH base AS (
      SELECT date_trunc('day', ts) AS day, event_type,
             count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts < TIMESTAMP '2024-01-25' GROUP BY 1, 2
    ),
    delta AS (
      SELECT date_trunc('day', ts) AS day, event_type,
             count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts >= TIMESTAMP '2024-01-25' GROUP BY 1, 2
    )
    SELECT day, event_type,
           CAST(sum(n) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS cents
    FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
    GROUP BY day, event_type
    """,
)
def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance (continuous-aggregate refresh):
    merge a new slice's partial aggregate into an existing rollup by
    re-aggregating the union of the two aggregate tables - never
    re-scanning the already-rolled-up history. Works because count and
    sum are commutative monoids; avg is maintained as (sum, count)
    pairs and finalized at read.

    Scale shape: the delta agg touches only the new partition's bytes;
    the merge shuffles |rollup| + |delta| AGGREGATE rows (days x
    types, thousands), not raw events - refresh cost is O(delta +
    rollup size), independent of history length. The oracle recomputes
    the same split to prove merge == full recompute."""
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    cutoff = F.lit("2024-01-25").cast("timestamp")

    def agg(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.date_trunc("day", "ts").alias("day"),
                "event_type",
                cents.alias("c"),
            )
            .groupBy("day", "event_type")
            .agg(F.count("*").alias("n"), F.sum("c").alias("cents"))
        )

    base = agg(e.filter(F.col("ts") < cutoff))
    delta = agg(e.filter(F.col("ts") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    )


@register(
    "q_diag_skew",
    oracle="""
    WITH per_key AS (
      SELECT l_suppkey, count(*) AS n_rows
      FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT sum(n_rows) AS total, count(*) AS n_keys FROM per_key),
    ranked AS (
      SELECT l_suppkey, n_rows,
             row_number() OVER (ORDER BY n_rows DESC, l_suppkey) AS rk
      FROM per_key
    )
    SELECT rk, l_suppkey, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_rows AS DOUBLE) / total AS share,
           round(CAST(n_rows AS DOUBLE) * n_keys / total, 4) AS skew_factor
    FROM ranked, tot
    WHERE rk <= 10
    """,
)
def q_diag_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostic for a prospective join/agg key: the 10
    heaviest l_suppkey groups with their share of all rows and their
    skew factor (rows / mean-rows-per-key; ~1 = uniform, >> 1 = the
    keys that make a shuffle partition straggle). This is the
    measurement that decides between a plain shuffle join, a salted
    join (q_join_skew_salted), or AQE skew splitting - run it BEFORE
    the 100 TB job, on a sample or the full table.

    Plan shape: one two-phase count agg (the same work the shuffle
    itself would do, so the diagnostic is never more expensive than
    one pass), totals ride along as a broadcast 1-row aggregate,
    top-10 via rank filter.
    """
    li = table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_suppkey").agg(F.count("*").alias("n_rows"))
    tot = per_key.agg(
        F.sum("n_rows").alias("total"), F.count("*").alias("n_keys")
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.orderBy(F.col("n_rows").desc(), F.col("l_suppkey"))
    )
    return (
        per_key.withColumn("rk", rk)
        .filter(F.col("rk") <= 10)
        .crossJoin(tot)
        .select(
            "rk",
            "l_suppkey",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            (F.col("n_rows").cast("double") / F.col("total")).alias("share"),
            F.round(
                F.col("n_rows").cast("double") * F.col("n_keys") / F.col("total"),
                4,
            ).alias("skew_factor"),
        )
    )


@register("q_lake_manifest")  # paths are environment-local -> rows-only
def q_lake_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake file manifest from the scan's hidden ``_metadata`` struct
    (file path / size / modification time) - the table-maintenance
    view behind compaction planning (q_compact_small_files sizes its
    output from exactly this): rows and bytes per physical file, plus
    each file's share of the table.

    Plan shape: metadata columns are populated by the scan itself -
    no extra I/O pass; one small agg per file. The scan declares the
    schema read from the file's footer (``parquet_reader``), so the
    build runs no job. Rows-only (paths are machine-local), but
    deterministic per environment."""
    li = parquet_reader(spark)(f"{sf_dir.rstrip('/')}/lineitem.parquet")
    per_file = (
        li.select(
            F.col("_metadata.file_name").alias("file_name"),
            F.col("_metadata.file_size").alias("file_size"),
        )
        .groupBy("file_name", "file_size")
        .agg(F.count("*").alias("n_rows"))
    )
    tot = per_file.agg(F.sum("n_rows").alias("total_rows"))
    return (
        per_file.crossJoin(tot)
        .select(
            "file_name",
            F.col("file_size").cast("bigint").alias("file_size"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            (F.col("n_rows").cast("double") / F.col("total_rows")).alias(
                "row_share"
            ),
        )
        .orderBy("file_name")
    )


@register(
    "q_join_pit_scd2",
    oracle=f"""
    WITH scd AS ({_SCD2_SQL}),
    -- the dimension is the NON-purchase activity states: a purchase
    -- always sits inside its own 'purchase' run, so containment
    -- against the full dim degenerates to one state; the business
    -- question is "what was the user doing BEFORE converting"
    dim AS (SELECT * FROM scd WHERE event_type <> 'purchase'),
    p AS (
        SELECT user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ),
    matched AS (
        SELECT p.user_id, p.ts, p.value,
               max_by(d.event_type, d.valid_from) AS state
        FROM p
        JOIN dim d ON p.user_id = d.user_id AND d.valid_from <= p.ts
        GROUP BY p.user_id, p.ts, p.value
    )
    SELECT state,
           count(*) AS n_purchases,
           round(sum(value), 4) AS revenue
    FROM matched
    GROUP BY state
    """,
)
def q_join_pit_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of a fact stream against the SCD2 dimension:
    each purchase is attributed to the LATEST NON-purchase activity
    state at or before the purchase timestamp (the purchase's own run
    always contains it, so the full-dim containment degenerates to
    one state - probed: 1 row; the prior-state question "what was
    the user doing before converting" is the informative PIT form),
    then revenue rolls up by state - the warehouse pattern for
    joining facts to slowly-changing dims without leaking future
    attribute values.

    Scale shape: the filtered SCD2 dim's intervals still order each
    key's timeline, so latest-at-or-before is EXACTLY a backward
    as-of join on valid_from - executed through the shared asof_join
    utility (ONE shuffle on user_id + one sort, never interval-pair
    expansion). The oracle states the same semantics as a per-fact
    max_by over qualifying versions. Cites q_scd2_build (lake.py:135)
    for the dimension and asof.py for the join engine.
    """
    load(spark, sf_dir)  # registers the events temp view for the SQL
    from .asof import asof_join

    scd = (
        spark.sql(_SCD2_SQL)
        .filter(F.col("event_type") != "purchase")
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            "valid_from",
        )
    )
    purchases = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "value")
    )
    matched = asof_join(
        purchases,
        scd,
        on="user_id",
        left_ts="ts",
        right_ts="valid_from",
        payload=["state"],
    )
    return (
        matched.filter(F.col("state").isNotNull())
        .groupBy("state")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("revenue"),
        )
    )


@register(
    "q_lake_changelog_apply",
    oracle="""
    WITH log AS (
        SELECT o_custkey AS key,
               CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END AS op,
               o_totalprice AS price,
               lpad(CAST(epoch_us(o_orderdate) AS VARCHAR), 20, '0')
                 || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS seq
        FROM orders
    ),
    latest AS (
        SELECT key,
               arg_max(op, seq) AS last_op,
               round(arg_max(price, seq), 4) AS last_price,
               count(*) AS n_changes
        FROM log GROUP BY key
    )
    SELECT key, round(last_price, 4) AS last_price,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM latest WHERE last_op <> 'D'
    """,
)
def q_lake_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered CDC changelog apply: replay an insert/update/delete
    log (orders as the log; 'P' status = tombstone) and materialize
    the LATEST surviving row per key - the Debezium-feed / CDC-merge
    semantics that q_merge_upsert (single upsert batch) and
    q_delete_keys (erasure set) each cover half of. A key whose
    final record is a delete is ABSENT from the result even if
    earlier updates exist; out-of-order arrival is handled because
    latest-wins is decided by the (event-time, unique-id) sequence
    key, not file order.

    Scale shape: ONE hash aggregate (max_by per column on the
    zero-padded sequence key - the q_agg_argmax convention, unique by
    construction so ties are impossible) replaces the sort+window
    formulation; map-side partials keep only one candidate per key
    per partition. Deletes filter AFTER the argmax - a tombstone
    must supersede earlier updates, never be filtered out first.
    """
    o = table(spark, sf_dir, "orders")
    seq = F.concat(
        F.lpad(F.unix_micros(F.col("o_orderdate")).cast("string"), 20, "0"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
    )
    log = o.select(
        F.col("o_custkey").alias("key"),
        F.when(F.col("o_orderstatus") == "P", "D").otherwise("U").alias("op"),
        F.col("o_totalprice").alias("price"),
        seq.alias("seq"),
    )
    latest = log.groupBy("key").agg(
        F.max_by("op", F.col("seq")).alias("last_op"),
        F.round(F.max_by("price", F.col("seq")), 4).alias("last_price"),
        F.count("*").alias("n_changes"),
    )
    return (
        latest.filter(F.col("last_op") != "D")
        .select(
            "key",
            F.round("last_price", 4).alias("last_price"),
            F.col("n_changes").cast("bigint").alias("n_changes"),
        )
    )


BLOOM_IDX_BITS = 63  # stay below the sign bit of int64
BLOOM_IDX_A1, BLOOM_IDX_B1 = 2654435761, 1013904223
BLOOM_IDX_A2, BLOOM_IDX_B2 = 2246822519, 3266489917
BLOOM_IDX_P = 1_000_000_007


@register(
    "q_lake_bloom_index",
    oracle=f"""
    WITH sig AS (
      SELECT event_type,
             CAST(bit_or(
               (1::BIGINT << CAST((user_id * {BLOOM_IDX_A1}
                  + {BLOOM_IDX_B1}) % {BLOOM_IDX_P}
                  % {BLOOM_IDX_BITS} AS INTEGER))
               | (1::BIGINT << CAST((user_id * {BLOOM_IDX_A2}
                  + {BLOOM_IDX_B2}) % {BLOOM_IDX_P}
                  % {BLOOM_IDX_BITS} AS INTEGER))) AS BIGINT) AS sig
      FROM events GROUP BY event_type
    ),
    members AS (
      SELECT user_id FROM events GROUP BY user_id
      ORDER BY user_id LIMIT 3
    ),
    ghosts AS (
      SELECT max(user_id) + 1 AS user_id FROM events
      UNION ALL SELECT max(user_id) + 2 FROM events
    ),
    probes AS (
      SELECT user_id FROM members UNION ALL SELECT user_id FROM ghosts
    ),
    truth AS (
      SELECT DISTINCT event_type, user_id FROM events
    )
    SELECT s.event_type, p.user_id AS probe_user,
           (s.sig & ((1::BIGINT << CAST((p.user_id * {BLOOM_IDX_A1}
                + {BLOOM_IDX_B1}) % {BLOOM_IDX_P}
                % {BLOOM_IDX_BITS} AS INTEGER))
              | (1::BIGINT << CAST((p.user_id * {BLOOM_IDX_A2}
                + {BLOOM_IDX_B2}) % {BLOOM_IDX_P}
                % {BLOOM_IDX_BITS} AS INTEGER))))
           = ((1::BIGINT << CAST((p.user_id * {BLOOM_IDX_A1}
                + {BLOOM_IDX_B1}) % {BLOOM_IDX_P}
                % {BLOOM_IDX_BITS} AS INTEGER))
              | (1::BIGINT << CAST((p.user_id * {BLOOM_IDX_A2}
                + {BLOOM_IDX_B2}) % {BLOOM_IDX_P}
                % {BLOOM_IDX_BITS} AS INTEGER)))
               AS maybe_contains,
           t.user_id IS NOT NULL AS actually_contains
    FROM sig s CROSS JOIN probes p
    LEFT JOIN truth t
      ON t.event_type = s.event_type AND t.user_id = p.user_id
    ORDER BY s.event_type, p.user_id
    """,
)
def q_lake_bloom_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level Bloom index: one 63-bit, 2-hash Bloom
    signature per event_type partition over its user_id set, then a
    probe of 3 known members + 2 out-of-range ghosts showing the
    skip decision next to ground truth - the secondary-index /
    file-skipping pattern (a real lake stores the signature per
    FILE in the manifest; the maybe_contains=false partitions are
    never opened). Bloom guarantees no false negatives; ghosts MAY
    false-positive, which the paired actually_contains column makes
    visible instead of hiding.

    Scale shape: the signature build is ONE map-side-combinable
    bit_or aggregate (the q_agg_bitmap_distinct discipline - 1 row
    per partition moves, never the keyspace); the probe set is a
    bounded data-derived frame broadcast against the |partitions|-row
    signature table; membership truth is a distinct-pair LEFT join.
    The affine-mod-prime double hash is plain integer arithmetic,
    identical in both engines.
    """
    e = table(spark, sf_dir, "events")

    def mask(colname: str):
        # shiftleft needs a column shift amount -> SQL expression
        # (the Python API only takes int literals).
        def one(a, b):
            return (
                f"shiftleft(CAST(1 AS BIGINT), CAST(({colname} * {a} + {b})"
                f" % {BLOOM_IDX_P} % {BLOOM_IDX_BITS} AS INT))"
            )

        return F.expr(
            f"{one(BLOOM_IDX_A1, BLOOM_IDX_B1)} | {one(BLOOM_IDX_A2, BLOOM_IDX_B2)}"
        )

    sig = e.groupBy("event_type").agg(
        F.bit_or(mask("user_id")).cast("bigint").alias("sig")
    )
    members = (
        e.select("user_id").distinct().orderBy("user_id").limit(3)
    )
    mx = e.agg(F.max("user_id").alias("mx"))
    ghosts = mx.select((F.col("mx") + 1).alias("user_id")).unionAll(
        mx.select((F.col("mx") + 2).alias("user_id"))
    )
    probes = members.unionAll(ghosts)
    truth = (
        e.select(
            F.col("event_type").alias("t_type"),
            F.col("user_id").alias("t_user"),
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    pmask = mask("probe_user")
    return (
        sig.crossJoin(
            probes.select(F.col("user_id").alias("probe_user"))
        )
        .join(
            truth,
            (F.col("event_type") == F.col("t_type"))
            & (F.col("probe_user") == F.col("t_user")),
            "left",
        )
        .select(
            "event_type",
            "probe_user",
            ((F.col("sig").bitwiseAND(pmask)) == pmask).alias(
                "maybe_contains"
            ),
            F.col("hit").isNotNull().alias("actually_contains"),
        )
        .orderBy("event_type", "probe_user")
    )


ZM_ROWS_PER_FILE = 1000      # synthetic file size for the zone maps
ZM_LO_CENTS = 20_000_000     # predicate: $200,000.00 ..
ZM_HI_CENTS = 21_000_000     # .. $210,000.00


@register(
    "q_lake_zonemap_prune",
    oracle=f"""
    WITH x AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             o_orderdate, o_orderkey
      FROM orders
    ),
    files AS (
      SELECT 'date_clustered' AS layout,
             (row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1)
               // {ZM_ROWS_PER_FILE} AS file_id,
             cents
      FROM x
      UNION ALL
      SELECT 'value_sorted' AS layout,
             (row_number() OVER (ORDER BY cents, o_orderkey) - 1)
               // {ZM_ROWS_PER_FILE} AS file_id,
             cents
      FROM x
    ),
    zones AS (
      SELECT layout, file_id,
             min(cents) AS zmin, max(cents) AS zmax,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM files GROUP BY layout, file_id
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN zmax < {ZM_LO_CENTS}
                         OR zmin > {ZM_HI_CENTS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_files_skipped,
           CAST(sum(CASE WHEN zmax < {ZM_LO_CENTS}
                         OR zmin > {ZM_HI_CENTS} THEN 0 ELSE n_rows END)
                AS BIGINT) AS rows_scanned
    FROM zones GROUP BY layout
    """,
)
def q_lake_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (per-file min/max) skipping simulator: lay orders out
    into 1000-row (ZM_ROWS_PER_FILE) files under two clusterings -
    date-clustered (the natural ingest order) and value-sorted - and
    report how many files a BETWEEN predicate on order value could
    skip under each, plus the rows actually scanned. The measured
    counterpart of sink_zorder_cluster: it QUANTIFIES why layout
    choice matters before paying for a rewrite (the same min/max
    stats parquet footers carry and Spark's scan pruning consumes).

    Exactness: file assignment is row_number over a TOTAL order
    (tie-broken by o_orderkey) then integer floor-division, so zones
    are identical in both engines; skip decisions are pure integer
    comparisons.

    Scale shape: the file-id windows here are SINGLE-TASK global
    sorts (unpartitioned row_number) - kept deliberately, and
    exempted in the plan audit, because they only SIMULATE the
    sorted file layout so the oracle can check zone stats. At 100 TB
    neither sort exists: a real writer lays files out with
    DataFrame.orderBy (range-partitioned), zone stats come FREE from
    parquet footers (one metadata read per file), and this
    operator's agg runs over the stats table - the plan here
    exercises the same decision arithmetic end-to-end.
    """
    o = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderdate",
        "o_orderkey",
    )
    fid_date = F.expr(
        f"(row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1)"
        f" div {ZM_ROWS_PER_FILE}"
    )
    fid_val = F.expr(
        f"(row_number() OVER (ORDER BY cents, o_orderkey) - 1)"
        f" div {ZM_ROWS_PER_FILE}"
    )
    files = o.select(
        F.lit("date_clustered").alias("layout"),
        fid_date.alias("file_id"),
        "cents",
    ).unionAll(
        o.select(
            F.lit("value_sorted").alias("layout"),
            fid_val.alias("file_id"),
            "cents",
        )
    )
    zones = files.groupBy("layout", "file_id").agg(
        F.min("cents").alias("zmin"),
        F.max("cents").alias("zmax"),
        F.count("*").cast("bigint").alias("n_rows"),
    )
    skipped = (F.col("zmax") < ZM_LO_CENTS) | (F.col("zmin") > ZM_HI_CENTS)
    return zones.groupBy("layout").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum(F.when(skipped, 1).otherwise(0)).cast("bigint")
          .alias("n_files_skipped"),
        F.sum(F.when(skipped, 0).otherwise(F.col("n_rows"))).cast("bigint")
          .alias("rows_scanned"),
    )


IVM_CUTOFF = "1997-06-01"  # orders on/after this date form the delta


@register(
    "q_lake_incremental_agg",
    oracle=f"""
    SELECT o_custkey AS custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders
    GROUP BY o_custkey
    ORDER BY custkey
    """,
)
def q_lake_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the per-
    customer order rollup is kept as a stored partial-aggregate
    table (count, sum) built from history BEFORE the cutoff; when a
    delta batch (orders on/after the cutoff) arrives, the view is
    refreshed by aggregating ONLY the delta and merging partials -
    union + re-aggregate, the algebra every IVM engine
    (Materialize, Delta MVs, Druid rollup segments) relies on for
    COMMUTATIVE-MONOID aggregates (count/sum/min/max; avg as
    sum+count; NOT median). The oracle recomputes the rollup from
    the FULL table, so the hash match PROVES merge(base, delta) ==
    recompute(all) - the correctness obligation of the maintenance
    path itself.

    Exactness: both partials carry int64 (count, cent-sum) pairs;
    the merge is integer addition - no float surface at all.

    Scale shape: the refresh cost is ONE two-phase agg over the
    DELTA partition only (partition-pruned scan; the date predicate
    reaches the reader) plus a merge shuffled by the view key - at
    100 TB the base table is never rescanned, which is the entire
    point; the simulated base agg here stands in for reading the
    stored view's partials.
    """
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
    )
    cutoff = F.lit(IVM_CUTOFF).cast("date")
    base = (
        o.filter(F.col("d") < cutoff)
        .groupBy("custkey")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )
    delta = (
        o.filter(F.col("d") >= cutoff)
        .groupBy("custkey")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )
    return (
        base.unionAll(delta)
        .groupBy("custkey")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("total_cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("custkey")
    )


@register(
    "q_quality_expectations",
    oracle="""
    WITH checks AS (
      SELECT 'orders' AS tbl, 'orderkey_unique' AS rule,
             CAST(count(*) AS BIGINT) AS n_checked,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
                 AS n_violations
      FROM orders
      UNION ALL
      SELECT 'orders', 'totalprice_positive', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)
                  AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders', 'orderdate_in_range', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN o_orderdate BETWEEN DATE '1992-01-01'
                                AND DATE '1998-12-31'
                           THEN 0 ELSE 1 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders', 'orderstatus_in_set', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN o_orderstatus IN ('F', 'O', 'P')
                           THEN 0 ELSE 1 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'lineitem', 'orderkey_fk_resolves',
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL
      SELECT 'lineitem', 'quantity_in_range', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50
                           THEN 0 ELSE 1 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'events', 'user_id_not_null', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM events
    )
    SELECT tbl, rule, n_checked, n_violations,
           CAST(n_violations AS DOUBLE) / nullif(n_checked, 0)
               AS violation_rate,
           CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS passed
    FROM checks ORDER BY tbl, rule
    """,
)
def q_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (the Great
    Expectations / dbt-test shape) over the lake tables: uniqueness
    (orders.o_orderkey), range (o_totalprice > 0, o_orderdate in the
    TPC-H window, l_quantity in [1,50]), set membership
    (o_orderstatus), referential integrity (every l_orderkey
    resolves), and not-null (events.user_id) - one summary row per
    rule with checked/violation counts, the violation rate and a
    pass flag, i.e. the audit artifact a pipeline gate consumes
    before promoting a batch.

    Exactness: every check is an int64 count; violation_rate is ONE
    integer division, unrounded.

    Scale shape: each single-table rule is ONE map-side-combining
    conditional agg over its scan (column-pruned to the checked
    columns); uniqueness rides count distinct (two-phase, exact);
    the FK rule is a LEFT ANTI join shuffled on the key (AQE
    broadcasts when the dim fits; at 100 TB both sides bucket on
    orderkey and the probe is shuffle-free). The 7-row result
    unions bounded aggregates - no fact-table row survives the
    checks.
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    e = table(spark, sf_dir, "events")

    def _chk(df, tbl, rule, good):
        # CASE WHEN good THEN 0 ELSE 1, mirroring the oracle exactly:
        # a NULL comparison falls to ELSE and COUNTS as a violation
        # (an unassessable row must fail a gate, not sneak past it).
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(rule).alias("rule"),
            F.count("*").cast("bigint").alias("n_checked"),
            F.sum(F.when(good, 0).otherwise(1)).cast("bigint").alias(
                "n_violations"
            ),
        ).select("tbl", "rule", "n_checked", "n_violations")

    uniq = o.agg(
        F.lit("orders").alias("tbl"),
        F.lit("orderkey_unique").alias("rule"),
        F.count("*").cast("bigint").alias("n_checked"),
        (F.count("*") - F.count_distinct(F.col("o_orderkey")))
        .cast("bigint")
        .alias("n_violations"),
    ).select("tbl", "rule", "n_checked", "n_violations")
    fk_total = li.agg(F.count("*").cast("bigint").alias("n_checked"))
    fk_bad = (
        li.select("l_orderkey")
        .join(
            o.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count("*").cast("bigint").alias("n_violations"))
    )
    fk = fk_total.crossJoin(fk_bad).select(
        F.lit("lineitem").alias("tbl"),
        F.lit("orderkey_fk_resolves").alias("rule"),
        "n_checked",
        "n_violations",
    )
    checks = (
        uniq.unionAll(
            _chk(o, "orders", "totalprice_positive",
                 F.col("o_totalprice") > 0)
        )
        .unionAll(
            _chk(
                o, "orders", "orderdate_in_range",
                F.col("o_orderdate").between("1992-01-01", "1998-12-31"),
            )
        )
        .unionAll(
            _chk(o, "orders", "orderstatus_in_set",
                 F.col("o_orderstatus").isin("F", "O", "P"))
        )
        .unionAll(fk)
        .unionAll(
            _chk(li, "lineitem", "quantity_in_range",
                 F.col("l_quantity").between(1, 50))
        )
        .unionAll(
            _chk(e, "events", "user_id_not_null",
                 F.col("user_id").isNotNull())
        )
    )
    return checks.select(
        "tbl",
        "rule",
        "n_checked",
        "n_violations",
        (
            F.col("n_violations").cast("double")
            / F.nullif(F.col("n_checked"), F.lit(0))
        ).alias("violation_rate"),
        F.when(F.col("n_violations") == 0, 1).otherwise(0).alias("passed"),
    ).orderBy("tbl", "rule")


WAP_CUTOFF = "1997-06-01"  # batch = orders on/after this date


@register("q_lake_wap_publish")  # filesystem writes -> rows-only
def q_lake_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (the Iceberg/Netflix WAP pattern, the
    branch-and-merge release flow lakehouses use instead of
    in-place writes): a new order batch lands in a STAGING
    location, the q_quality_expectations-style audit runs AGAINST
    STAGING ONLY (uniqueness in-batch, positive totals, FK into the
    published customer dim), and the batch is atomically published
    - here a directory swap standing in for Iceberg's
    branch-fast-forward - ONLY if every rule passes. Output: one
    row per audit rule plus a `published` decision row, i.e. the
    release record an orchestrator consumes.

    Rows-only BY DESIGN (filesystem effects; the audit algebra
    itself is oracled under q_quality_expectations). Idempotent:
    staging and published locations are overwritten per run.

    Scale shape: staging write is the batch's own partition
    (append-scale, not table-scale); every audit rule is a
    column-pruned agg or anti-join over STAGING only - the
    published table is touched ONLY by the FK broadcast probe. The
    publish itself is a metadata move (directory rename / snapshot
    commit), never a rewrite. 100 TB: the audit cost tracks batch
    size, which is the entire point of WAP.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    batch = o.filter(F.col("o_orderdate") >= F.lit(WAP_CUTOFF).cast("date"))
    staging = _scratch("lake", "wap_staging")
    published = _scratch("lake", "wap_published")
    batch.write.mode("overwrite").parquet(staging)
    staged = spark.read.schema(o.schema).parquet(staging)

    uniq = staged.agg(
        F.lit("orderkey_unique_in_batch").alias("rule"),
        F.count("*").cast("bigint").alias("n_checked"),
        (F.count("*") - F.count_distinct(F.col("o_orderkey")))
        .cast("bigint")
        .alias("n_violations"),
    )
    pos = staged.agg(
        F.lit("totalprice_positive").alias("rule"),
        F.count("*").cast("bigint").alias("n_checked"),
        F.sum(F.when(F.col("o_totalprice") > 0, 0).otherwise(1))
        .cast("bigint")
        .alias("n_violations"),
    )
    fk_n = staged.agg(F.count("*").cast("bigint").alias("n_checked"))
    fk_bad = (
        staged.select("o_custkey")
        .join(
            c.select("c_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count("*").cast("bigint").alias("n_violations"))
    )
    fk = fk_n.crossJoin(fk_bad).select(
        F.lit("custkey_fk_resolves").alias("rule"),
        "n_checked",
        "n_violations",
    )
    audit = uniq.unionAll(pos).unionAll(fk)
    rows = audit.collect()  # bounded: 3 audit rows, the WAP decision
    ok = all(r.n_violations == 0 for r in rows)
    if ok:
        staged.write.mode("overwrite").parquet(published)
    decision = spark.createDataFrame(
        [(r.rule, r.n_checked, r.n_violations, int(ok)) for r in rows]
        + [
            (
                "published",
                rows[0].n_checked,
                sum(r.n_violations for r in rows),
                int(ok),
            )
        ],
        "rule string, n_checked long, n_violations long, published int",
    )
    return decision.orderBy("rule")


CLONE_CUTOFF = "1997-06-01"  # v1 = orders before; v2 appends the rest


@register("q_lake_clone_shallow")  # filesystem manifests -> rows-only
def q_lake_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy SHALLOW CLONE with snapshot isolation (the Delta
    CLONE / Iceberg snapshot-ref semantics): v1 of an orders table
    is written once; a clone is created by copying ONLY the
    manifest (the file list - no data files move, asserted by
    construction: the clone directory contains a manifest and zero
    parquet); the SOURCE then appends a v2 batch and commits a new
    manifest. The proof obligations a lakehouse clone must meet -
    (a) the clone still reads exactly v1, (b) the source reads
    v1+v2, (c) data files are SHARED not duplicated - are each
    checked and reported as one row.

    Rows-only BY DESIGN (filesystem manifests are the operator).
    Idempotent per run (all three locations overwritten).

    Scale shape: clone cost is O(manifest), NEVER O(data) - the
    entire point; reads resolve the manifest to a file list and
    hand Spark an explicit parquet path set, which is how
    manifest-based tables turn time travel into plain pruned scans
    (same mechanism as q_lake_manifest / q_snapshot).
    """
    import json as _json

    base_dir = _scratch("lake", "clone_src")
    clone_dir = _scratch("lake", "clone_ref")
    o = table(spark, sf_dir, "orders")
    cutoff = F.lit(CLONE_CUTOFF).cast("date")
    v1 = o.filter(F.col("o_orderdate") < cutoff)
    v2 = o.filter(F.col("o_orderdate") >= cutoff)

    d1 = os.path.join(base_dir, "data_v1")
    v1.write.mode("overwrite").parquet(d1)
    files_v1 = sorted(glob.glob(os.path.join(d1, "*.parquet")))
    with open(os.path.join(base_dir, "manifest.json"), "w") as f:
        _json.dump({"version": 1, "files": files_v1}, f)

    # SHALLOW clone: copy the manifest text, not one data byte.
    os.makedirs(clone_dir, exist_ok=True)
    with open(os.path.join(clone_dir, "manifest.json"), "w") as f:
        _json.dump({"version": 1, "files": files_v1}, f)

    # Source moves on: append v2 files, commit manifest version 2.
    d2 = os.path.join(base_dir, "data_v2")
    v2.write.mode("overwrite").parquet(d2)
    files_v2 = files_v1 + sorted(glob.glob(os.path.join(d2, "*.parquet")))
    with open(os.path.join(base_dir, "manifest.json"), "w") as f:
        _json.dump({"version": 2, "files": files_v2}, f)

    def _read(manifest_dir):
        with open(os.path.join(manifest_dir, "manifest.json")) as f:
            m = _json.load(f)
        return m["version"], spark.read.schema(o.schema).parquet(
            *m["files"]
        )

    src_ver, src_df = _read(base_dir)
    cl_ver, cl_df = _read(clone_dir)
    n_clone_parquet = len(glob.glob(os.path.join(clone_dir, "*.parquet")))
    checks = [
        ("clone_reads_v1", cl_df.count(), v1.count()),
        ("source_reads_v1_plus_v2", src_df.count(), o.count()),
        ("clone_copied_zero_data_files", n_clone_parquet, 0),
    ]
    return spark.createDataFrame(
        [
            (rule, int(got), int(want), int(got == want))
            for rule, got, want in checks
        ]
        + [("source_manifest_version", src_ver, 2, int(src_ver == 2)),
           ("clone_manifest_version", cl_ver, 1, int(cl_ver == 1))],
        "check string, observed long, expected long, ok int",
    ).orderBy("check")


@register(
    "q_lake_analyze_stats",
    oracle="""
    WITH s AS (
      SELECT 'o_custkey' AS col,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(o_custkey) AS BIGINT) AS n_nonnull,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv,
             CAST(min(o_custkey) AS VARCHAR) AS min_v,
             CAST(max(o_custkey) AS VARCHAR) AS max_v,
             8.0 AS avg_width
      FROM orders
      UNION ALL
      SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
             CAST(count(o_orderdate) AS BIGINT),
             CAST(count(DISTINCT o_orderdate) AS BIGINT),
             CAST(min(o_orderdate) AS VARCHAR),
             CAST(max(o_orderdate) AS VARCHAR), 4.0
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
             CAST(count(o_orderstatus) AS BIGINT),
             CAST(count(DISTINCT o_orderstatus) AS BIGINT),
             CAST(min(o_orderstatus) AS VARCHAR),
             CAST(max(o_orderstatus) AS VARCHAR),
             (SELECT avg(length(o_orderstatus)) FROM orders)
      FROM orders
      UNION ALL
      SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
             CAST(count(o_totalprice) AS BIGINT),
             CAST(count(DISTINCT o_totalprice) AS BIGINT),
             CAST(CAST(round(min(o_totalprice) * 100, 0) AS BIGINT)
                  AS VARCHAR),
             CAST(CAST(round(max(o_totalprice) * 100, 0) AS BIGINT)
                  AS VARCHAR), 8.0
      FROM orders
    )
    SELECT col, n_rows, n_nonnull, ndv, min_v, max_v,
           round(avg_width, 4) AS avg_width,
           CAST(n_rows AS DOUBLE) / nullif(ndv, 0) AS rows_per_value
    FROM s ORDER BY col
    """,
)
def q_lake_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE-style column statistics for the cost-based
    optimizer: per column - row count, non-null count, exact NDV,
    min/max (the zone-map bounds), average width, and the derived
    rows-per-distinct-value selectivity a CBO turns into join
    cardinality estimates. This is the statistics-collection pass
    every lakehouse schedules after large writes (Spark's ANALYZE
    TABLE ... COMPUTE STATISTICS FOR COLUMNS, Delta's auto-stats);
    exposing it AS an operator makes the stats themselves testable.

    Exactness: counts/NDV are exact int64 (the production variant
    swaps NDV to HLL - q_agg_approx_distinct is that member);
    numeric min/max are surfaced as exact cents; the only doubles
    are avg string width (4dp round) and the final one-division
    selectivity (unrounded). Column stats stringify through CAST AS
    VARCHAR identically in both engines.

    Scale shape: each column's stats are ONE map-side-combining agg
    over a single-column pruned scan - 4 parallel scans here, one
    combined multi-agg pass in production (documented trade: column
    pruning vs one-pass); NDV is the only shuffle-heavy term and is
    the one that goes approximate at 100 TB.
    """
    o = table(spark, sf_dir, "orders")

    def stat(col, minmax_cents=False, width=None):
        mn, mx = F.min(col), F.max(col)
        if minmax_cents:
            mn = F.round(mn * 100, 0).cast("bigint")
            mx = F.round(mx * 100, 0).cast("bigint")
        w = (
            F.lit(float(width))
            if width is not None
            else F.avg(F.length(col))
        )
        return o.agg(
            F.lit(col).alias("col"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.count(col).cast("bigint").alias("n_nonnull"),
            F.count_distinct(F.col(col)).cast("bigint").alias("ndv"),
            mn.cast("string").alias("min_v"),
            mx.cast("string").alias("max_v"),
            w.alias("avg_width"),
        ).select(
            "col", "n_rows", "n_nonnull", "ndv", "min_v", "max_v",
            "avg_width",
        )

    stats = (
        stat("o_custkey", width=8)
        .unionAll(stat("o_orderdate", width=4))
        .unionAll(stat("o_orderstatus"))
        .unionAll(stat("o_totalprice", minmax_cents=True, width=8))
    )
    return stats.select(
        "col",
        "n_rows",
        "n_nonnull",
        "ndv",
        "min_v",
        "max_v",
        F.round("avg_width", 4).alias("avg_width"),
        (
            F.col("n_rows").cast("double")
            / F.nullif(F.col("ndv"), F.lit(0))
        ).alias("rows_per_value"),
    ).orderBy("col")


MASK_SALT = "mask-v1"  # rotate to re-key the pseudonym space


@register(
    "q_lake_column_mask",
    oracle=f"""
    WITH masked AS (
      SELECT sha256(concat('{MASK_SALT}', c_name)) AS name_token,
             c_custkey // 100 AS key_bucket,
             c_mktsegment,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
      FROM customer
    )
    SELECT c_mktsegment AS seg,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT name_token) AS BIGINT) AS ndv_tokens,
           CAST(count(DISTINCT key_bucket) AS BIGINT) AS ndv_key_bucket,
           CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents
    FROM masked GROUP BY c_mktsegment ORDER BY seg
    """,
)
def q_lake_column_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level masking for governed sharing (the row/column
    security layer every lakehouse puts between raw PII and analyst
    schemas): c_name becomes a SALTED-SHA256 pseudonym (stable
    joins survive, identity does not - rotating the salt re-keys
    the whole pseudonym space), c_custkey is GENERALIZED to a
    100-wide bucket (utility: cohorting stays, the key is gone -
    the k-anonymity generalization primitive q_privacy_kanon
    audits), and the numeric/aggregable columns pass through
    untouched. The output is the governance proof an
    auditor asks for: per segment, the masked view still yields
    exact aggregates (counts, balance totals) while the pseudonym
    NDV equals the customer count (no collision lost identity
    resolution) and the key NDV collapses to the bucket space.

    Determinism: sha256 and substr are bit-identical across
    engines; all aggregates are exact int64. (The redaction-
    pattern sibling on free text is q_text_pii_redact; this member
    is the COLUMN-policy form a catalog enforces.)

    Scale shape: masking is a map-only projection (no shuffle, no
    Python - sha256 is a JVM codegen'd expression); the audit agg
    is one two-phase pass. 100 TB: identical; policy application
    cost is the scan itself.
    """
    c = table(spark, sf_dir, "customer")
    masked = c.select(
        F.sha2(F.concat(F.lit(MASK_SALT), F.col("c_name")), 256).alias(
            "name_token"
        ),
        F.expr("c_custkey div 100").alias("key_bucket"),
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias(
            "bal_cents"
        ),
    )
    return (
        masked.groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.count_distinct(F.col("name_token"))
            .cast("bigint")
            .alias("ndv_tokens"),
            F.count_distinct(F.col("key_bucket"))
            .cast("bigint")
            .alias("ndv_key_bucket"),
            F.sum("bal_cents").cast("bigint").alias("total_bal_cents"),
        )
        .orderBy("seg")
    )


DV_ERASE_MOD = 13  # delete ~1/13 of rows by key hash


@register(
    "q_lake_deletion_vectors",
    oracle=f"""
    WITH alive AS (
      SELECT * FROM orders
      WHERE ((o_orderkey * 2654435761 + 1013904223) % 1000000007)
            % {DV_ERASE_MOD} <> 0
    )
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM alive GROUP BY o_orderstatus ORDER BY status
    """,
)
def q_lake_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (the Delta DV /
    Iceberg positional-delete mechanism): the base table is left
    UNTOUCHED and deletes are a tiny side table of deleted row
    positions; every read applies the vector with an anti-join
    before the query sees a row. Here a deterministic ~1/13 of
    orders (key-hash) is deleted; the query is the per-status
    revenue rollup over the SURVIVORS, and the oracle recomputes it
    from the predicate directly - hash-match proves the
    read-time-apply path equals the logical delete.

    Contrast pinned in-code: copy-on-write (q_delete_keys) rewrites
    every file containing a deleted row - O(data touched); the DV
    write here is O(deletes) (a positions list), trading write
    amplification for a per-read anti-join that stays cheap because
    the vector is BROADCAST (deletes are sparse by construction;
    compaction folds DVs back into files when they accumulate -
    q_compact_small_files is that job).

    Scale shape: the DV side is (file_id, position) in production;
    position here is the stable primary key, same semantics. The
    anti-join broadcasts the vector; the scan and rollup are
    unchanged. 100 TB: the read overhead is one broadcast probe per
    scan - the measured reason every modern lakehouse made DVs the
    default delete path.
    """
    o = table(spark, sf_dir, "orders")
    erased = F.expr(
        f"((o_orderkey * 2654435761 + 1013904223) % 1000000007)"
        f" % {DV_ERASE_MOD} = 0"
    )
    # The deletion vector: positions (keys) only - O(deletes) bytes.
    dv = o.filter(erased).select(F.col("o_orderkey").alias("del_key"))
    alive = o.join(
        F.broadcast(dv),
        F.col("o_orderkey") == F.col("del_key"),
        "left_anti",
    )
    return (
        alive.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
        .orderBy("status")
    )


MIX_LAYOUT_CUTOFF = "1997-01-01"  # history stays unpartitioned


@register(
    "q_lake_mixed_layout",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_lake_mixed_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy partition-layout migration: HISTORY lives in the old
    unpartitioned layout, NEW data lands partitioned by event_type,
    and queries read both through one unionByName view - the
    migration pattern that avoids rewriting history when a table
    changes its partitioning (rewrite happens opportunistically via
    compaction, not as a blocking backfill). The rollup over the
    mixed view hash-matches the single-table oracle, proving the
    seam is invisible to queries.

    The asymmetry IS the point and is observable in the plan: the
    event_type predicate PARTITION-PRUNES the new layout (reads 2
    of 5 directories) but only row-filters the old one - the
    measured incentive to eventually compact history into the new
    layout (q_compact_small_files + sink_parquet_partitioned are
    those pieces).

    Rows-on-oracle: the result is fully SQL-checkable; the layout
    split is scratch-local and deterministic by the date cutoff.

    Scale shape: two scans + unionByName; Catalyst pushes the
    filter into both branches independently (pruning where the
    layout allows). 100 TB: exactly how Hive->Iceberg style
    migrations serve reads mid-migration.
    """
    e = table(spark, sf_dir, "events")
    old_dir = _scratch("lake", "events_layout_old")
    new_dir = _scratch("lake", "events_layout_new")
    cutoff = F.lit(MIX_LAYOUT_CUTOFF).cast("timestamp")
    e.filter(F.col("ts") < cutoff).write.mode("overwrite").parquet(
        old_dir
    )
    e.filter(F.col("ts") >= cutoff).repartition("event_type").write.mode(
        "overwrite"
    ).partitionBy("event_type").parquet(new_dir)
    old = spark.read.schema(e.schema).parquet(old_dir)
    # partitioned read-back: event_type comes back as a partition
    # column; align column order with unionByName. The explicit
    # schema also keeps a ZERO-ROW new layout readable (no
    # partition dirs -> inference has nothing to infer; caught by
    # the empty-relation sweep).
    new = spark.read.schema(e.schema).parquet(new_dir)
    mixed = old.unionByName(new.select(*old.columns))
    return (
        mixed.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
        .orderBy("event_type")
    )


@register(
    "q_quality_freshness",
    oracle="""
    WITH marks AS (
      SELECT 'events' AS tbl, max(ts) AS latest,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM events
      UNION ALL
      SELECT 'orders', CAST(max(o_orderdate) AS TIMESTAMP),
             CAST(count(*) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'lineitem', CAST(max(l_shipdate) AS TIMESTAMP),
             CAST(count(*) AS BIGINT)
      FROM lineitem
    ),
    now_ref AS (SELECT max(latest) AS now_ts FROM marks)
    SELECT m.tbl, m.n_rows,
           CAST(m.latest AS VARCHAR) AS latest_mark,
           CAST(date_diff('day', CAST(m.latest AS DATE),
                          CAST(n.now_ts AS DATE)) AS BIGINT)
               AS staleness_days,
           CASE WHEN date_diff('day', CAST(m.latest AS DATE),
                               CAST(n.now_ts AS DATE)) <= 36500
                THEN 1 ELSE 0 END AS within_sla
    FROM marks m CROSS JOIN now_ref n ORDER BY m.tbl
    """,
)
def q_quality_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA audit: each table's latest watermark
    column (events.ts, orders.o_orderdate, lineitem.l_shipdate),
    its staleness against the lake-wide reference "now" (the max
    watermark across tables - deterministic, so both engines and
    every rerun agree; production substitutes the wall clock), and
    an SLA flag - the freshness face of the DQ triangle next to
    q_quality_expectations (validity) and q_privacy_kanon
    (governance); staleness is THE first alert any data-platform
    on-call checks. The TPC-H dates sit years apart by fixture
    design, so the wide SLA bound keeps the flag column exercised
    without asserting fixture accidents.

    Exactness: watermarks are max() of exact column values;
    staleness is integer day arithmetic on CAST-to-DATE values,
    identical in both engines.

    Scale shape: one column-pruned max/count agg per table
    (metadata-answerable from parquet footers at 100 TB - the
    zero-read fast path production planners take), 1-row reference
    broadcast.
    """
    e = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    marks = (
        e.agg(
            F.lit("events").alias("tbl"),
            F.max("ts").alias("latest"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
        .select("tbl", "latest", "n_rows")
        .unionAll(
            o.agg(
                F.lit("orders").alias("tbl"),
                F.max("o_orderdate").cast("timestamp").alias("latest"),
                F.count("*").cast("bigint").alias("n_rows"),
            ).select("tbl", "latest", "n_rows")
        )
        .unionAll(
            li.agg(
                F.lit("lineitem").alias("tbl"),
                F.max("l_shipdate").cast("timestamp").alias("latest"),
                F.count("*").cast("bigint").alias("n_rows"),
            ).select("tbl", "latest", "n_rows")
        )
    )
    now_ref = marks.agg(F.max("latest").alias("now_ts"))
    stale = F.datediff(
        F.to_date(F.col("now_ts")), F.to_date(F.col("latest"))
    ).cast("bigint")
    return (
        marks.crossJoin(now_ref)
        .select(
            "tbl",
            "n_rows",
            F.col("latest").cast("string").alias("latest_mark"),
            stale.alias("staleness_days"),
            F.when(stale <= 36500, 1).otherwise(0).alias("within_sla"),
        )
        .orderBy("tbl")
    )


@register("q_lake_orphan_files")  # filesystem audit -> rows-only
def q_lake_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file audit - the VACUUM pre-check: files present in a
    table location but referenced by NO manifest are storage leaks
    (crashed writes, aborted compactions, superseded versions) that
    a retention job may delete ONLY after proving no manifest
    references them. Setup: a manifest-committed table plus two
    planted orphans (an aborted-write temp file and a stale data
    file); the audit diffs the directory listing against the
    manifest and classifies every file. One row per (status) with
    counts and bytes - the deletion candidate list IS the
    `orphan` class.

    Rows-only BY DESIGN (filesystem inventory). Idempotent: the
    location is rebuilt per run.

    Scale shape: the listing side is object-store inventory
    (metadata-scale); the manifest side is the file-list column of
    q_lake_manifest's table; the diff is an anti-join of two
    PATH SETS - never a data read, which is the entire point of
    manifest-based vacuum (contrast: Hive-style vacuum must list
    AND stat everything it deletes).
    """
    import json as _json

    loc = _scratch("lake", "orphan_audit")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("date")
    )
    data_dir = os.path.join(loc, "data")
    o.write.mode("overwrite").parquet(data_dir)
    committed = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    with open(os.path.join(loc, "manifest.json"), "w") as f:
        _json.dump({"version": 1, "files": committed}, f)
    # planted orphans: an aborted temp part and a superseded file
    orphan1 = os.path.join(data_dir, "part-9999-aborted.parquet.tmp")
    orphan2 = os.path.join(data_dir, "part-9998-superseded.parquet")
    with open(orphan1, "wb") as f:
        f.write(b"\x00" * 128)
    with open(orphan2, "wb") as f:
        f.write(b"\x00" * 256)
    listing = [
        (p, os.path.getsize(p))
        for p in sorted(
            glob.glob(os.path.join(data_dir, "*"))
        )
    ]
    manifest_set = set(committed)
    def classify(p):
        base = os.path.basename(p)
        if base.startswith("_") or base.startswith("."):
            return "marker"  # _SUCCESS / checksums: commit protocol,
            # not data - never vacuum candidates
        return "committed" if p in manifest_set else "orphan"

    rows = [(p, sz, classify(p)) for p, sz in listing]
    df = spark.createDataFrame(
        rows, "path string, bytes long, status string"
    )
    return (
        df.groupBy("status")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum("bytes").cast("bigint").alias("total_bytes"),
        )
        .orderBy("status")
    )
