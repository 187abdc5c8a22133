"""Analytical operators beyond the core relational set (SURVEY §2):
pivot/unpivot reshaping, scalar and correlated subqueries, and
multi-granularity time rollups (the hypertable/continuous-aggregate
pattern over the events stream).

100 TB posture:
- pivot with EXPLICIT values is one hash aggregate (each conditional
  count is a codegen'd agg function); never call pivot() without the
  value list at scale - inferring it costs an extra distinct scan.
- unpivot is a per-row flatMap (rows x k), no shuffle.
- the scalar subquery broadcasts a one-row result into the filter;
  the correlated EXISTS decorrelates to a semi join on the key
  (Catalyst RewriteCorrelatedScalarSubquery/RewritePredicateSubquery).
- the multi-grain rollup unions per-grain aggregates over one scan
  each; at scale, compute the finest grain once and re-aggregate
  coarser grains FROM it (day -> month needs no second raw scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..loaders import load, table
from ..registry import register
from ..session import superstep_checkpoint
from .ranks import global_order, ntile_expr


@register(
    "q_pivot",
    oracle="""
    SELECT n.n_name,
           count(*) FILTER (WHERE o.o_orderstatus = 'F') AS "F",
           count(*) FILTER (WHERE o.o_orderstatus = 'O') AS "O",
           count(*) FILTER (WHERE o.o_orderstatus = 'P') AS "P"
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts per nation pivoted by order status (explicit value
    list - equivalent to one hash agg of three conditional counts)."""
    t = load(spark, sf_dir)
    joined = (
        t["orders"]
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["nation"], F.col("n_nationkey") == F.col("c_nationkey"))
    )
    return (
        joined.groupBy("n_name")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        # Pivot leaves NULL for empty cells; counts must be 0.
        .select(
            "n_name",
            *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in ["F", "O", "P"]],
        )
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT s_suppkey, metric, value FROM (
      SELECT s_suppkey, 'acctbal' AS metric, s_acctbal AS value FROM supplier
      UNION ALL
      SELECT s_suppkey, 'nationkey', CAST(s_nationkey AS DOUBLE) FROM supplier)
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape of supplier metrics via native unpivot
    (per-row flatMap; the oracle states the same thing as UNION ALL)."""
    s = table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.col("s_acctbal").alias("acctbal"),
        F.col("s_nationkey").cast("double").alias("nationkey"),
    ).unpivot("s_suppkey", ["acctbal", "nationkey"], "metric", "value")


@register(
    "q_subquery_scalar",
    oracle="""
    SELECT o_orderstatus, count(*) AS n
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    GROUP BY o_orderstatus
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the global average price (scalar subquery -> the
    one-row average broadcasts into the filter)."""
    load(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        GROUP BY o_orderstatus
        """
    )


@register(
    "q_subquery_exists_corr",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    GROUP BY c.c_mktsegment
    """,
)
def q_subquery_exists_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having at least one 300k+ order, per segment
    (correlated EXISTS; Catalyst decorrelates to a left-semi join on
    c_custkey - same plan the hand-written semi join would give)."""
    load(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_mktsegment, count(*) AS n_customers
        FROM customer c
        WHERE EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        GROUP BY c.c_mktsegment
        """
    )


@register(
    "q_time_rollup_multi",
    oracle="""
    SELECT 'day' AS grain, date_trunc('day', ts) AS bucket,
           event_type, count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'month', date_trunc('month', ts), event_type, count(*),
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
    FROM events GROUP BY 2, 3
    """,
)
def q_time_rollup_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: the same aggregate
    at day and month grain, tagged and unioned (the continuous-
    aggregate ladder; value summed in exact cents so both engines
    agree bit-for-bit). At scale the month grain re-aggregates the
    day grain instead of re-scanning raw events."""
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")

    def grain(g: str) -> DataFrame:
        return (
            e.select(
                F.lit(g).alias("grain"),
                F.date_trunc(g, "ts").alias("bucket"),
                "event_type",
                cents.alias("cents"),
            )
            .groupBy("grain", "bucket", "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("cents").alias("value_cents"),
            )
        )

    return grain("day").unionByName(grain("month"))


GAPFILL_VALUE_MIN = 300.0  # heavy-tail slice: sparse enough to have gaps


@register(
    "q_events_gap_fill",
    oracle=f"""
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS n
      FROM events WHERE value > {GAPFILL_VALUE_MIN} GROUP BY 1, 2
    ),
    span AS (
      SELECT event_type, min(day) AS mn, max(day) AS mx FROM d GROUP BY 1
    ),
    cal AS (
      SELECT event_type,
             CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM span
    )
    SELECT cal.event_type, cal.day,
           CAST(coalesce(d.n, 0) AS BIGINT) AS n_events
    FROM cal LEFT JOIN d
      ON cal.event_type = d.event_type AND cal.day = d.day
    """,
)
def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket gap filling (the hypertable time_bucket_gapfill
    shape): daily counts of the high-value event slice per type, with
    every day in each type's observed [min, max] span present - zero
    rows materialized for days with no events (73 of 96 cells at
    sf0.01).

    Spark plan: aggregate the sparse series FIRST (the only pass over
    the raw events, map-side combinable), derive each type's span
    from the aggregate, explode an in-plan per-type calendar with
    F.sequence (days x types rows - tiny), and left-join the sparse
    aggregate back. At 100 TB the calendar side is still only
    |types| x |days| rows, the raw scan happens once, and the join is
    a broadcast of the calendar - gap filling costs no second scan
    and no extra shuffle of event rows."""
    e = table(spark, sf_dir, "events").filter(F.col("value") > GAPFILL_VALUE_MIN)
    d = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    span = d.groupBy("event_type").agg(
        F.min("day").alias("mn"), F.max("day").alias("mx")
    )
    cal = span.select(
        "event_type", F.explode(F.sequence("mn", "mx")).alias("day")
    )
    return cal.join(d, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n", F.lit(0)).alias("n_events")
    )


@register(
    "q_profile_table",
    oracle="""
    SELECT 'o_orderkey' AS col,
           count(*) FILTER (WHERE o_orderkey IS NULL) AS n_null,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS vmin,
           CAST(max(o_orderkey) AS VARCHAR) AS vmax
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           count(*) FILTER (WHERE o_orderstatus IS NULL),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           count(*) FILTER (WHERE o_totalprice IS NULL),
           count(DISTINCT o_totalprice),
           CAST(round(min(o_totalprice), 4) AS VARCHAR),
           CAST(round(max(o_totalprice), 4) AS VARCHAR)
    FROM orders
    """,
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiler: per-column null count, distinct count, min and
    max (stringified so heterogeneous columns stack into one long
    result) - the stats pass a lake runs before registering a dataset.

    Plan shape: ONE pass per profiled column set - all conditional
    counts and extrema for all columns are computed in a single
    aggregate over a single scan, then unpivoted driver-side into the
    long (col, stat) layout. count(DISTINCT) over multiple columns
    forces Spark's expand: one scan feeding 3 distinct aggregates
    multiplies rows 3x before the shuffle - acceptable for profiling;
    at 100 TB swap exact distinct for approx_count_distinct and the
    expand disappears (documented trade, not done here to keep the
    oracle exact)."""
    o = table(spark, sf_dir, "orders")
    wide = o.agg(
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("nk"),
        F.countDistinct("o_orderkey").alias("dk"),
        F.min("o_orderkey").cast("string").alias("mink"),
        F.max("o_orderkey").cast("string").alias("maxk"),
        F.count(F.when(F.col("o_orderstatus").isNull(), 1)).alias("ns"),
        F.countDistinct("o_orderstatus").alias("ds"),
        F.min("o_orderstatus").alias("mins"),
        F.max("o_orderstatus").alias("maxs"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1)).alias("np"),
        F.countDistinct("o_totalprice").alias("dp"),
        F.round(F.min("o_totalprice"), 4).cast("string").alias("minp"),
        F.round(F.max("o_totalprice"), 4).cast("string").alias("maxp"),
    )
    return wide.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_orderkey").alias("col"),
                    F.col("nk").alias("n_null"),
                    F.col("dk").alias("n_distinct"),
                    F.col("mink").alias("vmin"),
                    F.col("maxk").alias("vmax"),
                ),
                F.struct(
                    F.lit("o_orderstatus").alias("col"),
                    F.col("ns").alias("n_null"),
                    F.col("ds").alias("n_distinct"),
                    F.col("mins").alias("vmin"),
                    F.col("maxs").alias("vmax"),
                ),
                F.struct(
                    F.lit("o_totalprice").alias("col"),
                    F.col("np").alias("n_null"),
                    F.col("dp").alias("n_distinct"),
                    F.col("minp").alias("vmin"),
                    F.col("maxp").alias("vmax"),
                ),
            )
        ).alias("p")
    ).select("p.col", "p.n_null", "p.n_distinct", "p.vmin", "p.vmax")


@register(
    "q_quality_checks",
    oracle="""
    SELECT 'orders_null_key' AS rule,
           count(*) FILTER (WHERE o_orderkey IS NULL) AS violations
    FROM orders
    UNION ALL
    SELECT 'orders_bad_status',
           count(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P'))
    FROM orders
    UNION ALL
    SELECT 'orders_nonpositive_price',
           count(*) FILTER (WHERE o_totalprice <= 0)
    FROM orders
    UNION ALL
    SELECT 'orders_orphan_custkey', count(*)
    FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem_orphan_orderkey', count(*)
    FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def q_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite: null-key, domain, range, and
    referential-integrity rules evaluated to violation counts (the
    contract a lake enforces before publishing a table version).

    Scale shape: the scalar rules collapse into ONE aggregate over one
    scan of the fact table; each referential rule is an anti join
    against the (broadcastable) parent's key column only. A failing
    run at 100 TB costs the same as a passing one - counts, never
    materialized violation rows; sample violating rows in a second
    targeted pass only when a count is nonzero."""
    t = load(spark, sf_dir)
    o, c, li = t["orders"], t["customer"], t["lineitem"]
    scalar = o.agg(
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("orders_null_key"),
        F.count(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1)
        ).alias("orders_bad_status"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias(
            "orders_nonpositive_price"
        ),
    )
    orphan_orders = o.join(
        c.select("c_custkey"),
        o.o_custkey == F.col("c_custkey"),
        "left_anti",
    ).agg(F.count("*").alias("orders_orphan_custkey"))
    orphan_items = li.join(
        o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_anti"
    ).agg(F.count("*").alias("lineitem_orphan_orderkey"))

    # One explode unpivots the single-aggregate row into the long
    # (rule, violations) layout - the scalar rules stay ONE scan.
    scalar_long = scalar.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("rule"), F.col(r).alias("violations")
                    )
                    for r in [
                        "orders_null_key",
                        "orders_bad_status",
                        "orders_nonpositive_price",
                    ]
                ]
            )
        ).alias("r")
    ).select("r.rule", "r.violations")

    def long(df, col):
        return df.select(F.lit(col).alias("rule"), F.col(col).alias("violations"))

    return scalar_long.unionByName(
        long(orphan_orders, "orders_orphan_custkey")
    ).unionByName(long(orphan_items, "lineitem_orphan_orderkey"))


# Shared between engine and oracle (EP3 pattern): one SQL text, two
# engines, zero drift.
_FUNNEL_SQL = """
    WITH v AS (
      SELECT user_id, min(ts) AS view_ts
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS click_ts
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.view_ts
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS buy_ts
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
      GROUP BY e.user_id
    )
    SELECT 'step1_view' AS step, count(*) AS n_users FROM v
    UNION ALL
    SELECT 'step2_click', count(*) FROM c
    UNION ALL
    SELECT 'step3_purchase', count(*) FROM p
"""


@register("q_events_funnel", oracle=_FUNNEL_SQL)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked AFTER their
    first view, then purchased AFTER that first qualifying click -
    the sequential-conversion query of event analytics. Each stage is
    a per-user min-aggregate joined to the previous stage, so order
    constraints are enforced by ts comparison, not fragile
    row-adjacency.

    Scale shape: three shuffles on user_id (one per stage), each
    map-side combinable to one row per user BEFORE the exchange; at
    100 TB pre-partitioning events by user_id collapses all three
    into local aggregations over one layout."""
    load(spark, sf_dir)
    return spark.sql(_FUNNEL_SQL)


_RETENTION_SQL = """
    WITH firstday AS (
      SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             datediff('day', f.cohort_day,
                      CAST(date_trunc('day', e.ts) AS DATE)) AS day_offset
      FROM events e JOIN firstday f ON f.user_id = e.user_id
    )
    SELECT cohort_day, day_offset, count(*) AS n_active
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
"""


@register(
    "q_events_retention",
    # Not shared-SQL: DuckDB's datediff is 3-arg (unit, start, end),
    # Spark's is 2-arg (end, start) - the one dialect split in this
    # module, so the engine side is DataFrame API.
    oracle=_RETENTION_SQL,
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted as
    active at each day-offset in their first week - the engagement
    matrix behind every retention curve.

    Scale shape: one shuffle to find cohort days (map-side min), one
    shuffle joining activity back on user_id, then the DISTINCT
    collapses (user, day) duplicates BEFORE the final (cohort, offset)
    aggregate - the distinct is the expensive step and it is keyed by
    user_id, co-located with the join that produced it (no extra
    exchange; verified in the explain)."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    )
    firstday = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (
        e.join(firstday, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_active"))
    )


# Shared by q_events_anomaly and its chunk-parallel twin: both produce
# the SAME rows (identical 51-row frames in identical order -> identical
# IEEE doubles), so both hash-match the same oracle.
_ANOMALY_ORACLE = """
    WITH scored AS (
      SELECT event_id, event_type, value,
             avg(value) OVER w AS mu,
             stddev_samp(value) OVER w AS sd,
             count(*) OVER w AS n_hist
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type,
           round(value, 4) AS value,
           round((value - mu) / sd, 4) AS z
    FROM scored
    WHERE n_hist >= 30 AND sd > 0 AND abs((value - mu) / sd) > 3
    ORDER BY event_id
    """


@register("q_events_anomaly", oracle=_ANOMALY_ORACLE)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly detection as a batch analytic: per
    event type, each event's value is z-scored against the ROLLING
    mean/stddev of its 50 PREDECESSORS (frame excludes the current
    row, so an outlier cannot mask itself); flag |z| > 3 once >= 30
    history rows exist. Ties on ts break by event_id so the frame -
    and therefore the score - is fully deterministic in both engines.

    Scale shape: one shuffle on event_type, then a sorted running
    frame per partition. Frame STATE is O(51), but the partition key
    has only |event_type| values, so the per-partition SORT runs in
    one task each - fine here (and what the streaming twin
    s_anomaly_score mirrors), but a scale hazard when a single type
    holds billions of rows. The 100 TB form is
    q_events_anomaly_chunked below: identical output (same oracle,
    hash-matched), with the window split over time buckets plus a
    50-row carry-in so no task ever sorts more than a bucket.
    """
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-50, -1)
    )
    scored = e.select(
        "event_id",
        "event_type",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
        F.count("*").over(w).alias("n_hist"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        scored.filter(
            (F.col("n_hist") >= 30) & (F.col("sd") > 0) & (F.abs(z) > 3)
        )
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(z, 4).alias("z"),
        )
        .orderBy("event_id")
    )


@register(
    "q_events_attribution",
    oracle="""
    WITH p AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, ts, event_type
      FROM events WHERE event_type IN ('click', 'view')
    )
    SELECT coalesce(tt.event_type, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases
    FROM p LEFT JOIN LATERAL (
      SELECT event_type
      FROM t
      WHERE t.user_id = p.user_id
        AND t.ts <= p.ts
        AND t.ts >= p.ts - INTERVAL 7 DAY
      ORDER BY t.ts DESC, event_type DESC
      LIMIT 1
    ) tt ON true
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent click/view in the preceding 7 days, else 'direct' -
    the standard marketing-analytics shape, and a direct reuse of the
    engine's asof_join utility (operators/asof.py: union-tag + running
    last(ignorenulls), ONE shuffle on user_id, no candidate-pair
    blow-up) with its interval tolerance.

    Tie at identical timestamps: asof_join deterministically picks the
    largest (ts, payload) struct, i.e. 'view' over 'click'; the
    oracle's ORDER BY ts DESC, event_type DESC LIMIT 1 mirrors that.
    """
    from .asof import asof_join

    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("touch_type"),
    )
    attributed = asof_join(
        purchases,
        touches,
        on="user_id",
        left_ts="ts",
        right_ts="touch_ts",
        payload=["touch_type"],
        tolerance=F.expr("INTERVAL 7 DAYS"),
    )
    return (
        attributed.select(
            F.coalesce(F.col("touch_type"), F.lit("direct")).alias("channel")
        )
        .groupBy("channel")
        .agg(F.count("*").cast("bigint").alias("n_purchases"))
        .orderBy("channel")
    )


@register(
    "q_events_transition",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    c AS (
      SELECT prev_type, event_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type,
           CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type)
                                    AS DOUBLE) AS p
    FROM c
    """,
)
def q_events_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix of the event stream: per user, order
    events by (ts, event_id), pair each event with its predecessor
    type via lag, then count transitions and normalize per source
    state - P(next_type | prev_type). The behavioral-model shape
    behind session analysis and next-action prediction.

    Scale shape: ONE shuffle (window partition by user_id, the same
    partitioning every per-user analytic here reuses); the transition
    counts are a |types|^2-row aggregate, so the normalizing window
    runs on a trivially small frame. p is an exact count ratio
    (deterministic division, unrounded - functions/exact.py rule).
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", "event_type").agg(F.count("*").alias("n"))
    wp = Window.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n").cast("double") / F.sum("n").over(wp).cast("double")).alias("p"),
    )


@register(
    "q_tpch_q3",
    oracle="""
    SELECT o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1996-03-15'
      AND l.l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) on this schema: top-10 unshipped
    BUILDING-segment orders by outstanding revenue as of 1996-03-15.
    The canonical dim-filter + fact-fact star query.

    Scale shape: the segment-filtered customer key set reaches the
    orders scan as a BROADCAST SEMI join (customer contributes no
    columns, only the predicate - a semi join ships just the key set
    and lets AQE turn it into a runtime filter); orders x lineitem is
    the one genuine shuffle, on the shared o_orderkey/l_orderkey key;
    both date predicates push to the parquet scans. Top-10 via
    TakeOrderedAndProject on the rounded revenue with o_orderkey
    tie-break - rounding BEFORE ordering keeps the cut deterministic
    and engine-independent.
    """
    t = load(spark, sf_dir)
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("o_custkey")
    )
    o = (
        t["orders"]
        .filter(F.col("o_orderdate") < "1996-03-15")
        .join(cust, "o_custkey", "left_semi")
    )
    li = t["lineitem"].filter(F.col("l_shipdate") > "1996-03-15")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


ANOMALY_FRAME = 50
ANOMALY_BUCKET_US = 86_400 * 1_000_000  # one-day chunks


@register("q_events_anomaly_chunked", oracle=_ANOMALY_ORACLE)
def q_events_anomaly_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_events_anomaly re-planned for 100 TB: the same 50-predecessor
    z-score frames, computed with BOUNDED tasks. The plain form
    partitions the window by event_type alone - |types| tasks, each
    sorting its ENTIRE type - which is exactly what does not survive a
    billion-row type. This operator chunks the window by time bucket
    with an overlap carry-in (the standard overlapping-window
    decomposition):

      1. bucket every event into day b = unix_micros(ts) div 1d; count
         rows per (type, b) and the running count of all EARLIER
         buckets - a tiny aggregate (|types| x |days| rows).
      2. carry map (type, src_b -> dst_b): src bucket rows can be
         frame-predecessors of dst bucket rows iff the row gap between
         src's end and dst's start is < 50. Built by a self-join of
         the tiny count table; broadcastable at any data size.
      3. a src row is carried into dst iff rows_after_it_in_src +
         rows_between < 50 (reverse rank via a per-bucket window -
         bounded task). Each boundary replicates <= 50 rows per
         reachable bucket.
      4. union carried rows (tagged) with own rows, run the SAME
         51-row frame inside (type, bucket), drop the carried rows.

    Every row's frame holds exactly its true 50 predecessors in the
    true order (all stream rows between the oldest carry row and the
    scored row are present), so the aggregate accumulates the same
    doubles in the same order as the single-window plan - the output
    hash-matches the SAME oracle, which is the proof the
    decomposition is sound. Parallelism goes from |types| tasks to
    |types| x |buckets|; at sf0.1 that is 5 -> ~150.
    """
    return anomaly_chunked(table(spark, sf_dir, "events"))


def anomaly_chunked(
    e: DataFrame, bucket_us: int = ANOMALY_BUCKET_US
) -> DataFrame:
    """The chunked-anomaly core over any (event_id, event_type, value,
    ts) frame - factored out so tests can drive it with SPARSE
    synthetic streams (buckets with < frame rows, where the carry map
    must reach across many buckets) beyond what the dense testdata
    exercises."""
    ev = e.select(
        "event_id",
        "event_type",
        "value",
        "ts",
        F.expr(f"unix_micros(ts) div {bucket_us}").alias("b"),
    )
    counts = ev.groupBy("event_type", "b").agg(F.count("*").alias("cnt"))
    wc = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = counts.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(wc), F.lit(0))
    )
    src = cum.select(
        "event_type",
        F.col("b").alias("src_b"),
        F.col("cnt").alias("src_cnt"),
        F.col("cum_before").alias("src_cum"),
    )
    dst = cum.select(
        "event_type", F.col("b").alias("dst_b"), F.col("cum_before").alias("dst_cum")
    )
    carry_map = (
        src.join(dst, "event_type")
        .filter(
            (F.col("dst_b") > F.col("src_b"))
            & (
                F.col("dst_cum") - (F.col("src_cum") + F.col("src_cnt"))
                < ANOMALY_FRAME
            )
        )
        .select(
            "event_type",
            "src_b",
            "dst_b",
            (F.col("dst_cum") - F.col("src_cum") - F.col("src_cnt")).alias(
                "rows_between"
            ),
        )
    )
    wr = Window.partitionBy("event_type", "b").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.withColumn("rows_after", F.row_number().over(wr) - 1)
    carries = (
        ranked.withColumnRenamed("b", "src_b")
        .join(F.broadcast(carry_map), ["event_type", "src_b"])
        .filter(F.col("rows_after") + F.col("rows_between") < ANOMALY_FRAME)
        .select(
            "event_id",
            "event_type",
            "value",
            "ts",
            F.col("dst_b").alias("part_b"),
            F.lit(1).alias("is_carry"),
        )
    )
    own = ev.select(
        "event_id",
        "event_type",
        "value",
        "ts",
        F.col("b").alias("part_b"),
        F.lit(0).alias("is_carry"),
    )
    aug = own.unionByName(carries)
    w = (
        Window.partitionBy("event_type", "part_b")
        .orderBy("ts", "event_id")
        .rowsBetween(-ANOMALY_FRAME, -1)
    )
    scored = aug.select(
        "event_id",
        "event_type",
        "value",
        "is_carry",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
        F.count("*").over(w).alias("n_hist"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        scored.filter(
            (F.col("is_carry") == 0)
            & (F.col("n_hist") >= 30)
            & (F.col("sd") > 0)
            & (F.abs(z) > 3)
        )
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(z, 4).alias("z"),
        )
        .orderBy("event_id")
    )


@register(
    "q_events_rfm",
    oracle="""
    WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS a FROM events),
    base AS (
      SELECT user_id,
             date_diff('day', max(CAST(ts AS DATE)), any_value(a))
               AS recency_days,
             count(*) AS frequency,
             round(sum(value), 4) AS monetary
      FROM events, anchor
      WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    scored AS (
      SELECT *,
             ntile(4) OVER (ORDER BY recency_days, user_id) AS r,
             ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f,
             ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m
      FROM base
    )
    SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency, monetary,
           'R' || r || 'F' || f || 'M' || m AS segment
    FROM scored
    """,
)
def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary) of purchase
    behavior: days since last purchase vs the corpus anchor date,
    purchase count, purchase volume, each quartiled (ntile ties broken
    by user_id so both engines cut identically), concatenated into
    the classic 'R1F2M3' segment label.

    Scale shape: one purchase-filtered agg per user; the anchor date
    is an in-plan 1-row aggregate (broadcast, no driver action). The
    ntile windows are global single-partition sorts over USER-level
    rows - fine while users << events; at extreme user counts swap
    ntile for approx_percentile cutoffs broadcast into a map-only
    bucket lookup (same labels, no global sort).
    """
    e = table(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.to_date("ts")).alias("a"))
    base = (
        e.filter(F.col("event_type") == "purchase")
        .crossJoin(anchor)
        .groupBy("user_id")
        .agg(
            F.datediff(F.any_value("a"), F.max(F.to_date("ts"))).alias(
                "recency_days"
            ),
            F.count("*").alias("frequency"),
            F.round(F.sum("value"), 4).alias("monetary"),
        )
    )
    base = superstep_checkpoint(base)
    # Distributed quartiles (r7): bucketed two-pass ranks + the
    # closed-form ntile (operators/ranks.py) instead of three
    # unpartitioned ntile windows - each of those was an Exchange
    # SinglePartition single-task sort of the whole per-user frame
    # (r6 audit finding). Bit-identical tile assignment.
    # r8 restructure: the three ranks run INDEPENDENTLY on slim
    # (user_id, metric) projections of the checkpointed base and the
    # tiles join back by user_id - instead of chaining each rank on
    # the previous rank's full-width output. Only 2 columns ride each
    # rank shuffle, the three paths' stages can execute concurrently
    # within the one job, and nothing recomputes base. Measured at
    # sf0.1 (interleaved A/B): steady 4.23s vs 4.67s, COLD 4.6s vs
    # 14.0s (the chained form's first action cascaded three
    # full-width materializations), identical output.

    def tile(metric: str, ord_exprs, mono, name: str):
        slim = base.select("user_id", metric).withColumn("_m", mono)
        r = global_order(
            slim, "_m", ord_exprs, rank_name="_i", total_name="_n"
        )
        return r.select(
            "user_id",
            ntile_expr(F.col("_i"), F.col("_n"), 4).alias(name),
        )

    tr = tile(
        "recency_days", [F.col("recency_days"), F.col("user_id")],
        F.col("recency_days").cast("double"), "_r",
    )
    tf = tile(
        "frequency", [F.col("frequency").desc(), F.col("user_id")],
        -F.col("frequency").cast("double"), "_f",
    )
    tm = tile(
        "monetary", [F.col("monetary").desc(), F.col("user_id")],
        -F.col("monetary"), "_m",
    )
    g = base.join(tr, "user_id").join(tf, "user_id").join(tm, "user_id")
    return g.select(
        "user_id",
        F.col("recency_days").cast("bigint").alias("recency_days"),
        F.col("frequency").cast("bigint").alias("frequency"),
        "monetary",
        F.concat(
            F.lit("R"), F.col("_r").cast("string"),
            F.lit("F"), F.col("_f").cast("string"),
            F.lit("M"), F.col("_m").cast("string"),
        ).alias("segment"),
    )


@register(
    "q_win_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    grp AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY d) AS INTEGER) AS g
      FROM days
    ),
    streaks AS (
      SELECT user_id, g, count(*) AS len FROM grp GROUP BY user_id, g
    )
    SELECT user_id,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(sum(len) AS BIGINT) AS active_days
    FROM streaks
    GROUP BY user_id
    """,
)
def q_win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user - the classic
    gaps-and-islands identity: among a user's DISTINCT active days,
    day - row_number(day) is constant exactly within a consecutive
    run, so one window plus two aggregates finds every streak.

    Scale shape: the per-day dedup collapses events to (user, day)
    first (<= 30 rows/user here), then one user-partitioned window
    over that tiny frame - same partitioning as every per-user
    analytic, no self-join, no sequence explode.
    """
    e = table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.select(
        "user_id",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("g"),
    )
    streaks = grp.groupBy("user_id", "g").agg(F.count("*").alias("len"))
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest_streak"),
        F.sum("len").cast("bigint").alias("active_days"),
    )


@register(
    "q_events_session_path",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_us,
             epoch_us(ts) AS ts_us
      FROM events
    ),
    sessions AS (
      SELECT *,
             sum(CASE WHEN prev_us IS NULL
                        OR ts_us - prev_us > 1800000000
                      THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM ordered
    ),
    paths AS (
      SELECT user_id, sess,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sessions GROUP BY user_id, sess
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 10
    """,
)
def q_events_session_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most common SESSION PATHS: sessionize with the shared
    30-minute-gap rule (identical to q_stream_session's lag/cumsum
    formulation), concatenate each session's event types in
    (ts, event_id) order into a 'view>click>purchase' path string,
    count paths. The product-analytics view of behavior that funnels
    (fixed stage order) and transition matrices (one hop) cannot
    show.

    Order inside the path is made deterministic WITHOUT an ORDER BY
    inside an aggregate (Spark has none): collect structs keyed by
    (ts, event_id), array_sort, project the type field - same result
    as DuckDB's string_agg(... ORDER BY). Scale: the session window
    reuses the one user_id shuffle; path strings are bounded by
    session length; top-10 via TakeOrderedAndProject.
    """
    from ..streaming.batch_windows import SESSION_GAP_US

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(
            F.lag(F.unix_micros("ts")).over(w).isNull()
            | (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
                > SESSION_GAP_US
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sessions = flagged.withColumn("sess", F.sum("is_new").over(run))
    paths = sessions.groupBy("user_id", "sess").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
                    )
                ),
                lambda s: s.getField("event_type"),
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


@register(
    "q_events_stickiness",
    oracle="""
    WITH dau AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1
    ),
    cover AS (
      SELECT DISTINCT CAST(ts AS DATE) AS active_day, user_id
      FROM events
    ),
    wau AS (
      SELECT d.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau
      FROM (SELECT DISTINCT day FROM dau) d
      JOIN cover c
        ON c.active_day BETWEEN d.day - INTERVAL 6 DAY AND d.day
      GROUP BY d.day
    )
    SELECT dau.day, dau.dau, wau.wau,
           round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    """,
)
def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day-WAU stickiness ratio per day - the
    engagement metric pair (a user active today counted against the
    week's active base ending today).

    Scale shape: both distinct counts reduce to the per-(user, day)
    dedup (ONE shuffle, |users|x|days| rows max); DAU is a direct
    count, the rolling WAU reuses q_win_sliding_distinct's coverage
    trick - each (user, day) row covers days d..d+6 via sequence()
    explode (x7 replication of the TINY dedup table, not the events),
    then an exact distinct per covered day. The oracle states the
    same semantics as its literal interval join. Trailing windows at
    the data's left edge count whatever exists (no warm-up trim),
    identical on both sides.
    """
    ev = table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    per_day = ev.distinct()
    dau = per_day.groupBy("day").agg(
        F.count_distinct("user_id").alias("dau")
    )
    covered = per_day.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("cday"),
    )
    wau = (
        covered.join(
            F.broadcast(dau.select(F.col("day").alias("cday"))).distinct(),
            "cday",
        )
        .groupBy("cday")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau["day"] == wau["cday"])
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


def _daily_rev(e: DataFrame) -> DataFrame:
    """Bounded (event_type, day, rev) daily-revenue rollup - the
    shared first stage of every daily analytic here (forecast,
    seasonality, MAD outliers, period growth, rolling median).
    Sums are rounded at 4dp BEFORE any downstream arithmetic so
    every derived term is an identical IEEE expression on both
    engines; any change to rounding or tz policy happens HERE once
    (each operator's oracle SQL states the same rollup inline)."""
    return (
        e.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(F.round(F.sum("value"), 4).alias("rev"))
    )


@register(
    "q_events_forecast_seasonal",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               round(sum(value), 4) AS rev
        FROM events GROUP BY 1, 2
    ),
    shifted AS (
        -- calendar self-join, NOT lag(7) row offsets: with a gap day
        -- in the series a row-offset lag silently compares different
        -- weekdays; joining on day - 7 CALENDAR days is gap-proof.
        SELECT d.event_type, d.day, d.rev, prior.rev AS forecast
        FROM daily d
        LEFT JOIN daily prior
          ON prior.event_type = d.event_type
         AND prior.day = d.day - INTERVAL 7 DAY
    ),
    backtest AS (
        SELECT * FROM shifted
        WHERE forecast IS NOT NULL
          AND day >= (SELECT max(day) - INTERVAL 6 DAY FROM daily)
    )
    SELECT event_type,
           count(*) AS n_days,
           round(avg(abs(rev - forecast)), 4) AS mae,
           round(avg(CASE WHEN rev <> 0
                          THEN abs(rev - forecast) / rev END), 4) AS mape,
           round(avg(rev - forecast), 4) AS bias
    FROM backtest GROUP BY event_type
    """,
)
def q_events_forecast_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each of the last 7
    days' daily revenue per event type as the value observed 7 days
    earlier (weekly seasonality), and score MAE / MAPE / bias - the
    baseline every fancier forecaster must beat, and the shape of any
    backtest harness (point forecasts joined to actuals + error
    aggs).

    Scale shape: the daily rollup collapses the event stream FIRST
    (two-phase agg, |types| x |days| rows); everything after -
    lag(7) window, backtest filter, error aggregation - runs on that
    bounded frame. The backtest window is derived IN-PLAN from
    max(day) (1-row broadcast), so the operator survives testdata
    regeneration with shifted date ranges. Daily sums are rounded at
    4dp on both engines BEFORE differencing, making every downstream
    error term an identical IEEE expression.
    """
    daily = _daily_rev(table(spark, sf_dir, "events"))
    prior = daily.select(
        F.col("event_type").alias("p_type"),
        F.col("day").alias("p_day"),
        F.col("rev").alias("forecast"),
    )
    # Calendar self-join (day - 7 DAYS), not lag(7): a row-offset lag
    # breaks on gap days (compares different weekdays); the equi join
    # on (type, day-7) is gap-proof and shuffles the bounded daily
    # frame only.
    shifted = daily.join(
        prior,
        (F.col("event_type") == F.col("p_type"))
        & (F.col("p_day") == F.col("day") - F.expr("INTERVAL 7 DAYS")),
        "left",
    ).drop("p_type", "p_day")
    anchor = daily.agg(
        F.date_sub(F.max("day"), 6).cast("timestamp").alias("win_start")
    )
    err = F.col("rev") - F.col("forecast")
    return (
        shifted.crossJoin(anchor)
        .filter(
            F.col("forecast").isNotNull()
            & (F.col("day") >= F.col("win_start"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.round(F.avg(F.abs(err)), 4).alias("mae"),
            # Zero-revenue backtest days are excluded from the MAPE
            # mean (avg skips the NULL term; CASE WHEN in the oracle)
            # so a rev=0 day yields a finite score, not inf/NaN.
            F.round(
                F.avg(F.when(F.col("rev") != 0, F.abs(err) / F.col("rev"))), 4
            ).alias("mape"),
            F.round(F.avg(err), 4).alias("bias"),
        )
    )


@register(
    "q_events_ltv_cohort",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT f.cohort_day,
               date_diff('day', f.cohort_day, date_trunc('day', e.ts))
                   AS age_days,
               round(sum(e.value), 4) AS rev,
               count(DISTINCT e.user_id) AS n_buyers
        FROM events e JOIN firsts f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
    )
    SELECT CAST(cohort_day AS DATE) AS cohort_day,
           CAST(age_days AS BIGINT) AS age_days, rev, n_buyers,
           sum(rev) OVER (PARTITION BY cohort_day ORDER BY age_days)
               AS cum_rev
    FROM daily
    """,
)
def q_events_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen day,
    purchase revenue accumulated by account age in days - the LTV
    matrix behind payback-period analysis (retention counts users;
    this follows the money).

    Scale shape: first-touch is a map-side min agg on user_id; the
    purchase stream joins that small frame on the SAME key (one
    shuffle, co-partitioned); the (cohort, age) rollup is bounded by
    days^2. The cumulative sum runs UNROUNDED over the ordered
    bounded frame - its inputs are the 4dp-rounded daily cells,
    identical on both engines, and an ordered-frame cumsum adds them
    in one defined order, so the running values are bit-identical
    without double-rounding.
    """
    e = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    firsts = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(day, F.col("cohort_day")).alias("age_days"),
        )
        .agg(
            F.round(F.sum("value"), 4).alias("rev"),
            F.count_distinct("user_id").alias("n_buyers"),
        )
    )
    wc = Window.partitionBy("cohort_day").orderBy("age_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        F.col("cohort_day").cast("date").alias("cohort_day"),
        F.col("age_days").cast("bigint").alias("age_days"),
        "rev",
        "n_buyers",
        F.sum("rev").over(wc).alias("cum_rev"),
    )


@register(
    "q_basket_rules",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op),
    item AS (SELECT l_partkey, count(*) AS n_item FROM op GROUP BY 1),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_pair
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT pa, pb, n_pair,
           CAST(n_pair AS DOUBLE) / n_orders AS support,
           CAST(n_pair AS DOUBLE) / ia.n_item AS confidence,
           (CAST(n_pair AS DOUBLE) * n_orders)
             / (CAST(ia.n_item AS DOUBLE) * ib.n_item) AS lift
    FROM pairs
    JOIN item ia ON ia.l_partkey = pa
    JOIN item ib ON ib.l_partkey = pb
    CROSS JOIN n
    WHERE n_pair >= 3
    ORDER BY lift DESC, pa, pb
    LIMIT 20
    """,
)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules: top-20 part pairs by lift
    (with support and confidence) among pairs co-purchased on >= 3
    orders - the classic affinity-mining workload (recommendations,
    bundling, shelf placement).

    Scale shape: the pair enumeration is a SELF-JOIN ON THE BASKET
    KEY, so fan-out is bounded by basket size squared (baskets are
    small by nature; a degree cap on pathological baskets is the
    standard guard) - never all-pairs across orders. Item counts and
    the order total are small aggregates broadcast back into the
    ratio expressions; every metric is a ratio of exact integers
    written as the same IEEE expression on both engines, so no
    rounding is needed and the lift ordering is deterministic (pa,
    pb tie-break).
    """
    t = load(spark, sf_dir)
    op = (
        t["lineitem"].select("l_orderkey", "l_partkey").distinct()
    )
    n = op.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    item = op.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= 3)
    )
    ia = item.select(
        F.col("l_partkey").alias("ka"), F.col("n_item").alias("n_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("kb"), F.col("n_item").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ia), F.col("pa") == F.col("ka"))
        .join(F.broadcast(ib), F.col("pb") == F.col("kb"))
        .crossJoin(n)
        .select(
            "pa",
            "pb",
            "n_pair",
            (F.col("n_pair").cast("double") / F.col("n_orders")).alias(
                "support"
            ),
            (F.col("n_pair").cast("double") / F.col("n_a")).alias(
                "confidence"
            ),
            (
                (F.col("n_pair").cast("double") * F.col("n_orders"))
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "pa", "pb")
        .limit(20)
    )


@register(
    "q_events_conversion_lag",
    oracle="""
    WITH s AS (SELECT user_id, min(ts) AS t0 FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    p AS (
        -- first purchase AT/AFTER signup (a purchase that predates
        -- the signup must not hide a later converting purchase)
        SELECT e.user_id, min(e.ts) AS t1
        FROM events e JOIN s ON e.user_id = s.user_id AND e.ts >= s.t0
        WHERE e.event_type = 'purchase'
        GROUP BY e.user_id
    ),
    conv AS (
        SELECT date_diff('day', date_trunc('day', t0),
                         date_trunc('day', t1)) AS lag_days
        FROM s JOIN p USING (user_id)
    ),
    h AS (SELECT CAST(lag_days AS BIGINT) AS lag_days,
                 count(*) AS n_users
          FROM conv GROUP BY 1)
    SELECT lag_days, n_users,
           CAST(sum(n_users) OVER (ORDER BY lag_days) AS DOUBLE)
             / (SELECT sum(n_users) FROM h) AS cum_share
    FROM h
    """,
)
def q_events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-lag distribution: days between a user's first
    signup and their first purchase AT OR AFTER that signup, as a
    histogram with
    cumulative share - the time-to-convert curve behind trial-length
    and nurture-campaign decisions (funnels count WHO converts; this
    measures WHEN).

    Scale shape: two map-side min-aggregates on user_id, one
    co-partitioned join on the same key, then the histogram and its
    cumulative window run on the bounded lag-days frame. Shares are
    int-sum ratios -> one IEEE division, cross-engine exact.
    """
    e = table(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    # first purchase AT/AFTER signup: join the signup anchor into the
    # purchase stream BEFORE the min, so a pre-signup purchase cannot
    # hide a later converting one.
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"), F.min("t0").alias("t0"))
    )
    h = (
        p.select(
            F.datediff(
                F.date_trunc("day", "t1"), F.date_trunc("day", "t0")
            ).cast("bigint").alias("lag_days")
        )
        .groupBy("lag_days")
        .agg(F.count("*").alias("n_users"))
    )
    wcum = Window.orderBy("lag_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = h.agg(F.sum("n_users").alias("total_conv"))
    return h.crossJoin(total).select(
        "lag_days",
        "n_users",
        (
            F.sum("n_users").over(wcum).cast("double") / F.col("total_conv")
        ).alias("cum_share"),
    )


AB_HASH_A = 2654435761
AB_HASH_B = 1013904223
AB_HASH_P = 1_000_000_007


@register(
    "q_events_ab_welch",
    oracle=f"""
    WITH spend AS (
        SELECT user_id, round(sum(value), 4) AS x,
               CASE WHEN ((user_id * {AB_HASH_A} + {AB_HASH_B})
                          % {AB_HASH_P}) % 2 = 0
                    THEN 'A' ELSE 'B' END AS variant
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    s AS (
        SELECT
            CAST(count(*) FILTER (variant = 'A') AS BIGINT) AS n_a,
            CAST(count(*) FILTER (variant = 'B') AS BIGINT) AS n_b,
            round(sum(x) FILTER (variant = 'A'), 4) AS sx_a,
            round(sum(x) FILTER (variant = 'B'), 4) AS sx_b,
            round(sum(x * x) FILTER (variant = 'A'), 4) AS sxx_a,
            round(sum(x * x) FILTER (variant = 'B'), 4) AS sxx_b
        FROM spend
    )
    SELECT n_a, n_b,
           sx_a / n_a AS mean_a,
           sx_b / n_b AS mean_b,
           sx_a / n_a - sx_b / n_b AS diff,
           round((sx_a / n_a - sx_b / n_b)
             / sqrt(((sxx_a - sx_a * sx_a / n_a) / (n_a - 1)) / n_a
                  + ((sxx_b - sx_b * sx_b / n_b) / (n_b - 1)) / n_b), 6)
               AS welch_t
    FROM s
    """,
)
def q_events_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash-split 50/50 into variants
    (same affine key hash as the sampling family - assignment is a
    pure function of user_id, stable across reruns/backfills), then
    per-user purchase spend compared with a Welch t statistic - the
    experimentation-analytics primitive.

    Determinism: every downstream number derives from SIX 4dp-rounded
    aggregates (two counts, two sums, two sums of squares), so the
    mean / diff / t expressions are identical IEEE arithmetic on
    identical doubles in both engines - variance uses the
    sum-of-squares identity rather than a second centered pass, which
    is also the one-pass form a scale-out engine wants (map-side
    partial sums only; the final math runs on one 6-number row).
    """
    e = table(spark, sf_dir, "events")
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 4).alias("x"))
        .withColumn(
            "variant",
            F.when(
                ((F.col("user_id") * AB_HASH_A + AB_HASH_B) % AB_HASH_P) % 2
                == 0,
                "A",
            ).otherwise("B"),
        )
    )
    isa = F.col("variant") == "A"
    s = spend.agg(
        F.count(F.when(isa, 1)).alias("n_a"),
        F.count(F.when(~isa, 1)).alias("n_b"),
        F.round(F.sum(F.when(isa, F.col("x"))), 4).alias("sx_a"),
        F.round(F.sum(F.when(~isa, F.col("x"))), 4).alias("sx_b"),
        F.round(F.sum(F.when(isa, F.col("x") * F.col("x"))), 4).alias("sxx_a"),
        F.round(F.sum(F.when(~isa, F.col("x") * F.col("x"))), 4).alias(
            "sxx_b"
        ),
    )
    mean_a = F.col("sx_a") / F.col("n_a")
    mean_b = F.col("sx_b") / F.col("n_b")
    var_a = (F.col("sxx_a") - F.col("sx_a") * F.col("sx_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("sxx_b") - F.col("sx_b") * F.col("sx_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    return s.select(
        "n_a",
        "n_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        (mean_a - mean_b).alias("diff"),
        F.round(
            (mean_a - mean_b)
            / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b")),
            6,
        ).alias("welch_t"),
    )


@register(
    "q_events_survival_km",
    oracle="""
    WITH s AS (SELECT user_id, min(date_trunc('day', ts)) AS t0
               FROM events WHERE event_type = 'signup' GROUP BY user_id),
    conv AS (
        SELECT e.user_id, min(date_trunc('day', e.ts)) AS t1
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'purchase'
          AND date_trunc('day', e.ts) >= s.t0
        GROUP BY e.user_id
    ),
    horizon AS (SELECT max(date_trunc('day', ts)) AS t_max FROM events),
    subjects AS (
        SELECT CASE WHEN c.user_id IS NOT NULL
                    THEN date_diff('day', s.t0, c.t1)
                    ELSE date_diff('day', s.t0, t_max) END AS t,
               CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END AS observed
        FROM s LEFT JOIN conv c ON s.user_id = c.user_id, horizon
    ),
    per_t AS (
        SELECT t, CAST(sum(observed) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS n_ending
        FROM subjects GROUP BY t
    ),
    risk AS (
        SELECT t, d,
               CAST(sum(n_ending) OVER (
                   ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_at_risk
        FROM per_t
    )
    -- d = n_at_risk makes a zero factor: track zero factors apart
    -- (DuckDB raises on ln(0)) and pin the curve to 0 from there.
    SELECT t AS days_since_signup, d AS n_converted, n_at_risk,
           CASE WHEN sum(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END) OVER (
                    ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
                THEN 0.0
                ELSE round(exp(sum(
                        CASE WHEN d < n_at_risk
                             THEN ln(1.0 - CAST(d AS DOUBLE) / n_at_risk)
                             ELSE 0.0 END) OVER (
                    ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
           END AS km_not_yet_converted
    FROM risk
    WHERE d > 0
    """,
)
def q_events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion: for signed-up users, the
    probability of NOT yet having purchased t days after signup,
    with users who never purchase CENSORED at the observation
    horizon - the survival-analysis readout done properly: censored
    users leave the risk set without counting as conversions, which
    a naive conversion-rate-by-day curve gets wrong. (An earlier
    draft measured lifetime-to-churn; on this generator EVERY user
    stays active through the final week, so that axis censors 100%
    and the curve is vacuous - conversion is the axis with a real
    event/censor mix, 69 events / 150 subjects at sf0.01.)

    Scale shape: two map-side min-aggs + one co-partitioned user
    join; the entire KM computation then runs on the bounded
    per-day frame: at-risk counts are a DESCENDING cumulative sum
    and the product Pi(1 - d/n) is exp(Sigma ln) over an ORDERED
    frame - deterministic addition order, cross-engine drift bounded
    by ulps (rounded at 6dp, orders of magnitude inside tolerance).
    """
    e = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(day).alias("t0"))
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(day >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min(day).alias("t1"))
    )
    horizon = e.agg(F.max(day).alias("t_max"))
    subjects = (
        s.join(conv, "user_id", "left")
        .crossJoin(horizon)
        .select(
            F.when(
                F.col("t1").isNotNull(), F.datediff("t1", "t0")
            )
            .otherwise(F.datediff("t_max", "t0"))
            .alias("t"),
            F.when(F.col("t1").isNotNull(), 1).otherwise(0).alias(
                "observed"
            ),
        )
    )
    per_t = subjects.groupBy("t").agg(
        F.sum("observed").cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("n_ending"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_t.select(
        "t",
        "d",
        F.sum("n_ending").over(w_desc).cast("bigint").alias("n_at_risk"),
    )
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # d = n_at_risk makes a zero factor (everyone left converts):
    # count zero factors separately and pin the curve to 0 from
    # there, summing logs over the strictly-positive factors only.
    zero_factor = F.when(F.col("d") == F.col("n_at_risk"), 1).otherwise(0)
    safe_ln = F.when(
        F.col("d") < F.col("n_at_risk"),
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk")),
    ).otherwise(F.lit(0.0))
    km = F.when(F.sum(zero_factor).over(w_asc) > 0, F.lit(0.0)).otherwise(
        F.round(F.exp(F.sum(safe_ln).over(w_asc)), 6)
    )
    return (
        risk.withColumn("km_not_yet_converted", km)
        .filter(F.col("d") > 0)
        .select(
            F.col("t").alias("days_since_signup"),
            F.col("d").alias("n_converted"),
            "n_at_risk",
            "km_not_yet_converted",
        )
    )


@register(
    "q_events_seasonality_index",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               round(sum(value), 4) AS rev
        FROM events GROUP BY 1, 2
    ),
    by_dow AS (
        SELECT event_type, CAST(dayofweek(day) AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS n_days,
               round(sum(rev), 4) AS dow_rev
        FROM daily GROUP BY 1, 2
    ),
    base AS (
        SELECT event_type,
               round(sum(dow_rev), 4) AS tot_rev,
               CAST(sum(n_days) AS BIGINT) AS tot_days
        FROM by_dow GROUP BY 1
    )
    SELECT b.event_type, dow, n_days,
           dow_rev / n_days AS dow_daily_avg,
           (dow_rev / n_days) / (tot_rev / tot_days) AS seasonality_idx
    FROM by_dow b JOIN base USING (event_type)
    """,
)
def q_events_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality indices: each weekday's average daily
    revenue relative to the overall daily average, per event type -
    the multiplicative seasonal profile that turns the seasonal-naive
    forecast (q_events_forecast_seasonal) into a classical
    decomposition, and the capacity-planning view on its own.

    Note DuckDB's dayofweek() is 0=Sunday while Spark's dayofweek()
    is 1=Sunday - the engine subtracts 1 so both emit the same
    numbering (§1.3-style dialect hazard, pinned by the oracle).

    Scale shape: the stream collapses to the daily rollup first; the
    dow profile and per-type base are tiny two-phase aggs over that
    bounded frame; every output is a ratio chain over 4dp-rounded
    sums and exact day counts - identical IEEE arithmetic on both
    engines, no output rounding needed.
    """
    daily = _daily_rev(table(spark, sf_dir, "events"))
    by_dow = daily.groupBy(
        "event_type",
        (F.dayofweek("day") - 1).cast("bigint").alias("dow"),
    ).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.sum("rev"), 4).alias("dow_rev"),
    )
    base = by_dow.groupBy(F.col("event_type").alias("b_type")).agg(
        F.round(F.sum("dow_rev"), 4).alias("tot_rev"),
        F.sum("n_days").cast("bigint").alias("tot_days"),
    )
    dow_avg = F.col("dow_rev") / F.col("n_days")
    overall_avg = F.col("tot_rev") / F.col("tot_days")
    return (
        by_dow.join(
            F.broadcast(base), F.col("event_type") == F.col("b_type")
        )
        .select(
            "event_type",
            "dow",
            "n_days",
            dow_avg.alias("dow_daily_avg"),
            (dow_avg / overall_avg).alias("seasonality_idx"),
        )
    )


FUNNEL_WINDOW_H = 24  # max hours from first view to complete the chain


@register(
    "q_events_window_funnel",
    oracle=f"""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, v.t1, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
        AND e.ts <= v.t1 + INTERVAL {FUNNEL_WINDOW_H} HOUR
      GROUP BY e.user_id, v.t1
    ),
    p AS (
      SELECT c.user_id
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        AND e.ts <= c.t1 + INTERVAL {FUNNEL_WINDOW_H} HOUR
      GROUP BY c.user_id
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS depth, 'view' AS step,
             CAST(count(*) AS BIGINT) AS n_users FROM v
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'click',
             CAST(count(*) AS BIGINT) FROM c
      UNION ALL
      SELECT CAST(3 AS BIGINT), 'purchase',
             CAST(count(*) AS BIGINT) FROM p
    ) ORDER BY depth
    """,
)
def q_events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-CONSTRAINED ordered funnel (the windowFunnel shape):
    view -> click -> purchase where every later step lands within 24
    hours of the user's FIRST view, each step strictly after the
    previous one. q_events_funnel counts eventual converters; this
    counts converters within the engagement window - the form
    campaign attribution and session-conversion analyses need.

    Scale shape: each stage is a per-user min-agg (map-side
    combinable to one row per user pre-shuffle) equi-joined to the
    prior stage on user_id - three co-partitioned shuffles, no
    window sort, no row adjacency; the time constraint is a join-side
    predicate, so late/out-of-order events cost nothing extra. The
    final counts are three 1-row aggs unioned.
    """
    e = table(spark, sf_dir, "events")
    win = F.expr(f"INTERVAL {FUNNEL_WINDOW_H} HOURS")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + win))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t1") + win))
        .select("user_id")
        .distinct()
    )

    def stage(df: DataFrame, depth: int, step: str) -> DataFrame:
        return df.agg(
            F.lit(depth).cast("bigint").alias("depth"),
            F.lit(step).alias("step"),
            F.count("*").alias("n_users"),
        )

    return (
        stage(v, 1, "view")
        .unionByName(stage(c, 2, "click"))
        .unionByName(stage(p, 3, "purchase"))
        .orderBy("depth")
    )


MAD_K = 0.6745  # normal-consistency factor: robust_z ~ z under normality
MAD_FLAG_Z = 3.5  # the classic Iglewicz-Hoaglin outlier cut


@register(
    "q_events_anomaly_mad",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             round(sum(value), 4) AS rev
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, median(rev) AS med FROM daily GROUP BY event_type
    ),
    dev AS (
      SELECT d.event_type, d.day, d.rev, m.med,
             abs(d.rev - m.med) AS adev
      FROM daily d JOIN med m ON d.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.rev,
           round(d.med, 4) AS med, round(x.mad, 4) AS mad,
           round(CASE WHEN x.mad <> 0
                      THEN {MAD_K} * (d.rev - d.med) / x.mad END, 4)
               AS robust_z,
           CASE WHEN x.mad <> 0
                AND abs({MAD_K} * (d.rev - d.med) / x.mad) > {MAD_FLAG_Z}
                THEN 1 ELSE 0 END AS is_outlier
    FROM dev d JOIN mad x ON d.event_type = x.event_type
    """,
)
def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST daily-revenue outlier scoring via median absolute
    deviation: robust_z = 0.6745 * (x - median) / MAD, flagged above
    3.5 (Iglewicz-Hoaglin). The z-score twin (q_events_anomaly) is
    itself dragged by the outliers it hunts; the MAD breaks down only
    past 50% contamination - the robust complement every anomaly
    stack carries.

    Scale shape: the event stream collapses to the bounded
    (type, day) rollup FIRST; both medians are exact sort-based aggs
    over that bounded frame (|days| rows per type), never over raw
    events, and join back broadcast-small. MAD = 0 (>= half the days
    identical) yields NULL scores, not a division error - mirrored
    CASE in both engines. Medians of even counts interpolate
    (a + b) / 2 identically on identical 4dp-rounded inputs.
    """
    daily = _daily_rev(table(spark, sf_dir, "events"))
    med = daily.groupBy("event_type").agg(F.median("rev").alias("med"))
    dev = daily.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("rev") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    rz = F.lit(MAD_K) * (F.col("rev") - F.col("med")) / F.col("mad")
    return (
        dev.join(mad, "event_type")
        .select(
            "event_type",
            "day",
            "rev",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
            F.round(F.when(F.col("mad") != 0, rz), 4).alias("robust_z"),
            F.when(
                (F.col("mad") != 0) & (F.abs(rz) > MAD_FLAG_Z), 1
            )
            .otherwise(0)
            .cast("int")
            .alias("is_outlier"),
        )
    )


@register(
    "q_events_user_overlap",
    oracle="""
    WITH au AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM au GROUP BY 1
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM au a JOIN au b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
           round(i.n_common::DOUBLE / (sa.n + sb.n - i.n_common), 6)
               AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
)
def q_events_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise AUDIENCE OVERLAP between event types: |users(A) n
    users(B)| and Jaccard for every type pair - the
    segment-similarity matrix behind cross-sell targeting and
    cannibalization checks (and the exact twin of what
    q_agg_hll_intersect estimates with sketches).

    Scale shape: events dedup to the (type, user) audience table
    first (one shuffle, map-side combinable); the pair intersection
    is a self-join ON user_id, so fan-out per user is bounded by
    |types|^2, never cross-user; per-type sizes are a |types|-row agg
    that AQE broadcasts back. The single division per output row is
    IEEE-identical cross-engine. At 100 TB with unbounded type
    vocabularies, the sketch twin (hll_intersect) is the declared
    approximate path.
    """
    e = table(spark, sf_dir, "events")
    au = e.select("event_type", "user_id").distinct()
    sizes = au.groupBy("event_type").agg(F.count("*").alias("n"))
    a = au.select(F.col("event_type").alias("type_a"), "user_id")
    b = au.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def _user_gap_seconds(e: DataFrame, attach: str) -> DataFrame:
    """Per-user inter-event gaps in seconds over the shared
    (user_id) x (ts, event_id) ordering - the common first stage of
    dwell-time and bot-detection. `attach` names the column carried
    alongside each gap: the gap between consecutive events is
    attributed to the EARLIER event (lead form), so attaching
    event_type yields dwell semantics and attaching user_id yields
    the per-user gap multiset. Gaps derive from exact microsecond
    integer diffs."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        attach,
        (
            (
                F.unix_micros(F.lead("ts").over(w))
                - F.unix_micros(F.col("ts"))
            ).cast("double")
            / 1000000.0
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())


@register(
    "q_events_dwell_time",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             CAST(date_diff('microsecond', ts,
                  lead(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id)) AS DOUBLE)
               / 1000000.0 AS gap_s
      FROM events
    )
    SELECT event_type,
           CAST(count(gap_s) AS BIGINT) AS n_gaps,
           round(quantile_cont(gap_s, 0.5), 4) AS p50_s,
           round(quantile_cont(gap_s, 0.9), 4) AS p90_s,
           round(avg(gap_s), 4) AS mean_s
    FROM gaps
    WHERE gap_s IS NOT NULL
    GROUP BY event_type
    """,
)
def q_events_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DWELL-TIME distribution: per event type, the median / p90 /
    mean seconds until the SAME user's next event (any type) - the
    engagement-depth signal behind session-timeout tuning and
    content-ranking labels (what users linger on).

    Scale shape: one window shuffle on user_id (the same
    partitioning every per-user analytic reuses) computes the
    lead-gap; the percentile agg then groups by event_type - exact
    interpolated percentiles over per-type gap frames. Gaps derive
    from exact microsecond integer diffs, so both engines interpolate
    identical doubles; at 100 TB swap the exact percentile for
    approx_percentile and keep the identical plan shape.
    """
    gaps = _user_gap_seconds(table(spark, sf_dir, "events"), "event_type")
    return gaps.groupBy("event_type").agg(
        F.count("gap_s").alias("n_gaps"),
        F.round(F.expr("percentile(gap_s, 0.5)"), 4).alias("p50_s"),
        F.round(F.expr("percentile(gap_s, 0.9)"), 4).alias("p90_s"),
        F.round(F.avg("gap_s"), 4).alias("mean_s"),
    )


MARKOV_STEPS = 3


@register(
    "q_events_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    c AS (
      SELECT prev_type, event_type, CAST(count(*) AS DOUBLE) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    p AS (
      SELECT prev_type, event_type,
             n / sum(n) OVER (PARTITION BY prev_type) AS p
      FROM c
    ),
    states AS (SELECT DISTINCT prev_type AS state FROM c),
    pi0 AS (
      SELECT state, 1.0 / (SELECT count(*) FROM states) AS pi FROM states
    ),
    pi1 AS (
      SELECT p.event_type AS state, sum(x.pi * p.p) AS pi
      FROM p JOIN pi0 x ON p.prev_type = x.state GROUP BY p.event_type
    ),
    pi2 AS (
      SELECT p.event_type AS state, sum(x.pi * p.p) AS pi
      FROM p JOIN pi1 x ON p.prev_type = x.state GROUP BY p.event_type
    ),
    pi3 AS (
      SELECT p.event_type AS state, sum(x.pi * p.p) AS pi
      FROM p JOIN pi2 x ON p.prev_type = x.state GROUP BY p.event_type
    )
    SELECT state, round(pi, 6) AS pi FROM pi3
    """,
)
def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-STATIONARY distribution of the behavior Markov chain:
    power-iterate the transition matrix (q_events_transition's P)
    3 (MARKOV_STEPS) steps from uniform - where user behavior settles,
    the long-run share of each action, and the chain-level summary a
    next-action model is benchmarked against. Fixed step count keeps
    the plan a finite declarative chain (the q_graph_pagerank rule).

    Scale shape: ONE user-partitioned window shuffle builds the
    transitions; everything after runs on the |types|^2 frame - each
    superstep is a join + sum over at most |types|^2 rows, broadcast
    by AQE. Per-state inflow terms are summed per engine in
    different orders; the 6dp final round absorbs the ULPs (at most
    |types| terms per state).
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    # Checkpoint the |types|^2 transition-count frame (r14): it is
    # consumed by p, states AND (through p) every superstep, so the
    # fully-declarative chain embedded the events window
    # shuffle+sort 4x in one plan - exchange reuse dedupes the
    # shuffle write but each reference re-runs the sort+window
    # stage. One lazy localCheckpoint of the ~|types|^2-row frame
    # runs sessionized lag ONCE (pagerank/CC superstep class).
    c = superstep_checkpoint(
        seq.groupBy("prev_type", "event_type").agg(
            F.count("*").cast("double").alias("n")
        )
    )
    wp = Window.partitionBy("prev_type")
    p = c.select(
        "prev_type", "event_type", (F.col("n") / F.sum("n").over(wp)).alias("p")
    )
    states = c.select(F.col("prev_type").alias("state")).distinct()
    n_states = states.agg(F.count("*").alias("k"))
    pi = states.crossJoin(n_states).select(
        "state", (F.lit(1.0) / F.col("k")).alias("pi")
    )
    for _ in range(MARKOV_STEPS):
        pi = (
            p.join(pi, p["prev_type"] == pi["state"])
            .select("event_type", (F.col("pi") * F.col("p")).alias("w_"))
            .groupBy("event_type")
            .agg(F.sum("w_").alias("pi"))
            .select(F.col("event_type").alias("state"), "pi")
        )
    return pi.select("state", F.round("pi", 6).alias("pi"))


@register(
    "q_events_growth_accounting",
    oracle="""
    WITH au AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ),
    lagged AS (
      SELECT user_id, day,
             lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day
      FROM au
    )
    SELECT day,
           CAST(count(*) FILTER (WHERE prev_day IS NULL) AS BIGINT) AS n_new,
           CAST(count(*) FILTER (WHERE prev_day = day - INTERVAL 1 DAY)
                AS BIGINT) AS n_retained,
           CAST(count(*) FILTER (WHERE prev_day IS NOT NULL
                                 AND prev_day < day - INTERVAL 1 DAY)
                AS BIGINT) AS n_resurrected,
           CAST(count(*) AS BIGINT) AS n_active
    FROM lagged
    GROUP BY day
    """,
)
def q_events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROWTH ACCOUNTING: every active (user, day) classified as new
    (first-ever day), retained (also active the previous calendar
    day), or resurrected (returning after a gap) - the standard
    DAU-decomposition behind growth dashboards, where net change =
    new + resurrected - churned and the three inflows are exactly
    these columns.

    Scale shape: the event stream dedups to (user, day) first (one
    map-side-combinable shuffle); the lag runs per user over that
    BOUNDED frame (<= |days| rows per user, not events); the daily
    rollup is a |days|-row aggregate. Calendar comparison (day - 1),
    not row adjacency, so gap days classify correctly.
    """
    e = table(spark, sf_dir, "events")
    au = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    lagged = au.withColumn("prev_day", F.lag("day").over(w))
    one_day = F.expr("INTERVAL 1 DAYS")
    return lagged.groupBy("day").agg(
        F.count(F.when(F.col("prev_day").isNull(), 1)).alias("n_new"),
        F.count(
            F.when(F.col("prev_day") == F.col("day") - one_day, 1)
        ).alias("n_retained"),
        F.count(
            F.when(
                F.col("prev_day").isNotNull()
                & (F.col("prev_day") < F.col("day") - one_day),
                1,
            )
        ).alias("n_resurrected"),
        F.count("*").alias("n_active"),
    )


BOT_MIN_EVENTS = 10
BOT_CV_MAX = 0.5


@register(
    "q_events_bot_detect",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id,
             CAST(date_diff('microsecond',
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  ts) AS DOUBLE) / 1000000.0 AS gap_s
      FROM events
    ),
    stats AS (
      SELECT user_id,
             CAST(count(gap_s) AS BIGINT) AS n_gaps,
             round(avg(gap_s), 4) AS mean_gap_s,
             round(stddev_samp(gap_s), 4) AS sd_gap_s
      FROM gaps WHERE gap_s IS NOT NULL
      GROUP BY user_id
      HAVING count(gap_s) >= {BOT_MIN_EVENTS}
    )
    SELECT user_id, n_gaps, mean_gap_s, sd_gap_s,
           round(sd_gap_s / mean_gap_s, 4) AS gap_cv,
           CASE WHEN sd_gap_s / mean_gap_s < {BOT_CV_MAX}
                THEN 1 ELSE 0 END AS bot_like
    FROM stats
    WHERE mean_gap_s > 0
    """,
)
def q_events_bot_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOT / automation detection by inter-event-time regularity:
    per user (>= 10 gaps), the coefficient of variation of gaps
    between consecutive events - humans are bursty (cv ~ 1 for
    Poisson-like arrivals, higher with sessions), schedulers and
    scripted clients are metronomic (cv -> 0). The data-cleaning
    gate a training pipeline runs before behavioral events become
    features.

    Scale shape: ONE user-partitioned window (the shared per-user
    sort) emits gaps; the stats are map-side-combinable aggs; cv
    derives from the two 4dp-rounded aggregates so both engines do
    the identical final division. Thresholds are named constants;
    the flag is data-dependent (0 flagged on a truly random corpus
    is itself the correct reading).
    """
    # lead-form gaps: the same per-user multiset the oracle's lag
    # form produces (each consecutive pair contributes exactly once).
    gaps = _user_gap_seconds(table(spark, sf_dir, "events"), "user_id")
    stats = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.round(F.avg("gap_s"), 4).alias("mean_gap_s"),
            F.round(F.stddev_samp("gap_s"), 4).alias("sd_gap_s"),
        )
        .filter(
            (F.col("n_gaps") >= BOT_MIN_EVENTS) & (F.col("mean_gap_s") > 0)
        )
    )
    cv = F.col("sd_gap_s") / F.col("mean_gap_s")
    return stats.select(
        "user_id",
        "n_gaps",
        "mean_gap_s",
        "sd_gap_s",
        F.round(cv, 4).alias("gap_cv"),
        F.when(cv < BOT_CV_MAX, 1).otherwise(0).cast("int").alias("bot_like"),
    )


@register(
    "q_win_period_growth",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             round(sum(value), 4) AS rev
      FROM events GROUP BY 1, 2
    )
    SELECT d.event_type, d.day, d.rev,
           round(CASE WHEN p1.rev <> 0 THEN d.rev / p1.rev - 1 END, 4)
               AS dod_growth,
           round(CASE WHEN p7.rev <> 0 THEN d.rev / p7.rev - 1 END, 4)
               AS wow_growth
    FROM daily d
    LEFT JOIN daily p1 ON p1.event_type = d.event_type
                      AND p1.day = d.day - INTERVAL 1 DAY
    LEFT JOIN daily p7 ON p7.event_type = d.event_type
                      AND p7.day = d.day - INTERVAL 7 DAY
    """,
)
def q_win_period_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERIOD-OVER-PERIOD growth: day-over-day and week-over-week
    revenue growth rates per event type - the dashboard staple.
    Prior periods come from CALENDAR self-joins (day - 1 / day - 7),
    not lag() row offsets: a row-offset lag silently compares the
    wrong period across gap days (the q_events_forecast_seasonal
    rule). Missing or zero baselines yield NULL growth, mirrored in
    both engines.

    Scale shape: events collapse to the bounded (type, day) rollup
    first; both self-joins and the growth arithmetic run on that
    |types| x |days| frame (AQE broadcasts it); 4dp-first rounding
    keeps the division IEEE-identical cross-engine.
    """
    daily = _daily_rev(table(spark, sf_dir, "events"))

    def prior(days: int, alias: str) -> DataFrame:
        """The rollup shifted FORWARD by `days`, so the caller joins
        on plain equality and the offset cannot drift from the
        parameter."""
        return daily.select(
            F.col("event_type").alias(f"{alias}_type"),
            (F.col("day") + F.expr(f"INTERVAL {days} DAYS")).alias(
                f"{alias}_day"
            ),
            F.col("rev").alias(f"{alias}_rev"),
        )

    p1, p7 = prior(1, "p1"), prior(7, "p7")
    return (
        daily.join(
            p1,
            (F.col("event_type") == F.col("p1_type"))
            & (F.col("p1_day") == F.col("day")),
            "left",
        )
        .join(
            p7,
            (F.col("event_type") == F.col("p7_type"))
            & (F.col("p7_day") == F.col("day")),
            "left",
        )
        .select(
            "event_type",
            "day",
            "rev",
            F.round(
                F.when(F.col("p1_rev") != 0, F.col("rev") / F.col("p1_rev") - 1),
                4,
            ).alias("dod_growth"),
            F.round(
                F.when(F.col("p7_rev") != 0, F.col("rev") / F.col("p7_rev") - 1),
                4,
            ).alias("wow_growth"),
        )
    )


SEQ_MINE_TOP = 20


@register(
    "q_events_sequence_mining",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS pattern,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, pattern
    LIMIT {SEQ_MINE_TOP}
    """,
)
def q_events_sequence_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTIGUOUS-SEQUENCE mining: the top-20 most frequent 3-step
    event-type sequences across all user streams - the bounded-
    pattern complement to q_events_session_path (full paths explode
    in cardinality; fixed-length windows stay countable) and the
    input to next-action candidate generation.

    Scale shape: ONE user-partitioned window sort (shared with every
    per-user analytic) emits both leads; the pattern agg is two-phase
    over at most |types|^3 distinct keys; top-20 is
    TakeOrderedAndProject. No self-joins, no explode.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("pattern")
        )
        .groupBy("pattern")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "pattern")
        .limit(SEQ_MINE_TOP)
    )


@register(
    "q_win_rolling_median",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             round(sum(value), 4) AS rev
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, rev,
           round(median(rev) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS med7
    FROM daily
    """,
)
def q_win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING MEDIAN smoothing: trailing-7-row median of daily
    revenue per event type - the robust trendline that a single
    spike day cannot drag (the windowed sibling of
    q_events_anomaly_mad's global median; q_win_moving_avg is the
    outlier-sensitive version).

    Scale shape: the stream collapses to the bounded (type, day)
    rollup first, so the exact windowed median - O(frame log frame)
    per row - runs over |days| rows per type, never raw events.
    Spark refuses median() with a window frame
    (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the frame is
    gathered with collect_list (frameable), sorted, and interpolated
    explicitly - the identical (a+b)/2 even-count rule DuckDB's
    windowed median() applies, over identical 4dp-rounded inputs;
    frame width <= 7 bounds the per-row array.
    """
    daily = _daily_rev(table(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    fr = F.array_sort(F.collect_list("rev").over(w))
    n = F.size(fr)
    med = F.when(
        n % 2 == 1, F.element_at(fr, ((n + 1) / 2).cast("int"))
    ).otherwise(
        (
            F.element_at(fr, (n / 2).cast("int"))
            + F.element_at(fr, (n / 2).cast("int") + 1)
        )
        / 2.0
    )
    return daily.select(
        "event_type",
        "day",
        "rev",
        F.round(med, 4).alias("med7"),
    )


@register(
    "q_events_hour_heatmap",
    oracle="""
    SELECT isodow(ts) AS dow, CAST(hour(ts) AS BIGINT) AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS revenue
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTIVITY HEATMAP: event count and revenue by ISO day-of-week
    x hour-of-day - the usage-rhythm view behind staffing,
    batch-window placement, and anomaly baselines. Day numbering is
    the cross-engine hazard (Spark dayofweek is 1=Sunday, DuckDB
    dayofweek is 0=Sunday): both sides pin ISO numbering (1=Monday
    .. 7=Sunday; Spark weekday()+1 = DuckDB isodow()).

    Scale shape: one two-phase agg straight off the scan into a hard
    7 x 24 output - flat at any input size; the grouping keys are
    computed map-side from the timestamp, no calendar join.
    """
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.weekday("ts") + 1).cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hour"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("revenue"),
        )
    )


@register(
    "q_events_concurrent_peak",
    oracle="""
    WITH bounds AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sess AS (
      SELECT user_id,
             sum(is_start) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS sid,
             ts
      FROM bounds
    ),
    ivals AS (
      SELECT user_id, sid, min(ts) AS s, max(ts) AS e
      FROM sess GROUP BY user_id, sid
    ),
    marks AS (
      SELECT s AS ts, 1 AS delta FROM ivals
      UNION ALL
      SELECT e AS ts, -1 AS delta FROM ivals
    ),
    sweep AS (
      SELECT ts, sum(delta) OVER (
               ORDER BY ts, delta DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS concurrent
      FROM marks
    )
    SELECT date_trunc('day', ts) AS day,
           CAST(max(concurrent) AS BIGINT) AS peak_concurrent
    FROM sweep
    GROUP BY 1
    """,
)
def q_events_concurrent_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENCY by sweep line: sessionize each user's stream
    (30-min gap), turn every session interval into +1/-1 boundary
    marks, running-sum the marks in time order, and report the daily
    maximum of simultaneously-open sessions - the capacity-planning
    number (a +1 sorts before a -1 at the same instant, so touching
    sessions count as concurrent; both engines order (ts, delta
    DESC)).

    Scale shape: sessionization is the standard lag+cumsum pair of
    windows on the shared user partitioning; the sweep operates on
    2 x |sessions| boundary rows, NOT events - and it is
    DAY-PARTITIONED with carry-in counts (the q_events_anomaly_chunked
    overlap pattern, implemented r7 after the r6 audit flagged the
    global time-order window as an Exchange SinglePartition
    single-task sort): the running sum at any mark = (sum of all
    previous days' deltas) + (running sum within the day), because
    every earlier-day mark precedes every same-day mark in the
    global (ts, delta DESC) order and ties share a day by
    construction. The carry-in prefix runs on the bounded |days|
    spine via a broadcast triangular join (no window at all), so no
    stage sorts more than one day of marks.
    """
    e = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bounds = e.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(wu).isNull()
            | (
                F.col("ts") - F.lag("ts").over(wu)
                > F.expr("INTERVAL 30 MINUTES")
            ),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
        "event_id",
    )
    sess = bounds.select(
        "user_id",
        F.sum("is_start").over(wu).alias("sid"),
        "ts",
    )
    ivals = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    # marks is consumed by BOTH the day-local running sum and the
    # day-totals carry side: checkpoint so sessionization runs ONCE
    # (lazy; the r7 bench caught the un-checkpointed double compute
    # amplifying under in-session cache pressure).
    marks = ivals.select(F.col("s").alias("ts"), F.lit(1).alias("delta")).unionAll(
        ivals.select(F.col("e").alias("ts"), F.lit(-1).alias("delta"))
    ).withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    marks = superstep_checkpoint(marks)
    # Day-local running sum: a PARALLEL per-day window (the only sort
    # is one day's marks per task).
    wd = Window.partitionBy("day").orderBy(
        F.col("ts"), F.col("delta").desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = marks.select(
        "day", F.sum("delta").over(wd).alias("run")
    )
    # Carry-in = sum of ALL previous days' deltas, on the bounded
    # |days| spine via a broadcast triangular join (window-free).
    daytot = marks.groupBy("day").agg(F.sum("delta").alias("dtot"))
    carry = (
        daytot.alias("L")
        .join(
            daytot.alias("R"),
            F.col("R.day") < F.col("L.day"),
            "left",
        )
        .groupBy(F.col("L.day").alias("day"))
        .agg(F.coalesce(F.sum("R.dtot"), F.lit(0)).alias("carry"))
    )
    return (
        local.join(F.broadcast(carry), "day")
        .groupBy(F.col("day"))
        .agg(
            F.max(F.col("carry") + F.col("run"))
            .cast("bigint")
            .alias("peak_concurrent")
        )
    )


LEAD_TIME_LATE_DAYS = 90


@register(
    "q_supplier_lead_time",
    oracle=f"""
    WITH lat AS (
      SELECT l_suppkey,
             CAST(date_diff('day', o_orderdate, l_shipdate) AS DOUBLE)
               AS lead_days
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(avg(lead_days), 4) AS mean_days,
           round(quantile_cont(lead_days, 0.9), 4) AS p90_days,
           round(CAST(count(*) FILTER (WHERE lead_days > {LEAD_TIME_LATE_DAYS})
                 AS DOUBLE) / count(*), 6) AS late_rate
    FROM lat
    GROUP BY l_suppkey
    HAVING count(*) >= 20
    """,
)
def q_supplier_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUPPLIER LEAD-TIME scorecard: order-to-ship latency per
    supplier (mean, exact p90, share beyond 90 days) over suppliers
    with >= 20 lines - the vendor-performance rollup procurement
    dashboards run (and TPC-H Q21's late-supplier theme as a full
    scorecard instead of one count).

    Scale shape: ONE fact-fact equi join on the order key (the same
    shuffle q_join_inner_shuffle benchmarks) projecting only the two
    dates; per-supplier stats are map-side-combinable plus one exact
    interpolated percentile over each supplier's bounded latency
    frame. Latencies are exact integer day diffs, so both engines
    interpolate identical doubles.
    """
    t = load(spark, sf_dir)
    lat = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_suppkey",
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("double")
            .alias("lead_days"),
        )
    )
    return (
        lat.groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.avg("lead_days"), 4).alias("mean_days"),
            F.round(F.expr("percentile(lead_days, 0.9)"), 4).alias("p90_days"),
            F.round(
                F.count(
                    F.when(F.col("lead_days") > LEAD_TIME_LATE_DAYS, 1)
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("late_rate"),
        )
        .filter(F.col("n_lines") >= 20)
    )


@register(
    "q_events_multitouch_attribution",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, ts AS touch_ts, event_type AS touch_type
      FROM events WHERE event_type IN ('click', 'view')
    ),
    credited AS (
      SELECT p.event_id, t.touch_type, p.value,
             count(*) OVER (PARTITION BY p.event_id) AS n_touches
      FROM purchases p
      JOIN touches t
        ON t.user_id = p.user_id
       AND t.touch_ts < p.ts
       AND t.touch_ts >= p.ts - INTERVAL 7 DAY
    )
    SELECT touch_type,
           CAST(count(*) AS BIGINT) AS n_credits,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_purchases_touched,
           round(sum(value / n_touches), 4) AS credited_revenue
    FROM credited
    GROUP BY touch_type
    """,
)
def q_events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR MULTI-TOUCH attribution: every click/view in the 7 days
    before a purchase shares the purchase value equally (value /
    n_touches) - the multi-touch complement to q_events_attribution's
    last-touch model, and the fairer budget-allocation readout when
    journeys have many touchpoints.

    Scale shape: purchases join touches per USER (equi key; the range
    predicate rides the join), so fan-out is bounded by per-user
    touch density, never cross-user; the per-purchase touch count is
    a window over that co-partitioned frame; credit aggregation is
    two-phase. The division happens per credit row BEFORE the sum,
    and the 4dp final round absorbs cross-engine summation-order
    ULPs.
    """
    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("touch_type"),
    )
    credited = (
        purchases.join(
            touches,
            (F.col("t_user") == F.col("user_id"))
            & (F.col("touch_ts") < F.col("ts"))
            & (F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
        )
        .withColumn(
            "n_touches", F.count("*").over(Window.partitionBy("event_id"))
        )
    )
    return credited.groupBy("touch_type").agg(
        F.count("*").alias("n_credits"),
        F.countDistinct("event_id").alias("n_purchases_touched"),
        F.round(F.sum(F.col("value") / F.col("n_touches")), 4).alias(
            "credited_revenue"
        ),
    )


@register(
    "q_events_cart_abandonment",
    oracle="""
    WITH clicks AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day
      FROM events WHERE event_type = 'click'
    ),
    converted AS (
      SELECT DISTINCT c.user_id, c.day
      FROM clicks c JOIN events p
        ON p.user_id = c.user_id
       AND p.event_type = 'purchase'
       AND p.ts >= c.day
       AND p.ts < c.day + INTERVAL 2 DAY
    )
    SELECT c.day,
           CAST(count(*) AS BIGINT) AS n_engaged,
           CAST(count(*) FILTER (WHERE v.user_id IS NULL) AS BIGINT)
               AS n_abandoned,
           round(CAST(count(*) FILTER (WHERE v.user_id IS NULL) AS DOUBLE)
                 / count(*), 6) AS abandonment_rate
    FROM clicks c
    LEFT JOIN converted v ON v.user_id = c.user_id AND v.day = c.day
    GROUP BY c.day
    """,
)
def q_events_cart_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABANDONMENT RATE: per day, the share of users who clicked that
    day but did not purchase within the day or the next (a 48-hour
    conversion window from midnight) - the inverse of the funnel's
    conversion read, and the daily e-commerce KPI
    (q_events_window_funnel counts completers; this names the
    leakage).

    Scale shape: engaged users dedup to (user, day) map-side; the
    conversion probe is a per-user equi join with the 2-day window
    riding it, deduped back to (user, day); the daily rollup counts
    via a LEFT join on the bounded engaged frame. No window
    functions at all - pure dedup/join/agg.
    """
    e = table(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = (
        clicks.join(
            purchases,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") >= F.col("day"))
            & (F.col("p_ts") < F.col("day") + F.expr("INTERVAL 2 DAYS")),
        )
        .select("user_id", "day")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    return (
        clicks.join(converted, ["user_id", "day"], "left")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_engaged"),
            F.count(F.when(F.col("converted").isNull(), 1)).alias(
                "n_abandoned"
            ),
            F.round(
                F.count(F.when(F.col("converted").isNull(), 1)).cast("double")
                / F.count("*"),
                6,
            ).alias("abandonment_rate"),
        )
    )


SEG_SPLIT_DAY = 15  # first half: day-of-month < 15 (generator spans one month)


@register(
    "q_customer_segment_migration",
    oracle=f"""
    WITH halves AS (
      SELECT user_id,
             CASE WHEN day(ts) < {SEG_SPLIT_DAY} THEN 1 ELSE 2 END AS half,
             value
      FROM events WHERE event_type = 'purchase'
    ),
    spend AS (
      SELECT user_id, half, round(sum(value), 4) AS spend
      FROM halves GROUP BY user_id, half
    ),
    med AS (
      SELECT half, median(spend) AS med FROM spend GROUP BY half
    ),
    seg AS (
      SELECT s.user_id, s.half,
             CASE WHEN s.spend >= m.med THEN 'high' ELSE 'low' END AS segment
      FROM spend s JOIN med m ON s.half = m.half
    ),
    paired AS (
      SELECT coalesce(a.segment, 'none') AS seg_h1,
             coalesce(b.segment, 'none') AS seg_h2
      FROM (SELECT user_id, segment FROM seg WHERE half = 1) a
      FULL OUTER JOIN (SELECT user_id, segment FROM seg WHERE half = 2) b
        ON a.user_id = b.user_id
    )
    SELECT seg_h1, seg_h2, CAST(count(*) AS BIGINT) AS n_users
    FROM paired GROUP BY seg_h1, seg_h2
    """,
)
def q_customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT MIGRATION matrix: split the window into two halves,
    segment purchasers high/low against each half's median spend,
    and count users per (first-half segment, second-half segment)
    cell including entrances and exits ('none') - the
    churn-and-upgrade movement view behind lifecycle marketing
    (q_events_rfm scores a single window; this tracks movement
    BETWEEN windows).

    Scale shape: per-(user, half) spend is one combinable agg; the
    medians are 2-row aggs broadcast back; the migration pairing is
    a per-user FULL OUTER self-join of two bounded segment tables;
    the matrix is a <=9-row agg. Median thresholds make the
    segmentation scale-free (no fixed dollar cut to re-tune).
    """
    e = table(spark, sf_dir, "events")
    halves = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.when(F.dayofmonth("ts") < SEG_SPLIT_DAY, 1).otherwise(2).alias("half"),
        "value",
    )
    spend = halves.groupBy("user_id", "half").agg(
        F.round(F.sum("value"), 4).alias("spend")
    )
    med = spend.groupBy("half").agg(F.median("spend").alias("med"))
    seg = spend.join(med, "half").select(
        "user_id",
        "half",
        F.when(F.col("spend") >= F.col("med"), "high")
        .otherwise("low")
        .alias("segment"),
    )
    a = seg.filter(F.col("half") == 1).select(
        "user_id", F.col("segment").alias("s1")
    )
    b = seg.filter(F.col("half") == 2).select(
        "user_id", F.col("segment").alias("s2")
    )
    return (
        a.join(b, "user_id", "full_outer")
        .select(
            F.coalesce(F.col("s1"), F.lit("none")).alias("seg_h1"),
            F.coalesce(F.col("s2"), F.lit("none")).alias("seg_h2"),
        )
        .groupBy("seg_h1", "seg_h2")
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "q_subquery_not_in",
    oracle="""
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
          AS never_ordered,
      (SELECT CAST(count(*) AS BIGINT) FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                               UNION ALL SELECT NULL))
          AS with_null_poison,
      (SELECT CAST(count(*) AS BIGINT) FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                               WHERE o_custkey IS NOT NULL))
          AS null_filtered
    """,
)
def q_subquery_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN three-valued-logic pin: customers who never ordered,
    counted three ways - against the raw subquery, against the same
    subquery WITH a NULL injected (SQL's famous NOT IN null poison:
    the count collapses to 0 because x NOT IN (..., NULL) is never
    TRUE), and against the explicitly null-filtered subquery (the
    production-safe form). Both engines implement the standard
    semantics; this operator exists so a refactor to anti-join
    (which has NOT-EXISTS semantics, not NOT-IN) cannot silently
    change results.

    Scale shape: Catalyst plans NOT IN as a null-aware anti join
    (broadcast here); the three counts are independent scalar
    subqueries over the same broadcast.
    """
    load(spark, sf_dir)
    return spark.sql(
        """
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
              AS never_ordered,
          (SELECT CAST(count(*) AS BIGINT) FROM customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                   UNION ALL SELECT NULL))
              AS with_null_poison,
          (SELECT CAST(count(*) AS BIGINT) FROM customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                   WHERE o_custkey IS NOT NULL))
              AS null_filtered
        """
    )


@register(
    "q_part_price_elasticity",
    oracle="""
    WITH obs AS (
      SELECT p.p_brand,
             ln(l.l_quantity) AS ly,
             ln(l.l_extendedprice / l.l_quantity
                * (1 - l.l_discount)) AS lx
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
        AND l.l_discount < 1
    ),
    sums AS (
      SELECT p_brand,
             CAST(count(*) AS BIGINT) AS n,
             sum(lx) AS sx, sum(ly) AS sy, sum(lx * ly) AS sxy,
             sum(lx * lx) AS sxx, sum(ly * ly) AS syy
      FROM obs GROUP BY p_brand
    )
    SELECT p_brand, n,
           round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0), 4)
               AS elasticity,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 4)
               AS r2
    FROM sums ORDER BY p_brand
    """,
)
def q_part_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand: OLS slope of
    ln(quantity) on ln(effective unit price) over line items - the
    log-log regression whose slope IS the elasticity estimate, the
    pricing-analytics workhorse (elasticity < -1 = elastic; the
    synthetic generator's independent price/qty draws land near 0,
    which is itself the null-result read).

    Scale shape: one fact-dim broadcast join projects two log
    columns map-side; the five power sums are ONE two-phase
    combinable agg per brand; the estimator is projection
    arithmetic on the |brands|-row frame (q_stats_ols_trend's
    discipline on a log-transformed fact scan). Log outputs are
    irrational, so the 4dp rounding of sums-of-logs is
    boundary-safe.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    obs = (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(
            (F.col("l_quantity") > 0)
            & (F.col("l_extendedprice") > 0)
            & (F.col("l_discount") < 1)
        )
        .select(
            "p_brand",
            F.log(F.col("l_quantity")).alias("ly"),
            F.log(
                F.col("l_extendedprice")
                / F.col("l_quantity")
                * (1 - F.col("l_discount"))
            ).alias("lx"),
        )
    )
    sums = obs.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return sums.select(
        "p_brand",
        "n",
        F.round(num / F.nullif(den, F.lit(0)), 4).alias("elasticity"),
        F.round(
            num
            * num
            / F.nullif(
                den * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")),
                F.lit(0),
            ),
            4,
        ).alias("r2"),
    ).orderBy("p_brand")


@register(
    "q_orders_backlog",
    oracle="""
    WITH shipped AS (
      SELECT l_orderkey, max(l_shipdate) AS done_ts
      FROM lineitem GROUP BY l_orderkey
    ),
    marks AS (
      SELECT date_trunc('day', o.o_orderdate) AS day, 1 AS delta
      FROM orders o
      UNION ALL
      SELECT date_trunc('day', s.done_ts) AS day, -1 AS delta
      FROM orders o JOIN shipped s ON o.o_orderkey = s.l_orderkey
    ),
    daily AS (
      SELECT day, CAST(sum(delta) AS BIGINT) AS net,
             CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_opened,
             CAST(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_closed
      FROM marks GROUP BY day
    )
    SELECT day, n_opened, n_closed,
           CAST(sum(net) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
    FROM daily ORDER BY day
    """,
)
def q_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog curve by sweep line: +1 when an order is
    placed, -1 on the day its LAST line item ships (completion =
    max shipdate per order), cumulative sum = how many orders are
    in flight each day - the operations 'work in progress' series
    (q_events_concurrent_peak's sweep discipline applied to the
    order lifecycle; orders never shipped simply never emit -1 and
    stay in the terminal backlog).

    Scale shape: completion is ONE max-agg per order (map-side
    combinable); the sweep runs on 2 rows per order collapsed to
    |days| rows before the single ordered cumsum window. All
    integer arithmetic - no float protocol needed.
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    shipped = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("done_ts"))
    opened = o.select(
        F.date_trunc("day", F.col("o_orderdate")).alias("day"),
        F.lit(1).alias("delta"),
    )
    closed = (
        o.join(shipped, o.o_orderkey == shipped.l_orderkey)
        .select(
            F.date_trunc("day", F.col("done_ts")).alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    daily = (
        opened.unionAll(closed)
        .groupBy("day")
        .agg(
            F.sum("delta").cast("bigint").alias("net"),
            F.count(F.when(F.col("delta") == 1, 1))
            .cast("bigint")
            .alias("n_opened"),
            F.count(F.when(F.col("delta") == -1, 1))
            .cast("bigint")
            .alias("n_closed"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        daily.select(
            "day",
            "n_opened",
            "n_closed",
            F.sum("net").over(w).cast("bigint").alias("backlog"),
        )
        .orderBy("day")
    )


VELOCITY_WINDOW_S = 86400  # 24-hour trailing window
VELOCITY_FLAG_N = 3       # >=3 purchases in the window flags


@register(
    "q_events_velocity_flags",
    oracle=f"""
    WITH p AS (
      SELECT user_id, epoch(ts) AS es
      FROM events WHERE event_type = 'purchase'
    ),
    vel AS (
      SELECT user_id,
             CAST(count(*) OVER (PARTITION BY user_id ORDER BY es
                  RANGE BETWEEN {VELOCITY_WINDOW_S} PRECEDING
                  AND CURRENT ROW) AS BIGINT) AS v
      FROM p
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           max(v) AS max_velocity,
           CAST(count(*) FILTER (WHERE v >= {VELOCITY_FLAG_N}) AS BIGINT)
               AS n_flagged
    FROM vel GROUP BY user_id
    HAVING max(v) >= {VELOCITY_FLAG_N}
    ORDER BY user_id
    """,
)
def q_events_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity fraud rule: users with >= 3 purchases inside ANY
    trailing 24-hour window, found with a RANGE (time-interval)
    window frame - not the row-count frames every other window
    operator uses. RANGE BETWEEN 86400 PRECEDING on epoch seconds
    counts every purchase in the sliding day exactly, regardless of
    how many events share a timestamp (a ROWS frame would undercount
    ties - that hazard is WHY this is a range frame). Thresholds
    calibrated non-vacuous on the fixture (the 1-hour/5x variant
    returns zero rows at every SF - probed, rejected).

    Scale shape: one user-partitioned shuffle-sort; the frame is
    bounded by data density, not row count; per-user rollup rides
    the same partitioning. All-integer arithmetic.
    """
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_timestamp("ts").alias("es")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-VELOCITY_WINDOW_S, 0)
    )
    vel = p.select(
        "user_id", F.count("*").over(w).cast("bigint").alias("v")
    )
    return (
        vel.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.max("v").alias("max_velocity"),
            F.count(F.when(F.col("v") >= VELOCITY_FLAG_N, 1))
            .cast("bigint")
            .alias("n_flagged"),
        )
        .filter(F.col("max_velocity") >= VELOCITY_FLAG_N)
        .orderBy("user_id")
    )


@register(
    "q_supplier_hhi",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey,
             CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                  * 100, 0) AS BIGINT)) AS BIGINT) AS r
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    ),
    tot AS (
      SELECT nation, CAST(sum(r) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_suppliers
      FROM rev GROUP BY nation
    )
    SELECT t.nation, t.n_suppliers,
           round(sum((CAST(r.r AS DOUBLE) / t.total)
                     * (CAST(r.r AS DOUBLE) / t.total)), 6) AS hhi,
           round(1.0 / t.n_suppliers, 6) AS hhi_floor
    FROM rev r JOIN tot t ON r.nation = t.nation
    GROUP BY t.nation, t.n_suppliers
    ORDER BY t.nation
    """,
)
def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market concentration per nation: the sum
    of squared supplier revenue shares (1/n = perfect competition
    floor, 1 = monopoly) - the antitrust-style concentration gauge
    complementing q_agg_gini's customer-side inequality read.

    Float protocol: revenue aggregates as integer cents
    (functions/exact.py), each share is ONE identical division, and
    only the squared-share SUM (engine summation order differs) is
    rounded - at 6 dp on an irrational-ish sum of big-denominator
    rationals, boundary hits have measure ~0.

    Scale shape: fact-dim broadcast join -> (nation, supplier)
    two-phase cent agg -> |nations|-row totals broadcast back ->
    bounded share arithmetic.
    """
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nation"), "l_suppkey")
        .agg(F.sum(cents).alias("r"))
    )
    tot = rev.groupBy("nation").agg(
        F.sum("r").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_suppliers"),
    )
    share = F.col("r").cast("double") / F.col("total")
    return (
        rev.join(F.broadcast(tot), "nation")
        .groupBy("nation", "n_suppliers")
        .agg(F.round(F.sum(share * share), 6).alias("hhi"))
        .select(
            "nation",
            "n_suppliers",
            "hhi",
            F.round(1.0 / F.col("n_suppliers"), 6).alias("hhi_floor"),
        )
        .orderBy("nation")
    )


CUPED_SPLIT_DAY = 15  # pre-period: day-of-month < 15 (the DiD split)


@register(
    "q_events_ab_cuped",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN ((user_id * {AB_HASH_A} + {AB_HASH_B})
                        % {AB_HASH_P}) % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             CAST(sum(CASE WHEN day(ts) < {CUPED_SPLIT_DAY}
                  THEN CAST(round(value * 100, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS pre_c,
             CAST(sum(CASE WHEN day(ts) >= {CUPED_SPLIT_DAY}
                  THEN CAST(round(value * 100, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS post_c
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    theta AS (
      SELECT (CAST(count(*) AS DOUBLE) * sum(CAST(pre_c AS DOUBLE) * post_c)
              - CAST(sum(pre_c) AS DOUBLE) * sum(post_c))
             / nullif(CAST(count(*) AS DOUBLE)
                      * sum(CAST(pre_c AS DOUBLE) * pre_c)
                      - CAST(sum(pre_c) AS DOUBLE) * sum(pre_c), 0)
                 AS th,
             CAST(sum(pre_c) AS DOUBLE) / (count(*) * 100.0) AS pre_mean
      FROM per_user
    ),
    adj AS (
      SELECT u.variant,
             u.post_c / 100.0 AS y,
             u.post_c / 100.0
               - t.th * (u.pre_c / 100.0 - t.pre_mean) AS y_adj
      FROM per_user u, theta t
    )
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(y) / count(*), 4) AS mean_raw,
           round(sum(y_adj) / count(*), 4) AS mean_cuped,
           round(var_samp(y), 4) AS var_raw,
           round(var_samp(y_adj), 4) AS var_cuped
    FROM adj GROUP BY variant ORDER BY variant
    """,
)
def q_events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout: adjust each
    user's post-period spend by theta * (pre-period spend - mean)
    where theta = cov(pre, post)/var(pre) - the standard
    experimentation trick that removes pre-existing user variance
    from the treatment comparison (var_cuped < var_raw is the
    whole point, visible in the output). Assignment reuses
    q_events_ab_welch's hash split; the period split reuses
    q_stats_did's day-15 boundary.

    Float protocol: per-user pre/post spends aggregate as integer
    CENTS (order-independent); theta's moment sums promote to
    double (cent products overflow int64 summed corpus-wide) but
    every engine sees the same multiset and the 4dp-rounded outputs
    absorb the summation-order ULPs; theta itself and the
    per-user adjustment are identical-double arithmetic.

    Scale shape: ONE two-phase agg to the per-user frame; theta is
    a 1-row agg broadcast back; the readout is a 2-row rollup.
    """
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    per_user = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.dayofmonth("ts") < CUPED_SPLIT_DAY, cents).otherwise(
                    0
                )
            ).alias("pre_c"),
            F.sum(
                F.when(
                    F.dayofmonth("ts") >= CUPED_SPLIT_DAY, cents
                ).otherwise(0)
            ).alias("post_c"),
        )
        .select(
            F.when(
                (F.col("user_id") * AB_HASH_A + AB_HASH_B)
                % AB_HASH_P
                % 2
                == 0,
                "A",
            )
            .otherwise("B")
            .alias("variant"),
            "pre_c",
            "post_c",
        )
    )
    nd = F.count("*").cast("double")
    theta = per_user.agg(
        (
            (
                nd * F.sum(F.col("pre_c").cast("double") * F.col("post_c"))
                - F.sum("pre_c").cast("double") * F.sum("post_c")
            )
            / F.nullif(
                nd * F.sum(F.col("pre_c").cast("double") * F.col("pre_c"))
                - F.sum("pre_c").cast("double") * F.sum("pre_c"),
                F.lit(0.0),
            )
        ).alias("th"),
        (F.sum("pre_c").cast("double") / (F.count("*") * F.lit(100.0))).alias(
            "pre_mean"
        ),
    )
    adj = per_user.crossJoin(theta).select(
        "variant",
        (F.col("post_c") / F.lit(100.0)).alias("y"),
        (
            F.col("post_c") / F.lit(100.0)
            - F.col("th") * (F.col("pre_c") / F.lit(100.0) - F.col("pre_mean"))
        ).alias("y_adj"),
    )
    return (
        adj.groupBy("variant")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("y") / F.count("*"), 4).alias("mean_raw"),
            F.round(F.sum("y_adj") / F.count("*"), 4).alias("mean_cuped"),
            F.round(F.var_samp("y"), 4).alias("var_raw"),
            F.round(F.var_samp("y_adj"), 4).alias("var_cuped"),
        )
        .orderBy("variant")
    )


@register(
    "q_events_srm_check",
    oracle=f"""
    WITH assign AS (
      SELECT DISTINCT user_id,
             CASE WHEN ((user_id * {AB_HASH_A} + {AB_HASH_B})
                        % {AB_HASH_P}) % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant
      FROM events
    ),
    counts AS (
      SELECT CAST(count(*) FILTER (variant = 'A') AS BIGINT) AS n_a,
             CAST(count(*) FILTER (variant = 'B') AS BIGINT) AS n_b
      FROM assign
    )
    SELECT n_a, n_b,
           round((CAST(n_a AS DOUBLE) - (n_a + n_b) / 2.0)
                 * (n_a - (n_a + n_b) / 2.0) / nullif((n_a + n_b) / 2.0, 0.0)
                 + (CAST(n_b AS DOUBLE) - (n_a + n_b) / 2.0)
                 * (n_b - (n_a + n_b) / 2.0)
                   / nullif((n_a + n_b) / 2.0, 0.0), 6)
               AS chi2,
           ((CAST(n_a AS DOUBLE) - (n_a + n_b) / 2.0)
            * (n_a - (n_a + n_b) / 2.0) / nullif((n_a + n_b) / 2.0, 0.0)
            + (CAST(n_b AS DOUBLE) - (n_a + n_b) / 2.0)
            * (n_b - (n_a + n_b) / 2.0)
              / nullif((n_a + n_b) / 2.0, 0.0)) > 3.841
               AS srm_alarm
    FROM counts
    """,
)
def q_events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard for the A/B split: chi-squared
    goodness-of-fit of the observed variant counts against the
    designed 50/50, alarmed at the 1-dof 5% critical value (3.841) -
    the first thing a trustworthy experimentation pipeline checks,
    because a skewed split invalidates every downstream readout
    (q_events_ab_welch / q_events_ab_cuped).

    Scale shape: user dedup (two-phase) -> one 1-row conditional
    count agg; the statistic is exact integer-ratio arithmetic, and
    the alarm compares identical doubles in both engines.
    """
    e = table(spark, sf_dir, "events")
    assign = e.select(
        "user_id",
        F.when(
            (F.col("user_id") * AB_HASH_A + AB_HASH_B) % AB_HASH_P % 2 == 0,
            "A",
        )
        .otherwise("B")
        .alias("variant"),
    ).distinct()
    counts = assign.agg(
        F.count(F.when(F.col("variant") == "A", 1))
        .cast("bigint")
        .alias("n_a"),
        F.count(F.when(F.col("variant") == "B", 1))
        .cast("bigint")
        .alias("n_b"),
    )
    exp = F.nullif(
        (F.col("n_a") + F.col("n_b")) / F.lit(2.0), F.lit(0.0)
    )  # NULL chi2 on an empty relation (tests/test_empty_inputs.py)
    chi2 = (F.col("n_a").cast("double") - exp) * (F.col("n_a") - exp) / exp + (
        F.col("n_b").cast("double") - exp
    ) * (F.col("n_b") - exp) / exp
    return counts.select(
        "n_a",
        "n_b",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("srm_alarm"),
    )


@register(
    "q_events_ratio_metric_delta",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS rev_c,
             CAST(count(*) FILTER (WHERE event_type = 'click')
                  AS BIGINT) AS clicks
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rev_c) AS BIGINT) AS sr,
             CAST(sum(clicks) AS BIGINT) AS sc,
             sum(CAST(rev_c AS DOUBLE) * rev_c) AS srr,
             sum(CAST(clicks AS DOUBLE) * clicks) AS scc,
             sum(CAST(rev_c AS DOUBLE) * clicks) AS src
      FROM per_user
    )
    SELECT n,
           CAST(sr AS DOUBLE) / (100.0 * sc) AS rev_per_click,
           CASE WHEN n >= 2 AND sc > 0 THEN
           round(sqrt(greatest(0.0,
             ((srr - CAST(sr AS DOUBLE) * sr / n) / (n - 1)) / 10000.0
               / ((CAST(sc AS DOUBLE) / n) * (CAST(sc AS DOUBLE) / n))
             + ((scc - CAST(sc AS DOUBLE) * sc / n) / (n - 1))
               * (CAST(sr AS DOUBLE) / 100.0 / sc)
               * (CAST(sr AS DOUBLE) / 100.0 / sc)
               / ((CAST(sc AS DOUBLE) / n) * (CAST(sc AS DOUBLE) / n))
             - 2 * ((src - CAST(sr AS DOUBLE) * sc / n) / (n - 1)) / 100.0
               * (CAST(sr AS DOUBLE) / 100.0 / sc)
               / ((CAST(sc AS DOUBLE) / n) * (CAST(sc AS DOUBLE) / n))
             ) / n), 6) END AS se_delta
    FROM m
    """,
)
def q_events_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method standard error for a RATIO metric (revenue per
    click): users are the randomization unit but the metric is a
    ratio of two user-level sums, so naive row-level variance is
    WRONG - the delta method expands var(R/C) from the user-level
    variances and covariance (the standard experimentation fix for
    per-session / per-click metrics; completes the kit: srm -> power
    -> welch/cuped -> THIS for ratio outcomes).

    Float protocol: revenue in integer cents, clicks integer; the
    three second-moment sums promote to double (cent-squared sums
    overflow int64) and only the final irrational sqrt is rounded;
    the point estimate is ONE identical division, unrounded.

    Scale shape: ONE two-phase per-user agg, then a 1-row moment
    agg; the delta expansion is projection arithmetic.
    """
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        ).alias("rev_c"),
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("bigint")
        .alias("clicks"),
    )
    m = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rev_c").cast("bigint").alias("sr"),
        F.sum("clicks").cast("bigint").alias("sc"),
        F.sum(F.col("rev_c").cast("double") * F.col("rev_c")).alias("srr"),
        F.sum(F.col("clicks").cast("double") * F.col("clicks")).alias("scc"),
        F.sum(F.col("rev_c").cast("double") * F.col("clicks")).alias("src"),
    )
    n = F.col("n")
    sr_d = F.col("sr").cast("double")
    sc_d = F.col("sc").cast("double")
    var_r = (F.col("srr") - sr_d * F.col("sr") / n) / (n - 1) / F.lit(10000.0)
    var_c = (F.col("scc") - sc_d * F.col("sc") / n) / (n - 1)
    cov_rc = (F.col("src") - sr_d * F.col("sc") / n) / (n - 1) / F.lit(100.0)
    ratio = sr_d / F.lit(100.0) / F.col("sc")
    cbar2 = (sc_d / n) * (sc_d / n)
    se = F.sqrt(
        F.greatest(
            F.lit(0.0),
            (var_r / cbar2 + var_c * ratio * ratio / cbar2
             - 2 * cov_rc * ratio / cbar2) / n,
        )
    )
    # Explicit degenerate-input guard: Spark's greatest() SKIPS nulls
    # while DuckDB's propagates them, so on an empty relation the two
    # engines disagree unless the n>=2/sc>0 gate is spelled out
    # (tests/test_empty_inputs.py caught this divergence).
    return m.select(
        "n",
        (sr_d / (F.lit(100.0) * F.col("sc"))).alias("rev_per_click"),
        F.when(
            (n >= 2) & (F.col("sc") > 0), F.round(se, 6)
        ).alias("se_delta"),
    )


@register(
    "q_time_ohlc",
    oracle="""
    WITH x AS (
      SELECT date_trunc('day', ts) AS day, ts, event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    rn AS (
      SELECT day, cents,
             row_number() OVER (PARTITION BY day
                                ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY day
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM x
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_trades,
           CAST(max(CASE WHEN ra = 1 THEN cents END) AS DOUBLE) / 100.0
               AS open,
           CAST(max(cents) AS DOUBLE) / 100.0 AS high,
           CAST(min(cents) AS DOUBLE) / 100.0 AS low,
           CAST(max(CASE WHEN rd = 1 THEN cents END) AS DOUBLE) / 100.0
               AS close,
           CAST(sum(cents) AS DOUBLE) / 100.0 AS turnover
    FROM rn GROUP BY day ORDER BY day
    """,
)
def q_time_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC candlestick bars over purchase values: open (first
    value of the day), high, low, close (last value), trade count,
    and turnover - the canonical time-series downsampling that
    every tick-to-bar pipeline runs before charting or signal work
    (and the order-statistics complement of q_stream_tumbling's
    sum-only windows).

    Determinism protocol: values are exact int64 cents; first/last
    are row_number picks over the TOTAL order (ts, event_id) -
    event_id is unique, so both engines select the same row without
    any min_by/arg_min tie ambiguity - and every output is an exact
    integer divided once by 100.0 (exact-rounded IEEE), reported
    UNROUNDED per functions/exact.py.

    Scale shape: one shuffle on day for the two mirrored
    row_number windows (same partitioning, ONE Exchange - the
    second window reuses the sort within the day partition), then a
    map-side-combining groupBy on the already-partitioned day key.
    100 TB: day-grain bars parallelize across days; finer bars
    (minute) widen the key to (day, minute) with the same shape;
    the window-free alternative (min_by/max_by over a derived
    ts*K+id key) trades the sort for overflow bookkeeping and is
    rejected in-code.
    """
    e = table(spark, sf_dir, "events")
    x = e.filter(F.col("event_type") == "purchase").select(
        F.date_trunc("day", "ts").alias("day"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    wa = Window.partitionBy("day").orderBy("ts", "event_id")
    wd = Window.partitionBy("day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    rn = x.select(
        "day",
        "cents",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wd).alias("rd"),
    )
    return (
        rn.groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("n_trades"),
            (
                F.max(F.when(F.col("ra") == 1, F.col("cents"))).cast("double")
                / 100.0
            ).alias("open"),
            (F.max("cents").cast("double") / 100.0).alias("high"),
            (F.min("cents").cast("double") / 100.0).alias("low"),
            (
                F.max(F.when(F.col("rd") == 1, F.col("cents"))).cast("double")
                / 100.0
            ).alias("close"),
            (F.sum("cents").cast("double") / 100.0).alias("turnover"),
        )
        .orderBy("day")
    )


RESAMPLE_MIN_CENTS = 25000  # the sparse high-value slice (>= 250.00)


@register(
    "q_time_resample_interp",
    oracle=f"""
    WITH known AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM events
      WHERE CAST(round(value * 100, 0) AS BIGINT) >= {RESAMPLE_MIN_CENTS}
      GROUP BY 1, 2
    ),
    span AS (
      SELECT event_type, min(ed) AS d0, max(ed) AS d1
      FROM known GROUP BY event_type
    ),
    grid AS (
      SELECT s.event_type, g.ed
      FROM span s CROSS JOIN LATERAL
        (SELECT unnest(range(s.d0, s.d1 + 1)) AS ed) g
    ),
    joined AS (
      SELECT g.event_type, g.ed, k.cents
      FROM grid g LEFT JOIN known k
        ON g.event_type = k.event_type AND g.ed = k.ed
    ),
    anchored AS (
      SELECT event_type, ed, cents,
             last_value(CASE WHEN cents IS NOT NULL THEN ed END
                        IGNORE NULLS) OVER wp AS pd,
             last_value(cents IGNORE NULLS) OVER wp AS pv,
             first_value(CASE WHEN cents IS NOT NULL THEN ed END
                         IGNORE NULLS) OVER wn AS nd,
             first_value(cents IGNORE NULLS) OVER wn AS nv
      FROM joined
      WINDOW wp AS (PARTITION BY event_type ORDER BY ed
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY event_type ORDER BY ed
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, ed AS epoch_day,
           CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS interpolated,
           CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                ELSE CAST(pv AS DOUBLE)
                     + CAST((nv - pv) * (ed - pd) AS DOUBLE) / (nd - pd)
           END AS cents_resampled
    FROM anchored ORDER BY event_type, epoch_day
    """,
)
def q_time_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each event type's sparse high-value daily revenue
    series onto its full [min, max] calendar grid with LINEAR
    interpolation across gap days - the other half of the
    hypertable resampling story: q_events_gap_fill materializes
    zeros (counts), this materializes the line segment between the
    neighboring observations (levels/balances, where zero would be
    a lie). Every row carries an `interpolated` flag so consumers
    can tell measured from imputed.

    Exactness: known points are exact int64 cent sums on integer
    epoch days; each interpolated value is pv + (nv-pv)*(ed-pd) /
    (nd-pd) with an int64 numerator product and ONE IEEE division,
    the identical tree in both engines, unrounded. Span endpoints
    are known points by construction, so pd/pv/nd/nv are never NULL
    where interpolation fires.

    Scale shape: one filtered fact pass to the sparse (type, day)
    frame (the value predicate prunes at the scan), a per-type
    min/max agg whose sequence() explode builds the grid
    DISTRIBUTED (no driver loop), a left join back, and two
    per-type ordered window passes (last/first IGNORE NULLS) - the
    standard distributed forward/backward-fill idiom. 100 TB:
    per-series partitioning carries it; state is two anchors per
    row, never the series.
    """
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    known = (
        e.filter(cents >= RESAMPLE_MIN_CENTS)
        .groupBy(
            "event_type",
            F.datediff(
                F.to_date("ts"), F.lit("1970-01-01").cast("date")
            ).alias("ed"),
        )
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    span = known.groupBy("event_type").agg(
        F.min("ed").alias("d0"), F.max("ed").alias("d1")
    )
    grid = span.select(
        "event_type",
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("ed"),
    )
    joined = grid.join(known, ["event_type", "ed"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("ed")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("ed")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_ed = F.when(F.col("cents").isNotNull(), F.col("ed"))
    anchored = joined.select(
        "event_type",
        "ed",
        "cents",
        F.last(known_ed, ignorenulls=True).over(wp).alias("pd"),
        F.last("cents", ignorenulls=True).over(wp).alias("pv"),
        F.first(known_ed, ignorenulls=True).over(wn).alias("nd"),
        F.first("cents", ignorenulls=True).over(wn).alias("nv"),
    )
    interp = F.col("pv").cast("double") + (
        (F.col("nv") - F.col("pv")) * (F.col("ed") - F.col("pd"))
    ).cast("double") / (F.col("nd") - F.col("pd"))
    return anchored.select(
        "event_type",
        F.col("ed").alias("epoch_day"),
        F.when(F.col("cents").isNull(), 1).otherwise(0).alias(
            "interpolated"
        ),
        F.when(
            F.col("cents").isNotNull(), F.col("cents").cast("double")
        )
        .otherwise(interp)
        .alias("cents_resampled"),
    ).orderBy("event_type", "epoch_day")


HW_ALPHA = 0.3   # level smoothing
HW_BETA = 0.1    # trend smoothing
HW_GAMMA = 0.2   # seasonal smoothing
HW_PERIOD = 7    # weekly season
HW_HORIZON = 7   # forecast days


@register("q_events_holt_winters")  # recursive smoother -> rows-only + pin
def q_events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters forecast (level + trend + weekly
    seasonal, alpha=0.3 beta=0.1 gamma=0.2) of daily event counts
    per event type, 7 days ahead - the classical triple-exponential
    smoother that upgrades q_events_forecast_seasonal's seasonal-
    naive baseline with damped level/trend tracking (Holt 1957,
    Winters 1960; what Hyndman's fpp calls HW-additive).

    No SQL oracle BY DESIGN: all three recursions feed each other
    at every step, so each state is a degree-t polynomial in the
    smoothing constants over the WHOLE history - the q_stats_cusum
    precedent squared (that one is a single one-sided recursion;
    this is three coupled ones, far outside window algebra). Pinned
    against an independent pure-Python recursion in
    tests/test_stats_props.py.

    Init convention (pinned in the test): L0 = mean(week 1),
    B0 = (mean(week 2) - mean(week 1)) / 7, S_i = y_i - mean(week 1)
    for i in 0..6; the recursion starts at t=7 and the h-step
    forecast is L_T + h*B_T + S at the matching phase of the LAST
    updated season.

    Scale split (the BPE/kmeans trainer pattern): the UNBOUNDED work
    - fact -> (type, day) counts - is ONE JVM two-phase agg; the
    recursion runs in applyInPandas per SERIES over its bounded
    daily frame (|days| rows; numpy-vectorized per step over the
    series would not help - the loop is over days, not rows, and
    days are bounded). 100 TB: thousands of series = partition
    parallelism; each task holds one bounded series.
    """
    import pandas as pd  # local: only the smoother needs it

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "ed"
        ),
    ).agg(F.count("*").cast("bigint").alias("y"))

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ed")
        et = pdf["event_type"].iloc[0]
        y = pdf["y"].to_numpy(dtype=float)
        m = HW_PERIOD
        if len(y) < 2 * m:
            return pd.DataFrame(
                columns=["event_type", "h", "forecast", "level", "trend"]
            )
        w1 = y[:m].mean()
        w2 = y[m : 2 * m].mean()
        level, trend = w1, (w2 - w1) / m
        seas = [y[i] - w1 for i in range(m)]
        for t in range(m, len(y)):
            s_prev = seas[t - m]
            l_new = HW_ALPHA * (y[t] - s_prev) + (1 - HW_ALPHA) * (
                level + trend
            )
            trend = HW_BETA * (l_new - level) + (1 - HW_BETA) * trend
            seas.append(
                HW_GAMMA * (y[t] - l_new) + (1 - HW_GAMMA) * s_prev
            )
            level = l_new
        out = []
        for h in range(1, HW_HORIZON + 1):
            # matching phase of the most recently updated season
            s = seas[len(y) - m + (h - 1) % m]
            out.append(
                (
                    et,
                    h,
                    round(level + h * trend + s, 6),
                    round(level, 6),
                    round(trend, 6),
                )
            )
        return pd.DataFrame(
            out, columns=["event_type", "h", "forecast", "level", "trend"]
        )

    schema = (
        "event_type string, h int, forecast double, "
        "level double, trend double"
    )
    return (
        daily.groupBy("event_type")
        .applyInPandas(smooth, schema=schema)
        .orderBy("event_type", "h")
    )


MARKOV_CONV = "purchase"  # absorbing conversion state


@register("q_events_markov_attribution")  # matrix solve -> rows-only + pin
def q_events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution over user journeys
    (Anderl et al. 2014, the data-driven alternative to
    q_events_multitouch_attribution's positional rules): each
    user's event-type sequence up to the FIRST purchase is a path
    START -> channels -> {CONV, NULL}; channel value = the drop in
    overall START->CONV absorption probability when the channel is
    removed (its transitions rerouted to NULL), normalized into
    attribution shares.

    No SQL oracle BY DESIGN: absorption probabilities solve the
    linear system p = Pp with absorbing boundary (equivalently
    (I-Q)p = R), and per-channel removal re-solves it - matrix
    inversion has no relational form (the q_events_holt_winters
    boundedness argument). The transition-count stage IS relational
    and exact; the bounded (<=6-state) solve runs in ONE
    applyInPandas task and is pinned in tests/test_stats_props.py
    against an independent power-iteration fixed point.

    Scale split: the UNBOUNDED work - ordering each user's events,
    cutting at first conversion, counting (src, dst) transitions -
    is one window pass + one two-phase agg; what reaches Python is
    the STATE-PAIR count matrix (tiny at any corpus size: channels
    x channels), the same trainer split as q_text_bpe_merges. 100
    TB: identical; the matrix never grows with data.
    """
    import pandas as pd  # local: only the solver needs it

    from ..streaming.batch_windows import SESSION_GAP_US

    e = table(spark, sf_dir, "events")
    # Journey = one 30-min-gap SESSION (the engine-wide sessionize
    # convention), cut at its first purchase; sessions that end
    # without converting feed the NULL absorber, so base_cvr is a
    # real probability rather than the ~1.0 every-user-eventually-
    # buys degenerate (probed: per-USER journeys give base_cvr
    # exactly 1.0 at every SF on this fixture).
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.col("ts").cast("long")
            - F.lag(F.col("ts").cast("long")).over(wu)
            > SESSION_GAP_US // 1_000_000,
            1,
        )
        .otherwise(0)
        .alias("brk"),
    ).select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum("brk")
        .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    wj = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    wjall = Window.partitionBy("user_id", "sid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    seq = sess.select(
        "user_id",
        "sid",
        "event_type",
        F.row_number().over(wj).alias("rn"),
        F.min(
            F.when(F.col("event_type") == MARKOV_CONV, F.col("ts"))
        )
        .over(wjall)
        .alias("conv_ts"),
        "ts",
    ).filter(
        F.col("conv_ts").isNull() | (F.col("ts") <= F.col("conv_ts"))
    )
    w2 = Window.partitionBy("user_id", "sid").orderBy("rn")
    trans = seq.select(
        F.coalesce(F.lag("event_type").over(w2), F.lit("START")).alias(
            "src"
        ),
        F.col("event_type").alias("dst"),
    )
    # journey end without conversion -> NULL absorber, one edge from
    # the last pre-conversion state of each non-converting session
    last_state = seq.groupBy("user_id", "sid").agg(
        F.max_by("event_type", "rn").alias("src"),
        F.max(
            F.when(F.col("event_type") == MARKOV_CONV, 1).otherwise(0)
        ).alias("converted"),
    )
    ends = last_state.filter(F.col("converted") == 0).select(
        "src", F.lit("NULL").alias("dst")
    )
    edges = trans.unionAll(ends)
    counts = edges.groupBy("src", "dst").agg(
        F.count("*").cast("bigint").alias("n")
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # absorbing renames: the conversion EVENT TYPE is the CONV
        # absorber; everything else is transient.
        pdf = pdf.copy()
        pdf.loc[pdf.dst == MARKOV_CONV, "dst"] = "CONV"
        trans_states = sorted(
            (set(pdf.src) | set(pdf.dst)) - {"CONV", "NULL"}
        )
        idx = {s: i for i, s in enumerate(trans_states)}

        def absorb(drop=None):
            n = len(trans_states)
            Q = np.zeros((n, n))
            R = np.zeros(n)
            for s in trans_states:
                rows = pdf[pdf.src == s]
                tot = rows.n.sum()
                if tot == 0:
                    continue
                for _, r in rows.iterrows():
                    p = r.n / tot
                    if r.dst == drop or r.dst == "NULL":
                        continue  # removed channel/NULL -> absorbed at 0
                    elif r.dst == "CONV":
                        R[idx[s]] += p
                    elif r.dst in idx:
                        Q[idx[s], idx[r.dst]] += p
                if drop is not None and s == drop:
                    Q[idx[s], :] = 0.0
                    R[idx[s]] = 0.0
            p = np.linalg.solve(np.eye(n) - Q, R)
            return p[idx["START"]] if "START" in idx else 0.0

        base = absorb()
        channels = [
            s for s in trans_states if s not in ("START",)
        ]
        effects = {}
        for c in channels:
            effects[c] = max(0.0, base - absorb(drop=c))
        z = sum(effects.values())
        out = [
            (
                c,
                round(base, 6),
                round(effects[c], 6),
                round(effects[c] / z, 6) if z > 0 else 0.0,
            )
            for c in sorted(channels)
        ]
        return pd.DataFrame(
            out,
            columns=[
                "channel", "base_cvr", "removal_effect", "attribution"
            ],
        )

    schema = (
        "channel string, base_cvr double, removal_effect double, "
        "attribution double"
    )
    return (
        counts.withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(solve, schema=schema)
        .orderBy("channel")
    )


@register(
    "q_events_burstiness",
    oracle="""
    WITH ordered AS (
      SELECT event_type,
             epoch_ms(ts) // 100 - lag(epoch_ms(ts) // 100) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap
      FROM events
    ),
    gaps AS (
      SELECT event_type, CAST(gap AS BIGINT) AS gap
      FROM ordered WHERE gap IS NOT NULL
    ),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(gap) AS BIGINT) AS s1,
             CAST(sum(gap * gap) AS BIGINT) AS s2
      FROM gaps GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(s1 AS DOUBLE) / (10.0 * n) AS mean_gap_s,
           (sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n)
             / (CAST(s1 AS DOUBLE) / n) AS cv,
           (sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n
              - CAST(s1 AS DOUBLE) / n)
             / (sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n
                + CAST(s1 AS DOUBLE) / n) AS burstiness
    FROM s ORDER BY event_type
    """,
)
def q_events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per event type: the Goh-Barabasi
    burstiness index B = (sigma - mu)/(sigma + mu) over the
    inter-event gaps of each type's time-ordered stream (B = -1
    perfectly periodic, 0 Poisson, -> 1 heavy-tailed bursts), with
    the coefficient of variation - the one-number answer to "is
    this stream Poisson or bursty", which decides queueing margins,
    rate-limit budgets, and whether q_events_velocity_flags'
    trailing windows can ever fire.

    Exactness: gaps are integer DECISECONDS via lag on the (ts,
    event_id) total order - each timestamp is truncated epoch_ms
    div 100 BEFORE differencing, the identical integer op in both
    engines (whole-second truncation-order disagreed on sub-second
    timestamps, and raw milliseconds overflowed n*S2 - both caught
    by the oracle on first contact; 0.1 s resolution holds n*S2
    inside int64 at every SF); (n, S1, S2) are exact int64 power
    sums; sigma is the
    population form sqrt(n*S2 - S1^2)/n and mu = S1/n, composed as
    the IDENTICAL tree in both engines, unrounded.

    Scale shape: one per-series ordered window pass for the lag
    (the q_win_rsi posture), one two-phase power-sum agg; per-user
    or per-(user, type) burstiness is the same plan with a wider
    partition key.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ms = F.expr("unix_millis(ts) div 100")
    gaps = (
        e.select(
            "event_type",
            (ms - F.lag(ms).over(w)).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
        .select("event_type", F.col("gap").cast("bigint").alias("gap"))
    )
    s = gaps.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("gap").cast("bigint").alias("s1"),
        F.sum(F.col("gap") * F.col("gap")).cast("bigint").alias("s2"),
    )
    mu_s = F.col("s1").cast("double") / (10.0 * F.col("n"))
    mu = F.col("s1").cast("double") / F.col("n")
    sig = (
        F.sqrt(
            (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
                "double"
            )
        )
        / F.col("n")
    )
    return s.select(
        "event_type",
        "n",
        mu_s.alias("mean_gap_s"),
        (sig / mu).alias("cv"),
        ((sig - mu) / (sig + mu)).alias("burstiness"),
    ).orderBy("event_type")


@register(
    "q_events_freq_severity",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                           ELSE 0 END) AS BIGINT) AS n_p,
             CAST(sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100, 0) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS cents
      FROM events GROUP BY user_id
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(CASE WHEN n_p > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_buyers,
             CAST(sum(n_p) AS BIGINT) AS n_purchases,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM u
    )
    SELECT n_users, n_buyers, n_purchases,
           CAST(n_buyers AS DOUBLE) / n_users AS p_buyer,
           CAST(n_purchases AS DOUBLE) / n_buyers AS freq_per_buyer,
           CAST(total_cents AS DOUBLE) / (100.0 * n_purchases)
               AS severity_per_purchase,
           (CAST(n_buyers AS DOUBLE) / n_users)
             * (CAST(n_purchases AS DOUBLE) / n_buyers)
             * (CAST(total_cents AS DOUBLE) / (100.0 * n_purchases))
               AS arpu_decomposed,
           CAST(total_cents AS DOUBLE) / (100.0 * n_users) AS arpu_direct
    FROM agg
    """,
)
def q_events_freq_severity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-part (frequency x severity) revenue decomposition - the
    actuarial identity ARPU = P(buyer) x purchases-per-buyer x
    value-per-purchase, computed term by term WITH the direct ARPU
    beside it so the decomposition is verifiable in the output
    (the product is algebraically identical; both engines compose
    the same division trees). This is how revenue-growth accounting
    attributes a change: did penetration, frequency, or basket
    size move? (q_events_growth_accounting slices WHO, this slices
    WHY-per-user.)

    Exactness: all four base quantities are int64 from ONE per-user
    conditional agg + ONE 1-row rollup; every reported term is a
    composition of exact-integer divisions, unrounded.

    Scale shape: fact -> user agg (map-side combinable) -> 1-row
    arithmetic. 100 TB: identical; per-segment decompositions widen
    the rollup key.
    """
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    u = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_p"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        )
        .cast("bigint")
        .alias("cents"),
    )
    agg = u.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("n_p") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_buyers"),
        F.sum("n_p").cast("bigint").alias("n_purchases"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    p_buyer = F.col("n_buyers").cast("double") / F.col("n_users")
    freq = F.col("n_purchases").cast("double") / F.col("n_buyers")
    sev = F.col("total_cents").cast("double") / (
        100.0 * F.col("n_purchases")
    )
    return agg.select(
        "n_users",
        "n_buyers",
        "n_purchases",
        p_buyer.alias("p_buyer"),
        freq.alias("freq_per_buyer"),
        sev.alias("severity_per_purchase"),
        (p_buyer * freq * sev).alias("arpu_decomposed"),
        (
            F.col("total_cents").cast("double") / (100.0 * F.col("n_users"))
        ).alias("arpu_direct"),
    )


KPI_SPLIT_DAY = 15  # period 1 = days < 15, period 2 = days >= 15


@register(
    "q_events_kpi_tree",
    oracle=f"""
    WITH base AS (
      SELECT CASE WHEN dayofmonth(CAST(ts AS DATE)) < {KPI_SPLIT_DAY}
                  THEN 1 ELSE 2 END AS period,
             user_id, event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events
    ),
    p AS (
      SELECT period,
             CAST(count(DISTINCT user_id) AS BIGINT) AS v,
             CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                 THEN user_id END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                           ELSE 0 END) AS BIGINT) AS np,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN cents
                           ELSE 0 END) AS BIGINT) AS r
      FROM base GROUP BY period
    ),
    w AS (
      SELECT max(CASE WHEN period = 1 THEN v END) AS v1,
             max(CASE WHEN period = 2 THEN v END) AS v2,
             max(CASE WHEN period = 1 THEN b END) AS b1,
             max(CASE WHEN period = 2 THEN b END) AS b2,
             max(CASE WHEN period = 1 THEN np END) AS p1,
             max(CASE WHEN period = 2 THEN np END) AS p2,
             max(CASE WHEN period = 1 THEN r END) AS r1,
             max(CASE WHEN period = 2 THEN r END) AS r2
      FROM p
    ),
    f AS (
      SELECT 'active_users' AS factor, CAST(v1 AS DOUBLE) AS x1,
             CAST(v2 AS DOUBLE) AS x2, w.* FROM w
      UNION ALL
      SELECT 'buyer_rate', CAST(b1 AS DOUBLE) / v1,
             CAST(b2 AS DOUBLE) / v2, w.* FROM w
      UNION ALL
      SELECT 'purchases_per_buyer', CAST(p1 AS DOUBLE) / b1,
             CAST(p2 AS DOUBLE) / b2, w.* FROM w
      UNION ALL
      SELECT 'value_per_purchase', CAST(r1 AS DOUBLE) / p1,
             CAST(r2 AS DOUBLE) / p2, w.* FROM w
    )
    SELECT factor,
           round(x1, 6) AS period1, round(x2, 6) AS period2,
           round(ln(x2 / x1), 6) AS delta_ln,
           round(ln(x2 / x1)
                 / ln(CAST(r2 AS DOUBLE) / r1), 6) AS contribution,
           round(ln(CAST(r2 AS DOUBLE) / r1), 6) AS delta_ln_revenue
    FROM f ORDER BY factor
    """,
)
def q_events_kpi_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPI-tree (metric tree) decomposition of the period-over-period
    revenue change: R = V x (B/V) x (P/B) x (R/P), so delta ln R =
    sum of the factor delta-lns EXACTLY - each factor row carries
    its period values, log change, and share of the total revenue
    log change - the additive driver attribution ("did penetration,
    frequency or basket move the number?") that every growth team
    runs on the q_events_freq_severity identity; the log form is
    what makes contributions sum to 100% with no interaction
    residue.

    Exactness: all eight base quantities are int64 (distinct
    counts, conditional sums) from ONE two-period agg; factor
    values are exact integer divisions; only ln terms are rounded
    (6dp). The additivity (sum of delta_ln = delta_ln_revenue) is
    the pinned test property.

    Scale shape: one fact pass -> 2-row period frame -> 1-row
    pivot -> 4-factor projection arithmetic. 100 TB: identical
    (distinct counts go HLL at scale - q_agg_approx_distinct is
    the declared swap).
    """
    e = table(spark, sf_dir, "events")
    period = F.when(
        F.dayofmonth(F.to_date("ts")) < KPI_SPLIT_DAY, 1
    ).otherwise(2)
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    base = e.select(
        period.alias("period"),
        "user_id",
        "event_type",
        cents.alias("cents"),
    )
    p = base.groupBy("period").agg(
        F.count_distinct(F.col("user_id")).cast("bigint").alias("v"),
        F.count_distinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        )
        .cast("bigint")
        .alias("b"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("np"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("cents"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("r"),
    )
    w = p.agg(
        *[
            F.max(F.when(F.col("period") == per, F.col(c))).alias(
                f"{c}{per}"
            )
            for c in ("v", "b", "np", "r")
            for per in (1, 2)
        ]
    )
    # ONE aggregation; the 4 factor rows come from exploding a
    # literal frame against the single 1-row pivot (a unionAll of
    # four selects would re-run the fact aggregation four times).
    names = F.array(
        F.lit("active_users"),
        F.lit("buyer_rate"),
        F.lit("purchases_per_buyer"),
        F.lit("value_per_purchase"),
    )
    fac = w.select(F.explode(names).alias("factor"), "*")
    x1 = (
        F.when(F.col("factor") == "active_users",
               F.col("v1").cast("double"))
        .when(F.col("factor") == "buyer_rate",
              F.col("b1").cast("double") / F.col("v1"))
        .when(F.col("factor") == "purchases_per_buyer",
              F.col("np1").cast("double") / F.col("b1"))
        .otherwise(F.col("r1").cast("double") / F.col("np1"))
    )
    x2 = (
        F.when(F.col("factor") == "active_users",
               F.col("v2").cast("double"))
        .when(F.col("factor") == "buyer_rate",
              F.col("b2").cast("double") / F.col("v2"))
        .when(F.col("factor") == "purchases_per_buyer",
              F.col("np2").cast("double") / F.col("b2"))
        .otherwise(F.col("r2").cast("double") / F.col("np2"))
    )
    d_rev = F.log(F.col("r2").cast("double") / F.col("r1"))
    return fac.select(
        "factor",
        F.round(x1, 6).alias("period1"),
        F.round(x2, 6).alias("period2"),
        F.round(F.log(x2 / x1), 6).alias("delta_ln"),
        F.round(F.log(x2 / x1) / d_rev, 6).alias("contribution"),
        F.round(d_rev, 6).alias("delta_ln_revenue"),
    ).orderBy("factor")


RET_FIT_MAX_T = 14
RET_FIT_PREDICT_T = 30


@register(
    "q_events_retention_fit",
    oracle=f"""
    WITH days AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    d0 AS (SELECT min(ed) AS d0 FROM days),
    cohort AS (
      SELECT DISTINCT user_id FROM days CROSS JOIN d0 WHERE ed = d0
    ),
    curve AS (
      SELECT CAST(t.t AS BIGINT) AS t,
             CAST((SELECT count(*) FROM cohort) AS BIGINT) AS n0,
             CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_t
      FROM (SELECT unnest(range(1, {RET_FIT_MAX_T + 1})) AS t) t
      CROSS JOIN d0
      LEFT JOIN days d ON d.ed = d0.d0 + t.t
        AND d.user_id IN (SELECT user_id FROM cohort)
      GROUP BY t.t
    ),
    pts AS (
      SELECT t, n0, n_t, CAST(n_t AS DOUBLE) / n0 AS r,
             ln(CAST(t AS DOUBLE)) AS x,
             ln(CAST(n_t AS DOUBLE) / n0) AS y
      FROM curve WHERE n_t > 0
    ),
    fit AS (
      SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts
    )
    SELECT p.t, p.n_t, round(p.r, 6) AS retention,
           round((f.k * f.sxy - f.sx * f.sy)
                 / (f.k * f.sxx - f.sx * f.sx), 6) AS decay_b,
           round(exp((f.sy - (f.k * f.sxy - f.sx * f.sy)
                      / (f.k * f.sxx - f.sx * f.sx) * f.sx) / f.k
                     + (f.k * f.sxy - f.sx * f.sy)
                       / (f.k * f.sxx - f.sx * f.sx)
                       * ln(CAST({RET_FIT_PREDICT_T} AS DOUBLE))), 6)
               AS predicted_day{RET_FIT_PREDICT_T}
    FROM pts p CROSS JOIN fit f ORDER BY p.t
    """,
)
def q_events_retention_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law retention-curve fit r(t) = a * t^-b over the
    day-0 cohort's daily return rates (t = 1..14), with the
    extrapolated day-30 retention - the "shape of the curve"
    summary (b is THE retention quality number: flattening curves
    have small b) that turns q_events_retention's observed
    triangle into a forward forecast, exactly how consumer teams
    project long-horizon retention from two weeks of data
    (power-law decay is the standard empirical fit; exponential
    underfits the fat tail).

    Exactness: cohort and return counts are exact int64 distinct
    aggs on integer epoch days; r is ONE division; the log-log OLS
    and the exp-extrapolation are the q_text_heaps_law protocol
    (ln/exp behind 6dp rounds).

    Scale shape: one (user, day) dedup agg, a 14-row offset frame
    joined against it (cohort semi-join rides a broadcast), 1-row
    fit broadcast back. 100 TB: identical; per-cohort-week curves
    widen the key.
    """
    e = table(spark, sf_dir, "events")
    # days feeds THREE consumers (d0, the cohort cut, the return
    # counts): checkpoint the (user, day) distinct frame so the
    # events dedup agg runs once, not per consumer (r14, the
    # superstep pattern).
    days = superstep_checkpoint(
        e.select(
            "user_id",
            F.datediff(
                F.to_date("ts"), F.lit("1970-01-01").cast("date")
            ).alias("ed"),
        )
        .distinct()
    )
    d0 = days.agg(F.min("ed").alias("d0"))
    cohort = (
        days.crossJoin(d0)
        .filter(F.col("ed") == F.col("d0"))
        .select("user_id")
        .distinct()
    )
    n0 = cohort.agg(F.count("*").cast("bigint").alias("n0"))
    ts = spark.range(1, RET_FIT_MAX_T + 1).select(
        F.col("id").cast("bigint").alias("t")
    )
    returns = (
        days.join(F.broadcast(cohort), "user_id")
        .crossJoin(d0)
        .crossJoin(ts)
        .filter(F.col("ed") == F.col("d0") + F.col("t"))
        .groupBy("t")
        .agg(F.count_distinct(F.col("user_id")).cast("bigint").alias("n_t"))
    )
    curve = (
        ts.join(returns, "t", "left")
        .select("t", F.coalesce("n_t", F.lit(0)).cast("bigint").alias("n_t"))
        .crossJoin(n0)
    )
    # pts (<= RET_FIT_MAX_T rows) feeds the fit agg AND the output
    # projection: checkpoint so the curve build runs once (r14).
    pts = superstep_checkpoint(
        curve.filter(F.col("n_t") > 0).select(
            "t",
            "n_t",
            "n0",
            (F.col("n_t").cast("double") / F.col("n0")).alias("r"),
            F.log(F.col("t").cast("double")).alias("x"),
            F.log(F.col("n_t").cast("double") / F.col("n0")).alias("y"),
        )
    )
    fit = pts.agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("k")
    import math as _math

    pred = F.exp(intercept + slope * _math.log(float(RET_FIT_PREDICT_T)))
    return (
        pts.crossJoin(fit)
        .select(
            "t",
            "n_t",
            F.round("r", 6).alias("retention"),
            F.round(slope, 6).alias("decay_b"),
            F.round(pred, 6).alias(f"predicted_day{RET_FIT_PREDICT_T}"),
        )
        .orderBy("t")
    )


@register(
    "q_time_business_days",
    oracle="""
    WITH first_ship AS (
      SELECT l_orderkey, CAST(min(l_shipdate) AS DATE) AS d1
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey,
             CAST(o.o_orderdate AS DATE) AS d0, f.d1
      FROM orders o JOIN first_ship f ON o.o_orderkey = f.l_orderkey
      WHERE f.d1 > CAST(o.o_orderdate AS DATE)
    ),
    biz AS (
      SELECT o_orderkey, d0, d1,
             date_diff('day', d0, d1) AS cal_days
      FROM j
    ),
    counted AS (
      SELECT o_orderkey, cal_days,
             (SELECT count(*) FROM (
                SELECT unnest(range(1, cal_days + 1)) AS k) g
              WHERE CAST(dayofweek(d0 + to_days(CAST(g.k AS INTEGER)))
                         AS BIGINT) NOT IN (0, 6)) AS biz_days
      FROM biz
    )
    SELECT CAST(avg(cal_days) AS DOUBLE) AS avg_cal_days,
           CAST(avg(biz_days) AS DOUBLE) AS avg_biz_days,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(max(biz_days) AS BIGINT) AS max_biz_days
    FROM counted
    """,
)
def q_time_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day order-to-ship latency (first line item):
    calendar days vs WEEKDAY-ONLY days between o_orderdate and
    l_shipdate - the SLA arithmetic every ops dashboard needs and
    every naive datediff gets wrong (a Friday order shipping Monday
    is 3 calendar days but 1 business day). Computed by counting
    non-weekend days across each span via an explode over the
    bounded per-order range - the declarative form of a business
    calendar join (holidays = one more anti-join against a
    holiday dim, same shape).

    Exactness: day spans and weekday codes are integer arithmetic
    (Spark dayofweek 1=Sun..7=Sat normalized to DuckDB's 0=Sun..6
    =Sat - the q_stats_jsd mapping); averages are integer-sum
    divisions, unrounded.

    Scale shape: the explode fans each order to <= span rows
    (bounded: ship windows are days, not years); at 100 TB the
    closed-form whole-weeks + remainder formula replaces the
    explode (documented; the explode IS the oracle-checkable
    contract here because the closed form has 14 edge cases the
    fixture can't all exercise).
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    # FIRST shipment per order (min shipdate - linenumber keys are
    # not unique in this fixture, so a per-order agg is the only
    # dedup-safe anchor; probed). The synthetic fixture also ships
    # ~half its lines BEFORE the order date; the latency contract is
    # FORWARD spans only - the negative slice is a data-quality
    # finding for q_quality_expectations, not a latency.
    first_ship = li.groupBy("l_orderkey").agg(
        F.to_date(F.min("l_shipdate")).alias("d1")
    )
    j = (
        o.join(
            first_ship, F.col("o_orderkey") == F.col("l_orderkey")
        )
        .filter(F.col("d1") > F.to_date("o_orderdate"))
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("d0"),
            "d1",
        )
    )
    spans = j.select(
        "o_orderkey",
        F.datediff("d1", "d0").cast("bigint").alias("cal_days"),
        "d0",
    )
    exploded = spans.select(
        "o_orderkey",
        "cal_days",
        F.explode(F.sequence(F.lit(1), F.col("cal_days"))).alias("k"),
        "d0",
    ).filter(F.col("cal_days") > 0)
    biz = (
        exploded.select(
            "o_orderkey",
            "cal_days",
            (F.dayofweek(F.date_add(F.col("d0"), F.col("k").cast("int"))) - 1)
            .alias("dow"),
        )
        .groupBy("o_orderkey", "cal_days")
        .agg(
            F.sum(F.when(~F.col("dow").isin(0, 6), 1).otherwise(0))
            .cast("bigint")
            .alias("biz_days")
        )
    )
    return biz.agg(
        F.avg("cal_days").alias("avg_cal_days"),
        F.avg("biz_days").alias("avg_biz_days"),
        F.count("*").cast("bigint").alias("n_orders"),
        F.max("biz_days").cast("bigint").alias("max_biz_days"),
    )


@register(
    "q_events_mix_shift",
    oracle=f"""
    WITH base AS (
      SELECT CASE WHEN dayofmonth(CAST(ts AS DATE)) < {KPI_SPLIT_DAY}
                  THEN 1 ELSE 2 END AS period,
             event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT period, CAST(sum(n) AS BIGINT) AS tn FROM base
      GROUP BY period
    ),
    seg AS (
      SELECT b.event_type,
             max(CASE WHEN b.period = 1
                 THEN CAST(b.n AS DOUBLE) / t.tn END) AS w1,
             max(CASE WHEN b.period = 2
                 THEN CAST(b.n AS DOUBLE) / t.tn END) AS w2,
             max(CASE WHEN b.period = 1
                 THEN CAST(b.cents AS DOUBLE) / (100.0 * b.n) END) AS r1,
             max(CASE WHEN b.period = 2
                 THEN CAST(b.cents AS DOUBLE) / (100.0 * b.n) END) AS r2
      FROM base b JOIN tot t ON b.period = t.period
      GROUP BY b.event_type
    )
    SELECT event_type,
           round(w1, 6) AS share_p1, round(w2, 6) AS share_p2,
           round(r1, 6) AS rate_p1, round(r2, 6) AS rate_p2,
           round((w2 - w1) * (r1 + r2) / 2.0, 6) AS mix_effect,
           round((r2 - r1) * (w1 + w2) / 2.0, 6) AS rate_effect,
           round((w2 - w1) * (r1 + r2) / 2.0
                 + (r2 - r1) * (w1 + w2) / 2.0, 6) AS total_effect
    FROM seg ORDER BY event_type
    """,
)
def q_events_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate/mix decomposition of the period-over-period change in
    average event value: for each event type, how much of the
    overall average's movement came from the type's SHARE changing
    (mix effect) vs its own AVERAGE VALUE changing (rate effect),
    using the symmetric midpoint weighting (w-delta x mean rate +
    r-delta x mean share - the two-period Oaxaca-Blinder/Bennet
    decomposition whose effects sum EXACTLY to each segment's total
    contribution). This answers the question q_events_kpi_tree's
    single-chain logs cannot: "did the METRIC move, or did the
    TRAFFIC move under it?" - the first question asked whenever a
    blended average shifts (Simpson's q_stats_simpson_check is the
    pathological case of the same phenomenon).

    Exactness: counts/cents are int64; shares and rates are integer
    divisions; the midpoint products are the identical trees in
    both engines behind 6dp rounds. The per-type effects sum to the
    overall average's change (the pinned test identity).

    Scale shape: ONE two-period (type) agg + a 2-row total
    broadcast -> 5-row pivot arithmetic. 100 TB: identical.
    """
    e = table(spark, sf_dir, "events")
    period = F.when(
        F.dayofmonth(F.to_date("ts")) < KPI_SPLIT_DAY, 1
    ).otherwise(2)
    base = e.groupBy(
        period.alias("period"), "event_type"
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )
    tot = base.groupBy("period").agg(
        F.sum("n").cast("bigint").alias("tn")
    )
    j = base.join(F.broadcast(tot), "period")
    seg = j.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("period") == 1,
                F.col("n").cast("double") / F.col("tn"),
            )
        ).alias("w1"),
        F.max(
            F.when(
                F.col("period") == 2,
                F.col("n").cast("double") / F.col("tn"),
            )
        ).alias("w2"),
        F.max(
            F.when(
                F.col("period") == 1,
                F.col("cents").cast("double") / (100.0 * F.col("n")),
            )
        ).alias("r1"),
        F.max(
            F.when(
                F.col("period") == 2,
                F.col("cents").cast("double") / (100.0 * F.col("n")),
            )
        ).alias("r2"),
    )
    mix = (F.col("w2") - F.col("w1")) * (F.col("r1") + F.col("r2")) / 2.0
    rate = (F.col("r2") - F.col("r1")) * (F.col("w1") + F.col("w2")) / 2.0
    return seg.select(
        "event_type",
        F.round("w1", 6).alias("share_p1"),
        F.round("w2", 6).alias("share_p2"),
        F.round("r1", 6).alias("rate_p1"),
        F.round("r2", 6).alias("rate_p2"),
        F.round(mix, 6).alias("mix_effect"),
        F.round(rate, 6).alias("rate_effect"),
        F.round(mix + rate, 6).alias("total_effect"),
    ).orderBy("event_type")


SDP_PCTS = (50, 90, 99)


@register(
    "q_events_session_duration_pctl",
    oracle="""
    WITH bounds AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_start,
             event_id
      FROM events
    ),
    sess AS (
      SELECT user_id,
             sum(is_start) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS sid,
             ts
      FROM bounds
    ),
    ivals AS (
      SELECT CAST(date_diff('millisecond', min(ts), max(ts)) AS BIGINT)
               AS dur_ms
      FROM sess GROUP BY user_id, sid
    ),
    g AS (
      SELECT dur_ms, CAST(count(*) AS BIGINT) AS c
      FROM ivals GROUP BY dur_ms
    ),
    cg AS (
      SELECT dur_ms,
             CAST(sum(c) OVER (ORDER BY dur_ms
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM g
    )
    SELECT max(n) AS n_sessions,
           CAST(min(CASE WHEN cum >= (50 * n + 99) // 100
                         THEN dur_ms END) AS BIGINT) AS p50_ms,
           CAST(min(CASE WHEN cum >= (90 * n + 99) // 100
                         THEN dur_ms END) AS BIGINT) AS p90_ms,
           CAST(min(CASE WHEN cum >= (99 * n + 99) // 100
                         THEN dur_ms END) AS BIGINT) AS p99_ms
    FROM cg
    """,
)
def q_events_session_duration_pctl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT session-duration percentiles (p50/p90/p99): sessionize
    every user's stream (30-min gap, the q_stream_session contract),
    measure each session first-to-last-event in integer
    milliseconds, and pick the exact order statistics - the SLA /
    engagement readout behind "half our sessions are under N
    minutes", where approx_percentile's rank error is exactly what
    a p99 report cannot afford (the q_stats_sketch_error lesson
    applied to product analytics).

    Exactness: durations are exact int64 millis (unix_millis diff -
    no timestamp truncation dialect); each pXX is the value at
    1-indexed rank ceil(p*n/100) picked as the smallest duration
    whose cumulative count reaches the rank (the winsorized
    protocol); no interpolation, no floats anywhere.

    Scale shape: sessionization = the standard per-user lag+cumsum
    windows (user-partitioned); durations collapse to a DISTINCT
    (dur_ms, count) frame; the three picks share ONE bucketed
    distributed cumsum (operators/ranks.py - no unpartitioned
    window, r6 audit rule). 100 TB: identical.
    """
    e = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bounds = e.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(wu).isNull()
            | (
                F.col("ts") - F.lag("ts").over(wu)
                > F.expr("INTERVAL 30 MINUTES")
            ),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
        "event_id",
    )
    sess = bounds.select(
        "user_id", F.sum("is_start").over(wu).alias("sid"), "ts"
    )
    ivals = sess.groupBy("user_id", "sid").agg(
        (
            F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts"))
        ).cast("bigint").alias("dur_ms")
    )
    g = ivals.groupBy("dur_ms").agg(
        F.count("*").cast("bigint").alias("c")
    )
    g = global_order(g, "dur_ms", [F.col("dur_ms")], cumsum={"c": "cum"})
    n1 = ivals.agg(F.count("*").cast("bigint").alias("n"))
    g = g.crossJoin(n1)
    picks = [
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"({p} * n + 99) div 100"),
                F.col("dur_ms"),
            )
        )
        .cast("bigint")
        .alias(f"p{p}_ms")
        for p in SDP_PCTS
    ]
    return g.agg(
        F.max("n").cast("bigint").alias("n_sessions"), *picks
    )


@register(
    "q_orders_priority_sla",
    oracle="""
    WITH lag AS (
      SELECT o_orderpriority AS priority,
             CAST(date_diff('day', CAST(o_orderdate AS DATE),
                            CAST(l_shipdate AS DATE)) AS BIGINT) AS d
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    g AS (
      SELECT priority, d, CAST(count(*) AS BIGINT) AS c
      FROM lag GROUP BY priority, d
    ),
    cg AS (
      SELECT priority, d, c,
             CAST(sum(c) OVER (PARTITION BY priority ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY priority) AS BIGINT) AS n
      FROM g
    )
    SELECT priority,
           max(n) AS n_lines,
           CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN d END)
                AS BIGINT) AS median_lag_days,
           CAST(sum(d * c) AS DOUBLE) / max(n) AS mean_lag_days,
           CAST(sum(CASE WHEN d > 90 THEN c ELSE 0 END) AS DOUBLE)
             / max(n) AS share_over_90d
    FROM cg GROUP BY priority ORDER BY priority
    """,
)
def q_orders_priority_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does URGENT actually ship faster? Per order PRIORITY: the
    EXACT median, mean, and >90-day share of the order-to-ship lag -
    the SLA audit that catches a priority system nobody honors
    (medians matter here: lag distributions are right-skewed and a
    few stragglers hide a broken median under a plausible mean).
    Complements q_supplier_lead_time (keyed by supplier, mean-based)
    with the priority cut and an exact order statistic.

    Exactness: both dates CAST to DATE before diffing (sub-day
    components truncate in different orders across engines -
    FIXTURES.md); lags are exact int64 days (negatives kept -
    roughly half of lineitem ships before the order date in this
    fixture, a fixture quirk the operator reports rather than
    hides); the median is the lower order statistic at rank
    ceil(n/2) picked from the per-priority cumulative; mean/share
    are single IEEE divisions, unrounded.

    Scale shape: one fact-fact join collapses straight to the
    DISTINCT (priority, lag-day) frame (two-phase agg); the median
    comes from a bucketed per-priority distributed cumsum
    (operators/ranks.py - no unpartitioned window, r6 audit rule);
    the readout is a |priorities|-row agg. 100 TB: identical.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    lag = li.join(
        o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        ).cast("bigint").alias("d"),
    )
    g = lag.groupBy("priority", "d").agg(
        F.count("*").cast("bigint").alias("c")
    )
    g = global_order(
        g, "d", [F.col("d")], cumsum={"c": "cum"},
        partition_cols=["priority"],
    )
    n1 = lag.groupBy("priority").agg(
        F.count("*").cast("bigint").alias("n")
    )
    g = g.join(F.broadcast(n1), "priority")
    return (
        g.groupBy("priority")
        .agg(
            F.max("n").cast("bigint").alias("n_lines"),
            F.min(
                F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("d"))
            )
            .cast("bigint")
            .alias("median_lag_days"),
            (
                F.sum(F.col("d") * F.col("c")).cast("double") / F.max("n")
            ).alias("mean_lag_days"),
            (
                F.sum(F.when(F.col("d") > 90, F.col("c")).otherwise(0))
                .cast("double")
                / F.max("n")
            ).alias("share_over_90d"),
        )
        .orderBy("priority")
    )
