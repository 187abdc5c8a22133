"""Window functions (SURVEY §2.5).

Scale notes: every window here is PARTITIONED (by customer / user /
status) - one shuffle on the partition key, then a per-partition
sort; no global single-partition windows in the hot paths
(q_win_percent_rank_cume ranks the 20k-row `part` dim - acceptable;
at 100 TB rank a pre-aggregated or bucketed projection instead).
Ties at ranking boundaries are broken by a unique key so results are
deterministic functions (SURVEY §5.2).

Running sums/averages are rounded 4 dp: DuckDB evaluates constant
frames with segment trees (different association order than Spark's
incremental accumulation) -> last-ulp drift on raw doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import avg_exact_over
from ..loaders import load, table
from ..registry import register
from .ranks import global_order, ntile_expr


@register(
    "q_win_rownumber_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q_win_rownumber_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer; ties broken by o_orderkey."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "q_win_rank_dense",
    oracle="""
    SELECT o_orderkey, price_bucket,
           rank() OVER (PARTITION BY o_orderstatus
                        ORDER BY price_bucket DESC) AS rnk,
           dense_rank() OVER (PARTITION BY o_orderstatus
                              ORDER BY price_bucket DESC) AS drnk
    FROM (SELECT o_orderkey, o_orderstatus,
                 CAST(floor(o_totalprice / 10000) AS BIGINT) AS price_bucket
          FROM orders)
    """,
)
def q_win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank over a bucketed price (buckets force ties; rank
    output is deterministic under ties because it depends only on the
    order key)."""
    o = table(spark, sf_dir, "orders").withColumn(
        "price_bucket", F.floor(F.col("o_totalprice") / 10000)
    )
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("price_bucket").desc())
    return o.select(
        "o_orderkey",
        "price_bucket",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "q_win_ntile",
    oracle="""
    SELECT c_custkey, c_acctbal,
           ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
    FROM customer
    """,
)
def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acctbal quartiles; total order includes c_custkey so tied
    balances assign deterministically. A window ntile with no
    partition spec would be an Exchange SinglePartition single-task
    sort (the r6 audit finding), so the quartile comes from the
    shared bucketed two-pass rank (operators/ranks.py) plus the
    closed-form ntile expression on (rank, N) - bit-identical to the
    window ntile in both engines, parallel at any scale."""
    c = table(spark, sf_dir, "customer")
    r = global_order(
        c.select("c_custkey", "c_acctbal"),
        "c_acctbal",
        [F.col("c_acctbal"), F.col("c_custkey")],
        rank_name="_i",
        total_name="_n",
    )
    return r.select(
        "c_custkey",
        "c_acctbal",
        ntile_expr(F.col("_i"), F.col("_n"), 4).cast("int").alias("quartile"),
    )


@register(
    "q_win_lag_lead",
    oracle="""
    SELECT event_id, user_id, ts, value,
           value - lag(value) OVER w AS delta_value,
           epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_to_next_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event deltas. Gap computed in exact integer micros
    (unix_micros == DuckDB epoch_us) - no float rounding needed."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta_value"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))).alias(
            "gap_to_next_us"
        ),
    )


@register(
    "q_win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_spent
    FROM orders
    """,
)
def q_win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 4).alias("running_spent"),
    )


_WEEK_US = 7 * 86400 * 1_000_000


@register(
    "q_win_moving_avg",
    oracle=f"""
    SELECT event_id, user_id, ts,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER w AS DOUBLE)
                 / (count(value) OVER w * 100.0) AS avg_7d
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {_WEEK_US} PRECEDING AND CURRENT ROW)
    """,
)
def q_win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average per user via a RANGE frame over exact
    integer microseconds (identical frame boundaries on both engines)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-_WEEK_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        avg_exact_over("value", w).alias("avg_7d"),
    )


@register(
    "q_win_first_last",
    oracle="""
    SELECT event_id, user_id, ts,
           first_value(value) OVER w AS first_val,
           last_value(value)  OVER w AS last_val,
           nth_value(value, 2) OVER w AS second_val
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth over the full partition frame (values are raw
    doubles copied, not aggregated - exact on both sides)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
        F.nth_value("value", 2).over(w).alias("second_val"),
    )


@register(
    "q_win_percent_rank_cume",
    oracle="""
    SELECT p_partkey, p_retailprice,
           percent_rank() OVER (ORDER BY p_retailprice) AS pr,
           cume_dist()    OVER (ORDER BY p_retailprice) AS cd
    FROM part
    """,
)
def q_win_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist: rank-based, so deterministic under ties;
    values are exact rationals (same division both sides) - unrounded.

    Both statistics are pure functions of the VALUE (min-rank and
    through-count of p_retailprice), so they are computed on the
    DISTINCT-value frame via the bucketed two-pass cumsum
    (operators/ranks.py) and hash-joined back - not an unpartitioned
    window, which would be an Exchange SinglePartition single-task
    sort (the r6 audit finding): percent_rank = count_less/(N-1),
    cume_dist = count_through/N."""
    p = table(spark, sf_dir, "part")
    g = p.groupBy("p_retailprice").agg(
        F.count("*").cast("bigint").alias("_c")
    )
    g = global_order(
        g, "p_retailprice", [F.col("p_retailprice")],
        cumsum={"_c": "_cum"},
    )
    # N = number of PART ROWS (sum of per-value counts; total_name
    # would count distinct values).
    n1 = g.agg(F.sum("_c").cast("bigint").alias("_n"))
    g = g.crossJoin(n1)
    stats = g.select(
        "p_retailprice",
        F.when(
            F.col("_n") > 1,
            (F.col("_cum") - F.col("_c")).cast("double")
            / (F.col("_n") - 1),
        )
        .otherwise(0.0)
        .alias("pr"),
        (F.col("_cum").cast("double") / F.col("_n")).alias("cd"),
    )
    return p.join(stats, "p_retailprice").select(
        "p_partkey", "p_retailprice", "pr", "cd"
    )


@register(
    "q_win_sliding_distinct",
    oracle="""
    WITH dd AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d AS day FROM dd)
    SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS u7
    FROM days JOIN dd ON dd.d BETWEEN day - 6 AND day
    GROUP BY day
    """,
)
def q_win_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per active day (rolling DAU->WAU).
    COUNT(DISTINCT) is not a window function in either engine - and at
    scale a per-frame re-count would re-shuffle raw ids once per day -
    so the sliding distinct is rewritten as COVERAGE: dedup to one row
    per (day, user), explode each into the <= 7 window-END days it
    contributes to (sequence(d, d+6)), and hash-aggregate distinct
    users per window end. Expansion is bounded x7 AFTER the per-day
    dedup, the join back to real days drops phantom ends past the
    span, and everything is two hash aggs + one bounded explode - no
    per-frame recomputation, no window state.
    """
    e = table(spark, sf_dir, "events")
    dd = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = e.select(F.to_date("ts").alias("day")).distinct()
    cover = dd.select(
        F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("day"),
        "user_id",
    )
    return (
        cover.join(days, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("u7"))
    )


EWMA_ALPHA = 0.25
EWMA_TAPS = 16


@register(
    "q_win_ewma",
    oracle=f"""
    WITH s AS (
      SELECT event_id, user_id, value,
             {", ".join(
                 f"lag(value, {k}) OVER (PARTITION BY user_id "
                 f"ORDER BY ts, event_id) AS x{k}"
                 for k in range(EWMA_TAPS)
             )}
      FROM events
    )
    SELECT event_id, user_id, value,
           round((
             {" + ".join(
                 f"coalesce(x{k}, 0) * {EWMA_ALPHA * (1 - EWMA_ALPHA) ** k!r}"
                 for k in range(EWMA_TAPS)
             )}
           ) / (
             {" + ".join(
                 f"(CASE WHEN x{k} IS NOT NULL THEN {EWMA_ALPHA * (1 - EWMA_ALPHA) ** k!r} ELSE 0 END)"
                 for k in range(EWMA_TAPS)
             )}
           ), 6) AS ewma
    FROM s
    """,
)
def q_win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's event
    values (alpha=0.25), expressed as a 16-tap FIR filter: ewma_i =
    sum_k w_k x_{{i-k}} / sum_k w_k over the AVAILABLE taps (pandas
    ewm(adjust=True) semantics), with w_k = a(1-a)^k. The IIR
    recurrence (y_i = a x_i + (1-a) y_{{i-1}}) cannot be a window
    function in either engine - it references its own output - but
    truncating at 16 taps bounds the tail error at (1-a)^16 < 1%,
    which the shared normalization absorbs entirely for steady
    series.

    Plan shape: ONE window pass producing 16 lag columns (lags over
    the same (partition, order) share a single sort), then a map-only
    weighted sum. Both engines evaluate the identical left-folded
    expression with identical literal weights, so results match to
    the 6-dp round. Scale: per-user partitions, bounded 16-value
    frame lookback, no state beyond the sort."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("value", k).over(w).alias(f"x{k}") for k in range(EWMA_TAPS)]
    s = e.select("event_id", "user_id", "value", *lags)
    num = None
    den = None
    for k in range(EWMA_TAPS):
        wk = F.lit(EWMA_ALPHA * (1 - EWMA_ALPHA) ** k)
        nk = F.coalesce(F.col(f"x{k}"), F.lit(0.0)) * wk
        dk = F.when(F.col(f"x{k}").isNotNull(), wk).otherwise(F.lit(0.0))
        num = nk if num is None else num + nk
        den = dk if den is None else den + dk
    return s.select(
        "event_id", "user_id", "value", F.round(num / den, 6).alias("ewma")
    )


@register(
    "q_win_cum_share",
    oracle="""
    WITH daily AS (
      SELECT c_mktsegment AS segment,
             CAST(o_orderdate AS DATE) AS day,
             round(sum(o_totalprice), 4) AS day_rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1, 2
    )
    SELECT segment, day, day_rev,
           round(sum(day_rev) OVER (
                   PARTITION BY segment ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / sum(day_rev) OVER (PARTITION BY segment), 6)
             AS cum_share
    FROM daily
    """,
)
def q_win_cum_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running share of quarter revenue per market segment by day
    (pacing curve: what fraction of the segment's Q1-1996 revenue had
    landed by each date). Demonstrates mixing a running frame and a
    whole-partition frame over ONE window sort.

    Determinism: daily revenue is rounded to 4dp FIRST on both sides,
    so the running sum adds the identical doubles in the identical
    (day-ordered, unique per segment) sequence - same IEEE results;
    the final ratio is a 6dp-rounded aggregate, per registry rules.
    Scale shape: pre-aggregate to segment x day (tiny) BEFORE any
    window sort; the fact shuffle is the groupBy, the windows run on
    the small rollup.
    """
    t = load(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    daily = (
        o.join(
            t["customer"].select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.round(F.sum("o_totalprice"), 4).alias("day_rev"))
    )
    running = Window.partitionBy("segment").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    whole = Window.partitionBy("segment")
    return daily.select(
        "segment",
        "day",
        "day_rev",
        F.round(
            F.sum("day_rev").over(running) / F.sum("day_rev").over(whole), 6
        ).alias("cum_share"),
    )


@register(
    "q_win_drawdown",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT)
                 AS yi
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    cum AS (
      SELECT event_type, day,
             CAST(sum(yi) OVER w AS BIGINT) AS c
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    dd AS (
      SELECT event_type, day,
             CAST(max(c) OVER w2 AS BIGINT) - c AS d
      FROM cum
      WINDOW w2 AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    best AS (
      SELECT event_type, CAST(max(d) AS BIGINT) AS dmax,
             CAST(count(*) AS BIGINT) AS n_days
      FROM dd GROUP BY event_type
    )
    SELECT b.event_type,
           CAST(b.dmax AS DOUBLE) / 10000.0 AS max_drawdown,
           min(d.day) AS trough_day,
           b.n_days
    FROM best b JOIN dd d
      ON d.event_type = b.event_type AND d.d = b.dmax
    GROUP BY b.event_type, b.dmax, b.n_days
    ORDER BY b.event_type
    """,
)
def q_win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of cumulative daily revenue per event type:
    the deepest drop from a running peak (running-max minus running
    sum), with the earliest trough day - the finance-style worst-case
    pacing metric ('how far below the best-so-far did this stream
    fall?').

    Float protocol: revenue accumulates as INTEGER 1e-4 units, so
    the running sum, running peak, drawdown, and its argmax equality
    join are all EXACT integer arithmetic - one division to dollars
    at the very end (functions/exact.py).

    Scale shape: one fact-scan rollup, then stacked windows (running
    sum, then running max OVER the running sum) on the bounded
    |types| x |days| frame - the q_stats_cusum pattern with max
    instead of min.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 10000, 0).cast("long")).alias("yi"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "event_type", "day", F.sum("yi").over(w).alias("c")
    )
    dd = cum.select(
        "event_type",
        "day",
        (F.max("c").over(w.orderBy("day")) - F.col("c")).alias("d"),
    )
    best = dd.groupBy("event_type").agg(
        F.max("d").cast("bigint").alias("dmax"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    b = best.alias("b")
    d = dd.alias("d")
    return (
        b.join(
            d,
            (F.col("d.event_type") == F.col("b.event_type"))
            & (F.col("d.d") == F.col("b.dmax")),
        )
        .groupBy(
            F.col("b.event_type").alias("event_type"), "dmax", "n_days"
        )
        .agg(F.min("day").alias("trough_day"))
        .select(
            "event_type",
            (F.col("dmax").cast("double") / F.lit(10000.0)).alias(
                "max_drawdown"
            ),
            "trough_day",
            "n_days",
        )
        .orderBy("event_type")
    )


ROLLCORR_A = "click"
ROLLCORR_B = "purchase"
ROLLCORR_W = 14  # trailing window, rows


@register(
    "q_win_rolling_corr",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(sum(CASE WHEN event_type = '{ROLLCORR_A}'
                  THEN CAST(round(value * 10000, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS xi,
             CAST(sum(CASE WHEN event_type = '{ROLLCORR_B}'
                  THEN CAST(round(value * 10000, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS yi
      FROM events WHERE event_type IN ('{ROLLCORR_A}', '{ROLLCORR_B}')
      GROUP BY date_trunc('day', ts)
    ),
    sums AS (
      SELECT day,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(xi) OVER w AS BIGINT) AS sx,
             CAST(sum(yi) OVER w AS BIGINT) AS sy,
             CAST(sum(xi * yi) OVER w AS BIGINT) AS sxy,
             CAST(sum(xi * xi) OVER w AS BIGINT) AS sxx,
             CAST(sum(yi * yi) OVER w AS BIGINT) AS syy
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN {ROLLCORR_W - 1} PRECEDING
                   AND CURRENT ROW)
    )
    SELECT day, n,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
               AS roll_corr
    FROM sums WHERE n = {ROLLCORR_W}
    ORDER BY day
    """,
)
def q_win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 14-day rolling Pearson correlation between click and
    purchase daily revenue - 'are engagement and monetization still
    moving together?', the co-movement drift monitor (a windowed
    sibling of q_agg_corr_matrix's global correlations).

    Float protocol: both series aggregate as INTEGER 1e-4 units, so
    every window power sum is exact int64 (products bounded ~1e17 <
    2^63); the correlation is computed from identical integers with
    identical IEEE ops and emitted unrounded (functions/exact.py -
    no engine-side rounding of potentially-short decimals).

    Scale shape: ONE conditional-sum rollup collapses the fact scan
    to |days| rows with both series as columns (no join at all);
    the rolling frame is a bounded 14-row window over that frame.
    """
    e = table(spark, sf_dir, "events")
    unit = F.round(F.col("value") * 10000, 0).cast("long")
    daily = (
        e.filter(F.col("event_type").isin(ROLLCORR_A, ROLLCORR_B))
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == ROLLCORR_A, unit).otherwise(0)
            ).alias("xi"),
            F.sum(
                F.when(F.col("event_type") == ROLLCORR_B, unit).otherwise(0)
            ).alias("yi"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-(ROLLCORR_W - 1), 0)
    sums = daily.select(
        "day",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("xi").over(w).alias("sx"),
        F.sum("yi").over(w).alias("sy"),
        F.sum(F.col("xi") * F.col("yi")).over(w).alias("sxy"),
        F.sum(F.col("xi") * F.col("xi")).over(w).alias("sxx"),
        F.sum(F.col("yi") * F.col("yi")).over(w).alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return (
        sums.filter(F.col("n") == ROLLCORR_W)
        .select("day", "n", (num / den).alias("roll_corr"))
        .orderBy("day")
    )


BOLL_W = 14  # trading-style band window (13 preceding + current)


@register(
    "q_win_bollinger",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS yi
      FROM events WHERE event_type = 'purchase'
      GROUP BY date_trunc('day', ts)
    ),
    win AS (
      SELECT day, yi,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(yi) OVER w AS BIGINT) AS s1,
             CAST(sum(yi * yi) OVER w AS BIGINT) AS s2
      FROM daily
      WINDOW w AS (ORDER BY day
                   ROWS BETWEEN {BOLL_W - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT day, n AS n_win,
           CAST(yi AS DOUBLE) / 100.0 AS rev,
           CAST(s1 AS DOUBLE) / n / 100.0 AS mean_w,
           (CAST(s1 AS DOUBLE) / n
            + 2.0 * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n) / 100.0
               AS upper_band,
           (CAST(s1 AS DOUBLE) / n
            - 2.0 * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n) / 100.0
               AS lower_band,
           CASE WHEN n * yi - s1 > 0
                     AND (n * yi - s1) * (n * yi - s1)
                         > 4 * (n * s2 - s1 * s1) THEN 1
                WHEN n * yi - s1 < 0
                     AND (n * yi - s1) * (n * yi - s1)
                         > 4 * (n * s2 - s1 * s1) THEN -1
                ELSE 0 END AS breach
    FROM win ORDER BY day
    """,
)
def q_win_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over daily purchase revenue: 14-day rolling
    mean +/- 2 population sigma, with a per-day breach flag (+1
    above the upper band, -1 below the lower) - the volatility
    envelope that turns q_win_moving_avg into an actionable
    outlier signal (and the windowed twin of q_events_anomaly's
    global z-score).

    Float protocol: daily revenue is exact int64 CENTS; the window
    carries three exact integer power sums (n, s1, s2), so the
    BREACH DECISION is pure integer arithmetic - (n*yi - s1)^2 >
    4*(n*s2 - s1^2) is (x - mu)^2 > (2 sigma)^2 scaled by n^2 -
    immune to libm. Band values need one sqrt (IEEE-exact) and
    divisions mirrored as the IDENTICAL expression tree in both
    engines, reported UNROUNDED (functions/exact.py). Integer
    headroom: n*s2 <= 14 * (max daily cents)^2 stays inside int64
    through sf 1; beyond that the protocol drops to 1e-2-unit
    doubles (documented trade, decision unchanged in practice).

    Scale shape: ONE map-side-combining daily rollup (the only
    fact-table pass), then a single-partition ordered window over
    the |days|-row frame - bounded exactly like q_win_drawdown; per
    SERIES partitioning (event_type, region) restores parallelism
    when the day frame is not bounded.
    """
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum(cents).cast("bigint").alias("yi"))
    )
    w = Window.orderBy("day").rowsBetween(-(BOLL_W - 1), 0)
    win = daily.select(
        "day",
        "yi",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("yi").over(w).cast("bigint").alias("s1"),
        F.sum(F.col("yi") * F.col("yi")).over(w).cast("bigint").alias("s2"),
    )
    dev = F.col("n") * F.col("yi") - F.col("s1")
    var_n2 = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    mean = F.col("s1").cast("double") / F.col("n")
    half = 2.0 * F.sqrt(var_n2.cast("double")) / F.col("n")
    return win.select(
        "day",
        F.col("n").alias("n_win"),
        (F.col("yi").cast("double") / 100.0).alias("rev"),
        (mean / 100.0).alias("mean_w"),
        ((mean + half) / 100.0).alias("upper_band"),
        ((mean - half) / 100.0).alias("lower_band"),
        F.when((dev > 0) & (dev * dev > 4 * var_n2), 1)
        .when((dev < 0) & (dev * dev > 4 * var_n2), -1)
        .otherwise(0)
        .alias("breach"),
    ).orderBy("day")


RSI_W = 14  # Cutler's RSI lookback (14 day-over-day moves)


@register(
    "q_win_rsi",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS yi
      FROM events GROUP BY 1, 2
    ),
    diffs AS (
      SELECT event_type, day,
             yi - lag(yi) OVER (PARTITION BY event_type ORDER BY day)
                 AS d
      FROM daily
    ),
    moves AS (SELECT * FROM diffs WHERE d IS NOT NULL),
    win AS (
      SELECT event_type, day,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(CASE WHEN d > 0 THEN d ELSE 0 END) OVER w
                  AS BIGINT) AS gain,
             CAST(sum(CASE WHEN d < 0 THEN -d ELSE 0 END) OVER w
                  AS BIGINT) AS loss
      FROM moves
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {RSI_W - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, gain AS gain_cents, loss AS loss_cents,
           CAST(100 * gain AS DOUBLE) / (gain + loss) AS rsi
    FROM win WHERE n = {RSI_W} AND gain + loss > 0
    ORDER BY event_type, day
    """,
)
def q_win_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index (Cutler's simple-moving-average
    variant, 14 moves) per event-type daily revenue series: the
    bounded [0,100] momentum oscillator (RSI = 100*avgGain /
    (avgGain+avgLoss) over the last 14 day-over-day moves) that
    complements q_win_bollinger's volatility envelope with a
    direction signal. Cutler's SMA form is chosen over Wilder's
    recursive EWMA deliberately: the recursion makes every value
    depend on the whole history (not window-expressible, and
    start-point dependent); the SMA form is windowed, exact, and
    the industry-standard fix for exactly that property.

    Float protocol: moves are exact int64 CENT diffs via lag; gain
    and loss are integer conditional window sums, so RSI is ONE
    IEEE division of exact integers - reported UNROUNDED
    (functions/exact.py rule). Rows with an incomplete lookback
    (first 14 moves of each series) or a degenerate flat window
    (gain+loss = 0, where RSI is undefined) are excluded rather
    than null-padded, keeping the output all-defined.

    Scale shape: ONE map-side-combining (type, day) rollup is the
    only fact pass; lag + the 14-row frame run per-series
    partitioned (5 series here, thousands at scale - parallelism is
    the partition count), all on the bounded daily frame.
    """
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(cents).cast("bigint").alias("yi"))
    ws = Window.partitionBy("event_type").orderBy("day")
    moves = daily.select(
        "event_type",
        "day",
        (F.col("yi") - F.lag("yi").over(ws)).alias("d"),
    ).filter(F.col("d").isNotNull())
    w = ws.rowsBetween(-(RSI_W - 1), 0)
    win = moves.select(
        "event_type",
        "day",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("gain"),
        F.sum(F.when(F.col("d") < 0, -F.col("d")).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("loss"),
    )
    return (
        win.filter(
            (F.col("n") == RSI_W) & (F.col("gain") + F.col("loss") > 0)
        )
        .select(
            "event_type",
            "day",
            F.col("gain").alias("gain_cents"),
            F.col("loss").alias("loss_cents"),
            (
                (100 * F.col("gain")).cast("double")
                / (F.col("gain") + F.col("loss"))
            ).alias("rsi"),
        )
        .orderBy("event_type", "day")
    )


PEAK_HALF_W = 3  # strict local max over +/- 3 days


@register(
    "q_win_peak_detect",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM events GROUP BY 1, 2
    ),
    nb AS (
      SELECT event_type, ed, cents,
             CAST(count(*) OVER wp AS BIGINT) AS n_prev,
             CAST(count(*) OVER wn AS BIGINT) AS n_next,
             CAST(coalesce(max(cents) OVER wp, -1) AS BIGINT) AS mx_prev,
             CAST(coalesce(max(cents) OVER wn, -1) AS BIGINT) AS mx_next
      FROM daily
      WINDOW wp AS (PARTITION BY event_type ORDER BY ed
                    ROWS BETWEEN {PEAK_HALF_W} PRECEDING
                    AND 1 PRECEDING),
             wn AS (PARTITION BY event_type ORDER BY ed
                    ROWS BETWEEN 1 FOLLOWING
                    AND {PEAK_HALF_W} FOLLOWING)
    )
    SELECT event_type, ed AS epoch_day, cents,
           cents - greatest(mx_prev, mx_next) AS prominence_cents
    FROM nb
    WHERE n_prev = {PEAK_HALF_W} AND n_next = {PEAK_HALF_W}
      AND cents > mx_prev AND cents > mx_next
    ORDER BY event_type, epoch_day
    """,
)
def q_win_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict local-maximum peak detection on each event type's
    daily revenue series: a day is a peak when it strictly exceeds
    EVERY day within +/-3 rows of the series (interior days only -
    edge days with a truncated neighborhood can't certify), reported
    with its prominence over the tallest neighbor - the
    signal-processing primitive (scipy.signal.find_peaks' core
    test) behind campaign-spike mining and alert deduplication,
    complementing q_events_anomaly's global z-score with a LOCAL
    shape criterion.

    Exactness: everything is int64 cents - neighborhood maxima via
    two integer window frames, the peak predicate and prominence
    are pure integer compares/subtraction. No float surface at all.

    Scale shape: ONE map-side-combining daily rollup (the only fact
    pass), then per-series bounded ROWS frames - same posture as
    q_win_rsi; thousands of series = partition parallelism.
    """
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "ed"
        ),
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    ws = Window.partitionBy("event_type").orderBy("ed")
    wp = ws.rowsBetween(-PEAK_HALF_W, -1)
    wn = ws.rowsBetween(1, PEAK_HALF_W)
    nb = daily.select(
        "event_type",
        "ed",
        "cents",
        F.count("*").over(wp).cast("bigint").alias("n_prev"),
        F.count("*").over(wn).cast("bigint").alias("n_next"),
        F.coalesce(F.max("cents").over(wp), F.lit(-1))
        .cast("bigint")
        .alias("mx_prev"),
        F.coalesce(F.max("cents").over(wn), F.lit(-1))
        .cast("bigint")
        .alias("mx_next"),
    )
    return (
        nb.filter(
            (F.col("n_prev") == PEAK_HALF_W)
            & (F.col("n_next") == PEAK_HALF_W)
            & (F.col("cents") > F.col("mx_prev"))
            & (F.col("cents") > F.col("mx_next"))
        )
        .select(
            "event_type",
            F.col("ed").alias("epoch_day"),
            "cents",
            (
                F.col("cents") - F.greatest("mx_prev", "mx_next")
            ).alias("prominence_cents"),
        )
        .orderBy("event_type", "epoch_day")
    )


@register(
    "q_win_cep_vshape",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, ed, cents,
             lag(cents, 2) OVER w AS m2, lag(cents, 1) OVER w AS m1,
             lead(cents, 1) OVER w AS p1, lead(cents, 2) OVER w AS p2
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY ed)
    )
    SELECT event_type, ed AS trough_day, cents AS trough_cents,
           m2 - cents AS drop_cents, p2 - cents AS recovery_cents
    FROM lagged
    WHERE m2 > m1 AND m1 > cents AND cents < p1 AND p1 < p2
    ORDER BY event_type, trough_day
    """,
)
def q_win_cep_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event V-shape detection on each event type's daily
    revenue series:
    emit every trough day whose series fell STRICTLY for the two
    preceding days and rose strictly for the two following (the
    MATCH_RECOGNIZE `A{2} B C{2}` / Flink-CEP pattern shape,
    compiled to declarative lag/lead chains instead of an NFA -
    fixed-length patterns need no state machine, which is exactly
    why engines rewrite them this way), with the peak-to-trough
    drop and the two-day recovery as the match measures.

    Exactness: pure int64 throughout - four lag/lead columns and
    strict integer compares; rows at series edges (any NULL
    neighbor) fail the strict predicate and are correctly excluded.
    No float surface.

    Scale shape: one fact rollup, ONE ordered window pass carrying
    four bounded offsets - per-series partitioning (event_type,
    region) is the parallel form, same as q_win_rsi. Variable-length
    patterns (A+ B+) compile to the q_win_streak run-id idiom
    instead; this operator pins the fixed-length compilation.
    """
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "ed"
        ),
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    w = Window.partitionBy("event_type").orderBy("ed")
    lagged = daily.select(
        "event_type",
        "ed",
        "cents",
        F.lag("cents", 2).over(w).alias("m2"),
        F.lag("cents", 1).over(w).alias("m1"),
        F.lead("cents", 1).over(w).alias("p1"),
        F.lead("cents", 2).over(w).alias("p2"),
    )
    return (
        lagged.filter(
            (F.col("m2") > F.col("m1"))
            & (F.col("m1") > F.col("cents"))
            & (F.col("cents") < F.col("p1"))
            & (F.col("p1") < F.col("p2"))
        )
        .select(
            "event_type",
            F.col("ed").alias("trough_day"),
            F.col("cents").alias("trough_cents"),
            (F.col("m2") - F.col("cents")).alias("drop_cents"),
            (F.col("p2") - F.col("cents")).alias("recovery_cents"),
        )
        .orderBy("event_type", "trough_day")
    )


SPC_SUBGROUP = 5        # X-bar/R subgroup size (days per subgroup)
SPC_A2 = "0.577"        # control-chart constants for n=5 (literal,
SPC_D3 = "0.0"          # from the standard SPC tables)
SPC_D4 = "2.114"


@register(
    "q_win_spc_xbar_r",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    idx AS (
      SELECT CAST((row_number() OVER (ORDER BY ed) - 1)
                  // {SPC_SUBGROUP} AS BIGINT) AS sg,
             y,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM daily
    ),
    sub AS (
      SELECT sg, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(y) AS BIGINT) AS s1,
             CAST(max(y) - min(y) AS BIGINT) AS r
      FROM idx WHERE sg < (SELECT max(n) FROM idx) // {SPC_SUBGROUP}
      GROUP BY sg
    ),
    lim AS (
      SELECT avg(CAST(s1 AS DOUBLE) / m) AS xbb,
             avg(CAST(r AS DOUBLE)) AS rb
      FROM sub
    )
    SELECT s.sg AS subgroup,
           round(CAST(s.s1 AS DOUBLE) / s.m, 4) AS xbar,
           s.r AS range_cents,
           round(l.xbb, 4) AS center,
           round(l.xbb + {SPC_A2} * l.rb, 4) AS ucl_x,
           round(l.xbb - {SPC_A2} * l.rb, 4) AS lcl_x,
           round({SPC_D4} * l.rb, 4) AS ucl_r,
           CASE WHEN CAST(s.s1 AS DOUBLE) / s.m
                     > l.xbb + {SPC_A2} * l.rb
                  OR CAST(s.s1 AS DOUBLE) / s.m
                     < l.xbb - {SPC_A2} * l.rb THEN 1 ELSE 0 END
               AS out_of_control
    FROM sub s CROSS JOIN lim l ORDER BY subgroup
    """,
)
def q_win_spc_xbar_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-bar/R statistical process control chart over daily purchase
    revenue in subgroups of 5 days: subgroup means against
    Xbarbar +/- A2*Rbar control limits (A2/D3/D4 = the standard SPC
    constants for n=5), subgroup ranges against D4*Rbar - Shewhart's
    original process-monitoring design, the INDUSTRIAL sibling of
    q_win_bollinger (whose limits come from the series' own rolling
    sigma; SPC limits come from WITHIN-subgroup dispersion, which
    is what makes them detect between-subgroup shifts). Trailing
    partial subgroups are dropped (standard practice).

    Exactness: subgroup sums/ranges are exact int64; xbar and the
    limits are integer-ratio and literal-constant arithmetic (the
    only order surface is the two <=|subgroups|-term averages,
    behind the 4dp rounds); the out-of-control flag compares the
    identical unrounded trees.

    Scale shape: one fact rollup, one rank window to index
    subgroups, bounded aggs - per-series SPC partitions the rank
    window (the q_win_rsi posture).
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "ed"
        )
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    idx = daily.select(
        F.expr(
            f"(row_number() OVER (ORDER BY ed) - 1) div {SPC_SUBGROUP}"
        )
        .cast("bigint")
        .alias("sg"),
        "y",
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    nfull = idx.agg(
        F.expr(f"max(n) div {SPC_SUBGROUP}").alias("nfull")
    )
    sub = (
        idx.crossJoin(nfull)
        .filter(F.col("sg") < F.col("nfull"))
        .groupBy("sg")
        .agg(
            F.count("*").cast("bigint").alias("m"),
            F.sum("y").cast("bigint").alias("s1"),
            (F.max("y") - F.min("y")).cast("bigint").alias("r"),
        )
    )
    lim = sub.agg(
        F.avg(F.col("s1").cast("double") / F.col("m")).alias("xbb"),
        F.avg(F.col("r").cast("double")).alias("rb"),
    )
    a2, d4 = float(SPC_A2), float(SPC_D4)
    xbar = F.col("s1").cast("double") / F.col("m")
    ucl = F.col("xbb") + a2 * F.col("rb")
    lcl = F.col("xbb") - a2 * F.col("rb")
    return (
        sub.crossJoin(lim)
        .select(
            F.col("sg").alias("subgroup"),
            F.round(xbar, 4).alias("xbar"),
            F.col("r").alias("range_cents"),
            F.round("xbb", 4).alias("center"),
            F.round(ucl, 4).alias("ucl_x"),
            F.round(lcl, 4).alias("lcl_x"),
            F.round(d4 * F.col("rb"), 4).alias("ucl_r"),
            F.when((xbar > ucl) | (xbar < lcl), 1)
            .otherwise(0)
            .alias("out_of_control"),
        )
        .orderBy("subgroup")
    )


@register(
    "q_win_skyline_2d",
    oracle="""
    WITH pts AS (
      SELECT o.o_orderkey,
             CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS price,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(f.d1 AS DATE)) AS BIGINT) AS latency
      FROM orders o
      JOIN (SELECT l_orderkey, min(l_shipdate) AS d1 FROM lineitem
            GROUP BY l_orderkey) f
        ON o.o_orderkey = f.l_orderkey
      WHERE CAST(f.d1 AS DATE) > CAST(o.o_orderdate AS DATE)
    ),
    swept AS (
      SELECT o_orderkey, price, latency,
             min(latency) OVER (ORDER BY price, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS best_latency_cheaper
      FROM pts
    )
    SELECT o_orderkey, price AS price_cents, latency AS latency_days
    FROM swept
    WHERE best_latency_cheaper IS NULL
       OR latency < best_latency_cheaper
    ORDER BY price_cents, o_orderkey
    """,
)
def q_win_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front) of orders on (price LOW, ship
    latency LOW): an order survives iff NO strictly cheaper-or-equal
    order shipped strictly faster - the SKYLINE operator relational
    engines grew for multi-criteria shortlists ("show me the
    non-dominated options"), which plain ORDER BY cannot express.
    Computed by the classic sort-sweep: order by price, keep rows
    that improve the running-min latency - O(n log n), ONE window
    pass, no self-join (the naive NOT EXISTS dominance query is the
    O(n^2) formulation this replaces; >=3 dimensions fall back to
    the blocked variant).

    Exactness: price/latency are exact int64; the sweep's
    running-min frame ends at 1 PRECEDING so equal-price ties
    compete against CHEAPER rows only (orderkey makes the sweep
    order total - equal-price rows each survive iff they beat every
    strictly-cheaper row's best, the standard skyline tie
    convention, identical in both engines).

    Scale shape: one fact agg (first-ship), one range-partitioned
    sort + running-min window. 100 TB: the sweep parallelizes by
    price range with a per-partition prefix-min merge (the
    q_pack_sequences_sharded two-phase cumulative idiom).
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("d1")
    )
    pts = (
        o.join(first_ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.to_date("d1") > F.to_date("o_orderdate"))
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("price"),
            F.datediff(F.to_date("d1"), F.to_date("o_orderdate"))
            .cast("bigint")
            .alias("latency"),
        )
    )
    # Distributed sweep (r7): the exclusive running-min comes from
    # the bucketed two-pass helper (operators/ranks.py cummin_excl)
    # instead of an unpartitioned window - the r6 audit finding; the
    # per-price-range prefix-min merge the old docstring described
    # is now what actually executes.
    swept = global_order(
        pts,
        "price",
        [F.col("price"), F.col("o_orderkey")],
        cummin_excl={"latency": "best_latency_cheaper"},
    ).select("o_orderkey", "price", "latency", "best_latency_cheaper")
    return (
        swept.filter(
            F.col("best_latency_cheaper").isNull()
            | (F.col("latency") < F.col("best_latency_cheaper"))
        )
        .select(
            "o_orderkey",
            F.col("price").alias("price_cents"),
            F.col("latency").alias("latency_days"),
        )
        .orderBy("price_cents", "o_orderkey")
    )


@register(
    "q_win_ulcer_index",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    equity AS (
      SELECT ed, CAST(sum(y) OVER w AS BIGINT) AS equity
      FROM daily
      WINDOW w AS (ORDER BY ed ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    cum AS (
      SELECT ed, equity,
             CAST(max(equity) OVER w AS BIGINT) AS peak
      FROM equity
      WINDOW w AS (ORDER BY ed ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    dd AS (
      SELECT ed, equity, peak,
             100.0 * (peak - equity) / peak AS dd_pct
      FROM cum
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(max(dd_pct), 6) AS max_drawdown_pct,
           round(sqrt(avg(dd_pct * dd_pct)), 6) AS ulcer_index
    FROM dd
    """,
)
def q_win_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index of the cumulative-revenue equity curve:
    sqrt(mean(drawdown%^2)) - Martin's downside-pain measure that
    penalizes DEPTH x DURATION of drawdowns where plain sigma
    (q_win_bollinger) treats up and down moves alike; reported next
    to the max drawdown, whose single worst point it generalizes to
    the whole underwater profile (the summary scalar of
    q_win_drawdown's full curve).

    Exactness: the equity curve and running peak are exact int64
    window sums/maxes (nested windows: running max OF the running
    sum); each drawdown% is one integer-difference division
    (peak > 0 from the first day on - purchase revenue is
    positive); the quadratic mean is the one <=|days|-term order
    surface behind the 6dp round.

    Scale shape: the q_win_drawdown stacked-window pass + a 1-row
    agg; per-series partitioning generalizes.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "ed"
        )
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.orderBy("ed").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "ed", F.sum("y").over(w).cast("bigint").alias("equity")
    )
    cum2 = cum.select(
        "ed",
        "equity",
        F.max("equity").over(w).cast("bigint").alias("peak"),
    )
    dd = cum2.select(
        (
            100.0
            * (F.col("peak") - F.col("equity"))
            / F.col("peak")
        ).alias("dd_pct")
    )
    return dd.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.max("dd_pct"), 6).alias("max_drawdown_pct"),
        F.round(
            F.sqrt(F.avg(F.col("dd_pct") * F.col("dd_pct"))), 6
        ).alias("ulcer_index"),
    )
