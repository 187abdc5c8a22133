"""Statistical inference operators (SURVEY §2.11, stats family):
hypothesis
tests and estimators that close the loop between the descriptive
analytics family (q_events_*) and a decision — "did the metric
move, and is the movement real?".

Members:
- q_stats_ks_test       two-sample Kolmogorov-Smirnov on a spend
                        distribution (the distribution-shift test
                        behind data-drift monitors).
- q_stats_ols_trend     per-series OLS slope/intercept/R^2 of daily
                        revenue (the trend estimator).
- q_stats_cusum         one-sided CUSUM drift statistic on daily
                        event counts (sequential change detection).
- q_stats_did           difference-in-differences estimator over a
                        2x2 (treatment x period) design.

Determinism notes (the registry contract):
- KS/CUSUM comparisons happen on doubles produced by IDENTICAL
  integer-count arithmetic in both engines (count/n divisions,
  cumulative sums in a pinned order), so equality and argmax are
  engine-stable without rounding; only the FINAL reported floats
  are rounded.
- OLS and DiD aggregate raw doubles, so every reported aggregate
  is rounded 4-6 dp in both engines per SURVEY §5.2.

Scale notes (100 TB):
- KS reduces the fact table to one row per DISTINCT metric value
  (two-phase agg) before the single ordered pass; at 100 TB the
  exact sup over distinct values is replaced by a 4096-bin
  equi-depth sketch (approx_percentile boundaries + the same
  cumulative compare) — the operator's shape is unchanged.
- OLS/CUSUM/DiD all collapse to bounded frames (per-series daily
  rollups, 2x2 cells) in ONE map-side-combining aggregation; the
  estimator arithmetic runs on the tiny frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..loaders import cached, table
from ..registry import register
from .ranks import global_order, ntile_expr

KS_SEG_A = "BUILDING"
KS_SEG_B = "MACHINERY"


@register(
    "q_stats_ks_test",
    oracle=f"""
    WITH s AS (
      SELECT o_totalprice AS v,
             CASE WHEN c_mktsegment = '{KS_SEG_A}' THEN 1 ELSE 0 END AS a
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment IN ('{KS_SEG_A}', '{KS_SEG_B}')
    ),
    per_v AS (
      SELECT v, CAST(sum(a) AS BIGINT) AS ca,
             CAST(count(*) - sum(a) AS BIGINT) AS cb
      FROM s GROUP BY v
    ),
    n AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM per_v
    ),
    ecdf AS (
      SELECT abs(CAST(sum(ca) OVER w AS DOUBLE) / n.na
               - CAST(sum(cb) OVER w AS DOUBLE) / n.nb) AS d,
             n.na AS na, n.nb AS nb
      FROM per_v, n
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    SELECT na AS n_a, nb AS n_b,
           round(max(d), 6) AS ks_d,
           round(least(1.0, 2 * exp(-2 * max(d) * max(d) * na * nb
                                    / (na + nb))), 6) AS p_value
    FROM ecdf GROUP BY na, nb
    """,
)
def q_stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test: does the order-value
    distribution differ between BUILDING and MACHINERY customers?
    D = sup over the combined support of |ECDF_a - ECDF_b|, with the
    asymptotic two-sided p-value 2*exp(-2 D^2 n_a n_b/(n_a+n_b))
    (clamped to 1) - the distribution-shift test behind data-drift
    monitors, evaluated exactly.

    Scale shape: the fact join collapses to one row per DISTINCT
    price (two-phase hash agg with per-sample counts as map-side
    partials); the sup is one ordered pass over that distinct-value
    frame with two running sums - the only sort in the plan. The
    cumulative counts are integers and n_a/n_b divisions are the
    same IEEE ops in both engines, so max and argmax are
    engine-stable; only the reported D and p are rounded. 100 TB:
    replace distinct values with 4096 equi-depth bins
    (approx_percentile boundaries), same cumulative compare.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin(KS_SEG_A, KS_SEG_B))
        .select(
            F.col("o_totalprice").alias("v"),
            F.when(F.col("c_mktsegment") == KS_SEG_A, 1).otherwise(0).alias("a"),
        )
    )
    per_v = s.groupBy("v").agg(
        F.sum("a").cast("bigint").alias("ca"),
        (F.count("*") - F.sum("a")).cast("bigint").alias("cb"),
    )
    n = per_v.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    # Distributed ordered pass (r7): the ECDF cumulatives come from
    # the bucketed two-pass cumsum (operators/ranks.py), not an
    # unpartitioned window (Exchange SinglePartition - the r6 audit
    # finding; the distinct-value frame is fact-derived, unbounded).
    cum = global_order(
        per_v, "v", [F.col("v")], cumsum={"ca": "cca", "cb": "ccb"}
    )
    ecdf = cum.crossJoin(n).withColumn(
        "d",
        F.abs(
            F.col("cca").cast("double") / F.col("na")
            - F.col("ccb").cast("double") / F.col("nb")
        ),
    )
    return ecdf.groupBy(F.col("na").alias("n_a"), F.col("nb").alias("n_b")).agg(
        F.round(F.max("d"), 6).alias("ks_d"),
        F.round(
            F.least(
                F.lit(1.0),
                2
                * F.exp(
                    -2
                    * F.max("d")
                    * F.max("d")
                    * F.col("na")
                    * F.col("nb")
                    / (F.col("na") + F.col("nb"))
                ),
            ),
            6,
        ).alias("p_value"),
    )


@register(
    "q_stats_ols_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_trunc('day', ts) AS day,
             round(sum(value), 4) AS y
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    xy AS (
      SELECT event_type,
             CAST(datediff('day', min(day) OVER (PARTITION BY event_type),
                           day) AS DOUBLE) AS x,
             y
      FROM daily
    ),
    sums AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
      FROM xy GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0), 6)
               AS slope,
           round((sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0)
                  * sx) / n, 6) AS intercept,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 6)
               AS r2
    FROM sums ORDER BY event_type
    """,
)
def q_stats_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of daily revenue on the day index
    (x = days since the series' first day): slope, intercept (at the
    first day), and R^2 from the closed-form power sums - "is this
    metric growing, and how much of the variance is the trend?".

    Scale shape: ONE two-phase hash agg builds the per-(type, day)
    rollup (daily y rounded 4 dp so both engines sum identical
    values); x comes from a min-day window on the bounded daily
    frame; a second tiny agg computes the five power sums per type,
    and the estimator is pure projection arithmetic on a |types|-row
    frame. Degenerate series (single day / constant x) yield NULL
    slope via the nullif guard in both engines.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("y"))
    wmin = Window.partitionBy("event_type")
    xy = daily.withColumn(
        "x", F.datediff(F.col("day"), F.min("day").over(wmin)).cast("double")
    )
    sums = xy.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    den_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = num / F.nullif(den_x, F.lit(0))
    return sums.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(
            num
            * num
            / F.nullif(
                den_x * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")),
                F.lit(0),
            ),
            6,
        ).alias("r2"),
    ).orderBy("event_type")


@register(
    "q_stats_cusum",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    mu AS (
      SELECT event_type, sum(x) / count(*) AS mu
      FROM daily GROUP BY event_type
    ),
    cs AS (
      SELECT d.event_type, d.day,
             sum(d.x - m.mu) OVER (PARTITION BY d.event_type ORDER BY d.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
             m.mu AS mu
      FROM daily d JOIN mu m ON d.event_type = m.event_type
    ),
    s AS (
      SELECT event_type, day, mu,
             cs - least(0.0, min(cs) OVER (PARTITION BY event_type
                  ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW)) AS s
      FROM cs
    ),
    agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             max(s) AS max_s, any_value(mu) AS mu,
             CAST(count(*) FILTER (WHERE s > mu) AS BIGINT) AS n_drift_days
      FROM s GROUP BY event_type
    )
    SELECT a.event_type, a.n_days,
           round(a.max_s, 6) AS max_cusum,
           min(s.day) AS peak_day,
           a.n_drift_days
    FROM agg a JOIN s ON s.event_type = a.event_type AND s.s = a.max_s
    GROUP BY a.event_type, a.n_days, a.max_s, a.n_drift_days
    ORDER BY a.event_type
    """,
)
def q_stats_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift statistic per event type: on the daily
    count series, S_t = max(0, S_{t-1} + (x_t - mu)) measures the
    accumulated above-mean excess - the sequential change detector
    (Page's test with k=0). Reported per type: the peak statistic,
    the day it peaks (earliest on ties), and how many days the
    accumulated excess exceeds one average day's volume (S_t > mu).

    The recursion is deliberately NOT a UDF loop: S_t equals
    CS_t - min(0, min_{j<=t} CS_j) for the cumulative sum CS of
    (x - mu), so two stacked windows (running sum, then running min)
    express it declaratively. All inputs are integer counts and mu
    is one shared division, so every intermediate double is
    bit-identical across engines - the float equality in the
    peak-day argmax join is exact by construction.

    Scale shape: the fact scan collapses to |types| x |days| rows in
    one two-phase agg; windows and the argmax join run on that
    bounded frame, partitioned by type.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("double").alias("x"))
    mu = daily.groupBy("event_type").agg(
        (F.sum("x") / F.count("*")).alias("mu")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = (
        daily.join(F.broadcast(mu), "event_type")
        .withColumn("cs", F.sum(F.col("x") - F.col("mu")).over(wcum))
        .withColumn(
            "s", F.col("cs") - F.least(F.lit(0.0), F.min("cs").over(wcum))
        )
    )
    agg = s.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.max("s").alias("max_s"),
        F.any_value(F.col("mu")).alias("mu_"),
        F.count(F.when(F.col("s") > F.col("mu"), 1))
        .cast("bigint")
        .alias("n_drift_days"),
    )
    return (
        agg.join(
            s.select("event_type", "day", "s"),
            (agg.event_type == s.event_type) & (F.col("s") == F.col("max_s")),
        )
        .groupBy(agg.event_type, "n_days", "max_s", "n_drift_days")
        .agg(F.min("day").alias("peak_day"))
        .select(
            agg.event_type,
            "n_days",
            F.round(F.col("max_s"), 6).alias("max_cusum"),
            "peak_day",
            "n_drift_days",
        )
        .orderBy(agg.event_type)
    )


DID_SPLIT_DAY = 15  # post-period: day-of-month >= 15 (generator spans one month)


@register(
    "q_stats_did",
    oracle=f"""
    WITH cells AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treated,
             CASE WHEN day(ts) >= {DID_SPLIT_DAY} THEN 1 ELSE 0 END AS post,
             value
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT treated, post,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(value) / count(*), 4) AS mean_v
      FROM cells GROUP BY treated, post
    )
    SELECT
      max(CASE WHEN treated = 1 AND post = 0 THEN mean_v END) AS t_pre,
      max(CASE WHEN treated = 1 AND post = 1 THEN mean_v END) AS t_post,
      max(CASE WHEN treated = 0 AND post = 0 THEN mean_v END) AS c_pre,
      max(CASE WHEN treated = 0 AND post = 1 THEN mean_v END) AS c_post,
      round(max(CASE WHEN treated = 1 AND post = 1 THEN mean_v END)
          - max(CASE WHEN treated = 1 AND post = 0 THEN mean_v END)
          - (max(CASE WHEN treated = 0 AND post = 1 THEN mean_v END)
             - max(CASE WHEN treated = 0 AND post = 0 THEN mean_v END)),
          4) AS did,
      CAST(sum(n) AS BIGINT) AS n_obs
    FROM m
    """,
)
def q_stats_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator on purchase value over a
    2x2 design: treatment = even user_id (the documented synthetic
    assignment - in production this is the experiment flag), period
    split at day 15 (DID_SPLIT_DAY, q_customer_segment_migration's
    halves). DiD = (T_post - T_pre) - (C_post - C_pre): the
    treatment effect net of the shared time trend, the workhorse
    estimator for staggered feature rollouts.

    Scale shape: ONE two-phase hash agg reduces the fact scan to the
    four (treated, post) cells; cell means are rounded 4 dp (raw
    double sums differ by engine sum order) and the estimator is
    exact arithmetic on the rounded cells, pivoted on a 4-row frame.
    """
    e = table(spark, sf_dir, "events")
    m = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("treated"),
            F.when(F.dayofmonth("ts") >= DID_SPLIT_DAY, 1)
            .otherwise(0)
            .alias("post"),
            "value",
        )
        .groupBy("treated", "post")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("value") / F.count("*"), 4).alias("mean_v"),
        )
    )

    def cell(t: int, p: int):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col("mean_v"))
        )

    return m.agg(
        cell(1, 0).alias("t_pre"),
        cell(1, 1).alias("t_post"),
        cell(0, 0).alias("c_pre"),
        cell(0, 1).alias("c_post"),
        F.round(
            cell(1, 1) - cell(1, 0) - (cell(0, 1) - cell(0, 0)), 4
        ).alias("did"),
        F.sum("n").cast("bigint").alias("n_obs"),
    )


@register(
    "q_stats_chi2",
    oracle="""
    WITH obs AS (
      SELECT event_type, isodow(ts) AS dow, CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY event_type, isodow(ts)
    ),
    rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
           FROM obs GROUP BY event_type),
    ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY dow),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT event_type) AS BIGINT) AS r,
                   CAST(count(DISTINCT dow) AS BIGINT) AS c
            FROM obs),
    terms AS (
      SELECT o.o, CAST(rt.rt AS DOUBLE) * ct.ct / tot.n AS e,
             tot.n AS n, tot.r AS r, tot.c AS c
      FROM obs o JOIN rt ON o.event_type = rt.event_type
                 JOIN ct ON o.dow = ct.dow, tot
    )
    SELECT round(sum((o - e) * (o - e) / e), 6) AS chi2,
           CAST((max(r) - 1) * (max(c) - 1) AS BIGINT) AS dof,
           max(n) AS n_obs,
           round(sqrt(sum((o - e) * (o - e) / e)
                      / (max(n) * least(max(r) - 1, max(c) - 1))), 6)
               AS cramers_v
    FROM terms
    """,
)
def q_stats_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test on the event_type x ISO-weekday
    contingency table (does WHAT users do depend on WHICH day?), with
    Cramer's V as the bounded effect size - the categorical-drift
    test next to q_stats_ks_test's continuous one. The dow key uses
    the weekday()+1 = isodow identity pinned by q_events_hour_heatmap.

    Scale shape: the fact scan collapses to the |types| x 7 observed
    table in ONE two-phase count agg; row/column/grand totals are
    three aggs of that bounded frame broadcast back; the statistic is
    a sum over <= |types| x 7 projection terms. Expected counts are
    integer-ratio doubles (identical both engines); only the final
    chi2/V are rounded (term-sum order differs by engine).
    """
    e = table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", (F.weekday("ts") + 1).alias("dow")
    ).agg(F.count("*").cast("bigint").alias("o"))
    rt = obs.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("rt"))
    ct = obs.groupBy("dow").agg(F.sum("o").cast("bigint").alias("ct"))
    tot = obs.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.count_distinct("event_type").cast("bigint").alias("r"),
        F.count_distinct("dow").cast("bigint").alias("c"),
    )
    terms = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(tot)
        .withColumn("e", F.col("rt").cast("double") * F.col("ct") / F.col("n"))
    )
    dev = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    return terms.agg(
        F.round(F.sum(dev), 6).alias("chi2"),
        ((F.max("r") - 1) * (F.max("c") - 1)).cast("bigint").alias("dof"),
        F.max("n").alias("n_obs"),
        F.round(
            F.sqrt(
                F.sum(dev)
                / (F.max("n") * F.least(F.max("r") - 1, F.max("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "q_stats_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             round(sum(value), 4) AS y
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    xy AS (
      SELECT event_type,
             CAST(datediff('day', min(day) OVER (PARTITION BY event_type),
                           day) AS DOUBLE) AS x, y
      FROM daily
    ),
    slopes AS (
      SELECT a.event_type, (b.y - a.y) / (b.x - a.x) AS slope
      FROM xy a JOIN xy b
        ON a.event_type = b.event_type AND a.x < b.x
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(median(slope), 6) AS sen_slope
    FROM slopes GROUP BY event_type ORDER BY event_type
    """,
)
def q_stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the MEDIAN of all
    pairwise slopes of the daily-revenue series - insensitive to the
    outlier days that drag q_stats_ols_trend's least-squares fit
    (the two operators bracket the trend estimate: agreeing slopes
    mean a clean series).

    Scale shape: the pair join is a SELF-JOIN OF THE BOUNDED DAILY
    FRAME (|days| rows per type -> |days|^2/2 pairs per type, ~500
    at a 31-day horizon) - never the fact table; AQE broadcasts it.
    Slopes are divisions of identical 4dp/integer inputs, so the
    per-type median (interpolated, both engines) sees identical
    multisets; the reported median is rounded 6 dp.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("y"))
    wmin = Window.partitionBy("event_type")
    xy = daily.select(
        "event_type",
        F.datediff(F.col("day"), F.min("day").over(wmin))
        .cast("double")
        .alias("x"),
        "y",
    )
    a = xy.alias("a")
    b = xy.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        ((F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x"))).alias(
            "slope"
        ),
    )
    return (
        slopes.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.median("slope"), 6).alias("sen_slope"),
        )
        .orderBy("event_type")
    )


@register(
    "q_stats_mannwhitney",
    oracle=f"""
    WITH s AS (
      SELECT o_totalprice AS v,
             CASE WHEN c_mktsegment = '{KS_SEG_A}' THEN 1 ELSE 0 END AS a
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment IN ('{KS_SEG_A}', '{KS_SEG_B}')
    ),
    per_v AS (
      SELECT v, CAST(sum(a) AS BIGINT) AS ca,
             CAST(count(*) - sum(a) AS BIGINT) AS cb
      FROM s GROUP BY v
    ),
    ranked AS (
      SELECT ca, cb, ca + cb AS t,
             CAST(sum(ca + cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) - (ca + cb) AS DOUBLE)
               + (ca + cb + 1) / 2.0 AS avg_rank
      FROM per_v
    ),
    agg AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
             sum(ca * avg_rank) AS r1,
             CAST(sum(t * (t * t - 1)) AS BIGINT) AS ties
      FROM ranked
    )
    SELECT na AS n_a, nb AS n_b,
           round(r1 - na * (na + 1) / 2.0, 2) AS u,
           round((r1 - na * (na + 1) / 2.0) / (CAST(na AS DOUBLE) * nb), 6)
               AS cles,
           round((r1 - na * (na + 1) / 2.0 - CAST(na AS DOUBLE) * nb / 2)
                 / sqrt(CAST(na AS DOUBLE) * nb / 12
                        * ((na + nb + 1)
                           - CAST(ties AS DOUBLE)
                             / ((na + nb) * CAST(na + nb - 1 AS DOUBLE)))),
                 6) AS z
    FROM agg
    """,
)
def q_stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test on the same two
    customer segments as q_stats_ks_test: the NONPARAMETRIC location
    test - U from tie-averaged ranks, the tie-corrected normal
    z-statistic (no continuity correction), and the common-language
    effect size U/(n_a*n_b) = P(a > b). KS asks "any difference in
    shape?"; this asks "does one segment stochastically dominate?".

    Scale shape: identical to KS - collapse to one row per DISTINCT
    value (two-phase agg), ONE ordered pass for the tie-averaged
    ranks (avg_rank = preceding count + (t+1)/2), then a 1-row agg.
    Every rank is an exact .5-multiple and every partial sum stays
    far below 2^52, so the rank-sum is EXACT in IEEE double
    regardless of engine summation order - no rounding hazard
    anywhere before the reported statistics.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin(KS_SEG_A, KS_SEG_B))
        .select(
            F.col("o_totalprice").alias("v"),
            F.when(F.col("c_mktsegment") == KS_SEG_A, 1).otherwise(0).alias("a"),
        )
    )
    per_v = s.groupBy("v").agg(
        F.sum("a").cast("bigint").alias("ca"),
        (F.count("*") - F.sum("a")).cast("bigint").alias("cb"),
    )
    # Distributed ordered pass (r7, same rewrite as q_stats_ks_test):
    # bucketed two-pass cumsum instead of an unpartitioned window.
    per_v = per_v.withColumn("t", F.col("ca") + F.col("cb"))
    cum = global_order(per_v, "v", [F.col("v")], cumsum={"t": "cum_t"})
    ranked = cum.select(
        "ca",
        "cb",
        "t",
        (
            (F.col("cum_t") - F.col("t")).cast("double")
            + (F.col("t") + 1) / F.lit(2.0)
        ).alias("avg_rank"),
    )
    agg = ranked.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.sum(F.col("ca") * F.col("avg_rank")).alias("r1"),
        F.sum(F.col("t") * (F.col("t") * F.col("t") - 1))
        .cast("bigint")
        .alias("ties"),
    )
    na, nb = F.col("na"), F.col("nb")
    u = F.col("r1") - na * (na + 1) / F.lit(2.0)
    sigma = F.sqrt(
        na.cast("double")
        * nb
        / 12
        * (
            (na + nb + 1)
            - F.col("ties").cast("double")
            / ((na + nb) * (na + nb - 1).cast("double"))
        )
    )
    return agg.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        F.round(u, 2).alias("u"),
        F.round(u / (na.cast("double") * nb), 6).alias("cles"),
        F.round((u - na.cast("double") * nb / 2) / sigma, 6).alias("z"),
    )


ACF_MAX_LAG = 3


@register(
    "q_stats_autocorr",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             round(sum(value), 4) AS y
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    dev AS (
      SELECT event_type, day,
             y - sum(y) OVER (PARTITION BY event_type)
                 / count(*) OVER (PARTITION BY event_type) AS d
      FROM daily
    ),
    den AS (
      SELECT event_type, sum(d * d) AS den, CAST(count(*) AS BIGINT) AS n
      FROM dev GROUP BY event_type
    ),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG} + 1)) AS lag),
    num AS (
      SELECT a.event_type, l.lag, sum(a.d * b.d) AS num,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM dev a
      JOIN lags l ON true
      JOIN dev b ON b.event_type = a.event_type
                AND b.day = a.day + to_days(CAST(l.lag AS INTEGER))
      GROUP BY a.event_type, l.lag
    )
    SELECT n.event_type, CAST(n.lag AS BIGINT) AS lag, n.n_pairs,
           round(n.num / d.den, 6) AS acf
    FROM num n JOIN den d ON n.event_type = d.event_type
    ORDER BY n.event_type, n.lag
    """,
)
def q_stats_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue per event type at
    lags 1..3 (ACF_MAX_LAG): r_k = sum(d_t * d_(t+k)) / sum(d_t^2)
    with deviations from the series mean - the weekly-rhythm /
    momentum detector that decides whether q_stats_ols_trend's
    residuals are even independent.

    Scale shape: the fact scan collapses to the per-(type, day)
    rollup once; deviations come from a partition-wide mean window
    on the bounded frame; each lag is a calendar self-JOIN (equi on
    type and shifted day, missing days drop out naturally) exploded
    from a 3-row lag spine - all on the |types| x |days| frame, AQE
    broadcasts. Products of identical doubles sum in engine order,
    so only the final ratio is rounded (6 dp).
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("y"))
    wall = Window.partitionBy("event_type")
    dev = daily.select(
        "event_type",
        "day",
        (F.col("y") - F.sum("y").over(wall) / F.count("*").over(wall)).alias("d"),
    )
    den = dev.groupBy("event_type").agg(
        F.sum(F.col("d") * F.col("d")).alias("den"),
        F.count("*").cast("bigint").alias("n"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = dev.alias("a")
    b = dev.alias("b")
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (
                F.col("b.day")
                == F.col("a.day")
                + F.col("lag").cast("int") * F.expr("INTERVAL 1 DAY")
            ),
        )
        .groupBy(F.col("a.event_type").alias("event_type"), "lag")
        .agg(
            F.sum(F.col("a.d") * F.col("b.d")).alias("num"),
            F.count("*").cast("bigint").alias("n_pairs"),
        )
    )
    return (
        num.join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            F.col("lag").cast("bigint").alias("lag"),
            "n_pairs",
            F.round(F.col("num") / F.col("den"), 6).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


@register(
    "q_stats_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT)
                 AS yi
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    pre AS (
      SELECT event_type, day,
             CAST(row_number() OVER wd AS BIGINT) AS t,
             CAST(sum(yi) OVER (wd ROWS BETWEEN UNBOUNDED PRECEDING AND
                          CURRENT ROW) AS BIGINT) AS st,
             CAST(sum(yi) OVER (PARTITION BY event_type) AS BIGINT) AS s,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM daily
      WINDOW wd AS (PARTITION BY event_type ORDER BY day)
    ),
    gains AS (
      SELECT event_type, day, t, n,
             CAST(st AS DOUBLE) / (t * 10000.0) AS m_l,
             CAST(s - st AS DOUBLE) / ((n - t) * 10000.0) AS m_r,
             CAST(t * (n - t) AS DOUBLE) / n
               * (CAST(st AS DOUBLE) / (t * 10000.0)
                  - CAST(s - st AS DOUBLE) / ((n - t) * 10000.0))
               * (CAST(st AS DOUBLE) / (t * 10000.0)
                  - CAST(s - st AS DOUBLE) / ((n - t) * 10000.0)) AS gain
      FROM pre WHERE t < n
    ),
    best AS (
      SELECT event_type, max(gain) AS gmax FROM gains GROUP BY event_type
    )
    SELECT g.event_type,
           min(g.day) AS split_day,
           any_value(g.n) AS n_days,
           any_value(b.gmax) AS gain,
           min_by(g.m_l, g.day) AS mean_left,
           min_by(g.m_r, g.day) AS mean_right
    FROM gains g JOIN best b
      ON g.event_type = b.event_type AND g.gain = b.gmax
    GROUP BY g.event_type
    ORDER BY g.event_type
    """,
)
def q_stats_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single best changepoint per event type (binary segmentation,
    step 1): the split of the daily-revenue series that maximizes the
    between-segment variance gain t*(n-t)/n * (m_left - m_right)^2 -
    equivalently the largest SSE reduction of any one break, the
    'did the level shift, and when?' detector feeding
    q_stats_cusum's 'is it drifting?'.

    Float protocol (functions/exact.py): daily revenue aggregates as
    INTEGER ten-thousandths (order-independent exact sums - a
    round(sum(double)) formulation flipped a 4dp boundary between
    engines in build testing), every mean is ONE identical IEEE
    division, and NOTHING is engine-rounded - the max/argmax
    equality join and the emitted doubles are bit-identical by
    construction.

    Scale shape: prefix sums over the bounded daily frame (ONE
    window sort per type) price every candidate split in O(n); the
    argmax is a max-gain agg joined back on (exact) gain equality,
    earliest day winning ties; segment means ride along via min_by.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 10000, 0).cast("long")).alias("yi"))
    wd = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type",
        "day",
        F.row_number().over(wd).cast("bigint").alias("t"),
        F.sum("yi")
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("st"),
        F.sum("yi").over(wall).alias("s"),
        F.count("*").over(wall).cast("bigint").alias("n"),
    )
    m_l = F.col("st").cast("double") / (F.col("t") * F.lit(10000.0))
    m_r = (F.col("s") - F.col("st")).cast("double") / (
        (F.col("n") - F.col("t")) * F.lit(10000.0)
    )
    gains = pre.filter(F.col("t") < F.col("n")).select(
        "event_type",
        "day",
        "n",
        m_l.alias("m_l"),
        m_r.alias("m_r"),
        (
            (F.col("t") * (F.col("n") - F.col("t"))).cast("double")
            / F.col("n")
            * (m_l - m_r)
            * (m_l - m_r)
        ).alias("gain"),
    )
    best = gains.groupBy("event_type").agg(F.max("gain").alias("gmax"))
    g = gains.alias("g")
    return (
        g.join(
            F.broadcast(best.alias("b")),
            (F.col("g.event_type") == F.col("b.event_type"))
            & (F.col("g.gain") == F.col("b.gmax")),
        )
        .groupBy(F.col("g.event_type").alias("event_type"))
        .agg(
            F.min("day").alias("split_day"),
            F.any_value("n").alias("n_days"),
            F.any_value("gmax").alias("gain"),
            F.min_by("m_l", F.col("day")).alias("mean_left"),
            F.min_by("m_r", F.col("day")).alias("mean_right"),
        )
        .orderBy("event_type")
    )


@register(
    "q_stats_benford",
    oracle="""
    WITH pos AS (
      SELECT o_totalprice AS v FROM orders WHERE o_totalprice > 0
    ),
    digits AS (
      SELECT CAST(floor(v / power(10, floor(log10(v)))) AS BIGINT) AS digit
      FROM pos
    ),
    counts AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
    SELECT c.digit, c.n,
           CAST(c.n AS DOUBLE) / t.total AS observed_p,
           round(log10(1 + 1.0 / c.digit), 6) AS benford_p,
           round(abs(CAST(c.n AS DOUBLE) / t.total
                     - log10(1 + 1.0 / c.digit)), 6) AS abs_dev
    FROM counts c, tot t
    ORDER BY c.digit
    """,
)
def q_stats_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order totals: the observed
    first-significant-digit distribution vs log10(1 + 1/d) - the
    classic fabricated-data / data-quality screen (synthetic uniform
    generators fail it loudly, which is itself the diagnostic).

    Float protocol: the first digit is floor(v / 10^floor(log10 v));
    both JVM Math.log10 and libm return EXACT integers for exact
    powers of ten (documented), so the digit extraction cannot
    straddle engines. observed_p is an integer ratio emitted as ONE
    identical division - never rounded (functions/exact.py: short
    decimals must not be engine-rounded); only the irrational
    Benford reference and deviation are rounded.

    Scale shape: a map-side digit projection + two-phase 9-row count
    agg; the grand total broadcasts back. One shuffle of 9 rows.
    """
    o = table(spark, sf_dir, "orders")
    digit = F.floor(
        F.col("v") / F.pow(F.lit(10.0), F.floor(F.log10("v")))
    ).cast("bigint")
    counts = (
        o.filter(F.col("o_totalprice") > 0)
        .select(F.col("o_totalprice").alias("v"))
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = counts.agg(F.sum("n").cast("bigint").alias("total"))
    obs = F.col("n").cast("double") / F.col("total")
    ref = F.log10(1 + 1.0 / F.col("digit"))
    return (
        counts.crossJoin(tot)
        .select(
            "digit",
            "n",
            obs.alias("observed_p"),
            F.round(ref, 6).alias("benford_p"),
            F.round(F.abs(obs - ref), 6).alias("abs_dev"),
        )
        .orderBy("digit")
    )


@register(
    "q_stats_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT)
                 AS yi
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    trended AS (
      SELECT event_type, day, yi,
             CAST(sum(yi) OVER w7 AS BIGINT) AS s7,
             CAST(count(*) OVER w7 AS BIGINT) AS c7
      FROM daily
      WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT event_type, day, isodow(day) AS dow,
             yi / 10000.0 - CAST(s7 AS DOUBLE) / (7 * 10000.0) AS d
      FROM trended WHERE c7 = 7
    ),
    seas AS (
      SELECT event_type, dow,
             CAST(count(*) AS BIGINT) AS n_days,
             sum(d) / count(*) AS s
      FROM det GROUP BY event_type, dow
    ),
    resid AS (
      SELECT d.event_type,
             var_samp(d.d) AS var_det,
             var_samp(d.d - s.s) AS var_resid
      FROM det d JOIN seas s
        ON d.event_type = s.event_type AND d.dow = s.dow
      GROUP BY d.event_type
    )
    SELECT s.event_type, CAST(s.dow AS BIGINT) AS dow, s.n_days,
           round(s.s, 4) AS seasonal,
           round(greatest(0.0, 1 - r.var_resid / r.var_det), 6)
               AS seasonal_strength
    FROM seas s JOIN resid r ON s.event_type = r.event_type
    ORDER BY s.event_type, s.dow
    """,
)
def q_stats_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily revenue per
    event type: trend = centered 7-day moving average (interior days
    only), seasonal = mean detrended value per ISO weekday, and the
    STL-style seasonal strength 1 - Var(residual)/Var(detrended) -
    'how much of the de-trended wiggle is the weekly rhythm?'.

    Float protocol: revenue aggregates as integer 1e-4 units
    (functions/exact.py), the trend is ONE division of an exact
    integer window sum, so detrended values are identical doubles
    both engines; the seasonal mean and strength are engine-rounded
    only at irrational-valued outputs (mean of /7 rationals, variance
    ratios - boundary measure ~0), never at short decimals.

    Scale shape: everything after the ONE fact-scan rollup runs on
    the bounded |types| x |days| frame: a 7-row centered window, a
    (type, dow) two-phase agg, a broadcast join back, and a
    |types|-row variance agg. Same discipline as q_stats_cusum.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 10000, 0).cast("long")).alias("yi"))
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    det = (
        daily.select(
            "event_type",
            "day",
            "yi",
            F.sum("yi").over(w7).alias("s7"),
            F.count("*").over(w7).alias("c7"),
        )
        .filter(F.col("c7") == 7)
        .select(
            "event_type",
            (F.weekday("day") + 1).alias("dow"),
            (
                F.col("yi") / F.lit(10000.0)
                - F.col("s7").cast("double") / F.lit(7 * 10000.0)
            ).alias("d"),
        )
    )
    seas = det.groupBy("event_type", "dow").agg(
        F.count("*").cast("bigint").alias("n_days"),
        (F.sum("d") / F.count("*")).alias("s"),
    )
    resid = (
        det.join(F.broadcast(seas.select("event_type", "dow", "s")), ["event_type", "dow"])
        .groupBy("event_type")
        .agg(
            F.var_samp("d").alias("var_det"),
            F.var_samp(F.col("d") - F.col("s")).alias("var_resid"),
        )
    )
    return (
        seas.join(F.broadcast(resid), "event_type")
        .select(
            "event_type",
            F.col("dow").cast("bigint").alias("dow"),
            "n_days",
            F.round(F.col("s"), 4).alias("seasonal"),
            F.round(
                F.greatest(
                    F.lit(0.0), 1 - F.col("var_resid") / F.col("var_det")
                ),
                6,
            ).alias("seasonal_strength"),
        )
        .orderBy("event_type", "dow")
    )


POWER_Z_ALPHA = 1.959964  # two-sided 5%
POWER_Z_BETA = 0.841621   # 80% power
POWER_MDE_PCT = 0.05      # detect a 5% lift on the mean


@register(
    "q_stats_power_analysis",
    oracle=f"""
    WITH s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(c * c) AS BIGINT) AS sc2
      FROM (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS c
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id)
    )
    SELECT n_users,
           CAST(sc AS DOUBLE) / (n_users * 100.0) AS mean_spend,
           round(sqrt((CAST(sc2 AS DOUBLE) / 10000.0
                       - (CAST(sc AS DOUBLE) / 100.0)
                         * (CAST(sc AS DOUBLE) / 100.0) / n_users)
                      / (n_users - 1)), 4) AS sd_spend,
           CAST(ceil(2 * ({POWER_Z_ALPHA} + {POWER_Z_BETA})
                       * ({POWER_Z_ALPHA} + {POWER_Z_BETA})
                     * ((CAST(sc2 AS DOUBLE) / 10000.0
                         - (CAST(sc AS DOUBLE) / 100.0)
                           * (CAST(sc AS DOUBLE) / 100.0) / n_users)
                        / (n_users - 1))
                     / (({POWER_MDE_PCT} * CAST(sc AS DOUBLE)
                         / (n_users * 100.0))
                        * ({POWER_MDE_PCT} * CAST(sc AS DOUBLE)
                           / (n_users * 100.0)))) AS BIGINT)
               AS n_per_arm,
           n_users >= 2 * CAST(ceil(2 * ({POWER_Z_ALPHA} + {POWER_Z_BETA})
                       * ({POWER_Z_ALPHA} + {POWER_Z_BETA})
                     * ((CAST(sc2 AS DOUBLE) / 10000.0
                         - (CAST(sc AS DOUBLE) / 100.0)
                           * (CAST(sc AS DOUBLE) / 100.0) / n_users)
                        / (n_users - 1))
                     / (({POWER_MDE_PCT} * CAST(sc AS DOUBLE)
                         / (n_users * 100.0))
                        * ({POWER_MDE_PCT} * CAST(sc AS DOUBLE)
                           / (n_users * 100.0)))) AS BIGINT)
               AS currently_powered
    FROM s
    """,
)
def q_stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size calculator from observed data: per-user spend
    mean and SD feed the closed-form n = 2 (z_a + z_b)^2 s^2 / d^2
    for a 5% minimum detectable lift at alpha=5% two-sided, 80%
    power - 'how many users does the next experiment need, and do we
    already have them?' (completes the experimentation kit:
    q_events_srm_check -> THIS -> q_events_ab_welch ->
    q_events_ab_cuped).

    Float protocol: per-user spends aggregate as integer cents; the
    moment sums are exact int64 (cent^2 ~ 1e13 x 1.5e3 users <<
    2^63); mean is one identical division (unrounded), SD is
    irrational (rounded 4dp), and n_per_arm applies ceil to
    identical doubles - engine-stable except on exact-integer
    boundaries, which the irrational z-constants make measure-zero.

    Scale shape: ONE two-phase per-user agg, then a 1-row moment
    agg; the calculator is pure projection arithmetic.
    """
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    per_user = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(cents).alias("c"))
    )
    s = per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2"),
    )
    mean = F.col("sc").cast("double") / (F.col("n_users") * F.lit(100.0))
    var = (
        F.col("sc2").cast("double") / F.lit(10000.0)
        - (F.col("sc").cast("double") / F.lit(100.0))
        * (F.col("sc").cast("double") / F.lit(100.0))
        / F.col("n_users")
    ) / (F.col("n_users") - 1)
    delta = F.lit(POWER_MDE_PCT) * mean
    zsum = F.lit(POWER_Z_ALPHA + POWER_Z_BETA)
    n_arm = F.ceil(2 * zsum * zsum * var / (delta * delta)).cast("bigint")
    return s.select(
        "n_users",
        mean.alias("mean_spend"),
        F.round(F.sqrt(var), 4).alias("sd_spend"),
        n_arm.alias("n_per_arm"),
        (F.col("n_users") >= 2 * n_arm).alias("currently_powered"),
    )


PSI_BANDS = 10


@register(
    "q_stats_psi",
    oracle=f"""
    WITH ev AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed
      FROM events WHERE event_type = 'purchase'
    ),
    rng AS (
      SELECT min(ed) AS d0, max(ed) AS d1,
             min(cents) AS c0, max(cents) AS c1
      FROM ev
    ),
    banded AS (
      SELECT least({PSI_BANDS - 1},
                   (cents - c0) // greatest(1, (c1 - c0 + 1) // {PSI_BANDS}))
               AS band,
             CASE WHEN ed >= (d0 + d1 + 1) // 2 THEN 1 ELSE 0 END AS cur
      FROM ev, rng
    ),
    per_band AS (
      SELECT band,
             CAST(count(*) - sum(cur) AS BIGINT) AS n_base,
             CAST(sum(cur) AS BIGINT) AS n_curr
      FROM banded GROUP BY band
    ),
    tot AS (
      SELECT CAST(sum(n_base) AS BIGINT) AS tb,
             CAST(sum(n_curr) AS BIGINT) AS tc
      FROM per_band
    ),
    terms AS (
      SELECT band, n_base, n_curr,
             ((n_base + 0.5) / (tb + {PSI_BANDS} * 0.5)
              - (n_curr + 0.5) / (tc + {PSI_BANDS} * 0.5))
             * ln(((n_base + 0.5) / (tb + {PSI_BANDS} * 0.5))
                  / ((n_curr + 0.5) / (tc + {PSI_BANDS} * 0.5))) AS t
      FROM per_band, tot
    )
    SELECT CAST(band AS BIGINT) AS band, n_base, n_curr,
           round(t, 6) AS psi_term,
           round(sum(t) OVER (), 6) AS psi_total
    FROM terms
    """,
)
def q_stats_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the purchase-value distribution,
    first half of the observed date range (baseline) vs second half
    (current) - the standard model-monitoring drift score
    (PSI < 0.1 stable, 0.1-0.25 shifting, > 0.25 drifted), reported
    per band plus the total.

    Banding protocol: 10 equi-width bands over INTEGER cents with
    width (max-min+1) div 10 (floor division on positive integers,
    identical in both engines), clamped into band 9 - edges derive
    from a 1-row min/max agg, so banding is pure integer arithmetic
    with no percentile-interpolation hazard. Counts are smoothed
    +0.5 per band (denominator + bands/2) so empty-on-one-side bands
    stay finite; bands empty on BOTH sides are absent rows and
    contribute 0 by convention. Only the irrational ln terms are
    rounded (6dp).

    Scale shape: fact scan -> ONE two-phase (band, period) count agg
    (the 1-row min/max frame broadcasts back; AQE plans both
    residual joins as broadcasts); the PSI expansion is projection
    arithmetic + a 10-row window sum. 100 TB: identical - the only
    wide op is the banded count agg with map-side partials.
    """
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    ev = e.select(
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("ed"),
    )
    rng = ev.agg(
        F.min("ed").alias("d0"),
        F.max("ed").alias("d1"),
        F.min("cents").alias("c0"),
        F.max("cents").alias("c1"),
    )
    # Integer floor division must NOT go through double '/': build the
    # band with div so both engines run the same integer op.
    banded = ev.crossJoin(rng).select(
        F.least(
            F.lit(PSI_BANDS - 1).cast("long"),
            F.expr(
                f"(cents - c0) div greatest(CAST(1 AS BIGINT),"
                f" (c1 - c0 + 1) div {PSI_BANDS})"
            ),
        ).alias("band"),
        F.when(F.expr("ed >= (d0 + d1 + 1) div 2"), 1).otherwise(0).alias("cur"),
    )
    per_band = banded.groupBy("band").agg(
        (F.count("*") - F.sum("cur")).cast("bigint").alias("n_base"),
        F.sum("cur").cast("bigint").alias("n_curr"),
    )
    tot = per_band.agg(
        F.sum("n_base").cast("bigint").alias("tb"),
        F.sum("n_curr").cast("bigint").alias("tc"),
    )
    half = F.lit(PSI_BANDS * 0.5)
    j = per_band.crossJoin(tot)
    p = (F.col("n_base") + 0.5) / (F.col("tb") + half)
    q = (F.col("n_curr") + 0.5) / (F.col("tc") + half)
    t = (p - q) * F.log(p / q)
    w_all = Window.partitionBy()
    return j.select(
        F.col("band").cast("bigint").alias("band"),
        "n_base",
        "n_curr",
        F.round(t, 6).alias("psi_term"),
        F.round(F.sum(t).over(w_all), 6).alias("psi_total"),
    )


@register(
    "q_stats_spearman",
    oracle="""
    WITH j AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    ranked AS (
      SELECT CAST(2 * rank() OVER (ORDER BY x)
                  + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS rx,
             CAST(2 * rank() OVER (ORDER BY y)
                  + count(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS ry
      FROM j
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx) AS BIGINT) AS sx,
             CAST(sum(ry) AS BIGINT) AS sy,
             CAST(sum(rx * rx) AS BIGINT) AS sxx,
             CAST(sum(ry * ry) AS BIGINT) AS syy,
             CAST(sum(rx * ry) AS BIGINT) AS sxy
      FROM ranked
    ),
    parts AS (
      SELECT n,
             CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS num,
             CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS dx,
             CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS dy
      FROM s
    )
    SELECT n,
           CASE WHEN n >= 2 AND dx > 0 AND dy > 0
                THEN round(num / sqrt(dx * dy), 6) END AS rho,
           CASE WHEN n >= 2 AND dx > 0 AND dy > 0
                THEN round(num / sqrt(dx * dy) * sqrt(n - 1), 6)
           END AS z_approx
    FROM parts
    """,
)
def q_stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between order value and the
    ordering customer's account balance - the monotone-association
    complement of Pearson (q_agg_stddev_corr): rank both variables
    with tie-averaged ranks, then Pearson on the ranks, plus the
    large-sample z = rho*sqrt(n-1).

    Exactness protocol: tie-averaged rank = rank() + (ties-1)/2 is a
    .5-multiple, so DOUBLED ranks (2*rank + ties - 1) are INTEGERS;
    all five power sums accumulate exactly in int64 (max is
    sum(rx*ry) <= 4n^3 ~ 1.4e16 at sf0.1, well inside int64), and
    only the final closed-form rho - identical IEEE double ops on
    identical integers in both engines - is rounded (6dp). Doubling
    cancels between numerator and denominator.

    Scale shape: broadcast-joinable dim join, then per-variable
    DISTINCT-VALUE frames carry the tie-averaged ranks: the doubled
    rank 2*rank(x) + ties(x) - 1 is a pure function of the VALUE
    (2*count_less + count_eq + 1), so it is computed as a bucketed
    distributed cumulative count over the distinct-value frame
    (operators/ranks.py - NOT an unpartitioned window, which Spark
    would execute as an Exchange SinglePartition single-task sort;
    the r6 audit finding) and hash-joined back onto the rows. One
    combinable 1-row power-sum agg closes. 100 TB: two distinct-frame
    cumsums + two shuffle joins; no single-task stage, no pairwise
    work.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("x"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("y"),
    )

    def doubled_ranks(col: str, out: str) -> DataFrame:
        # 2*rank + ties - 1 = 2*cum_count_through(value) - ties + 1:
        # value-keyed, so the rank join key is the value itself.
        g = j.groupBy(col).agg(F.count("*").cast("bigint").alias("_c"))
        g = global_order(g, col, [F.col(col)], cumsum={"_c": "_cum"})
        return g.select(
            col,
            (2 * F.col("_cum") - F.col("_c") + 1)
            .cast("bigint")
            .alias(out),
        )

    ranked = (
        j.join(doubled_ranks("x", "rx"), "x")
        .join(doubled_ranks("y", "ry"), "y")
        .select("rx", "ry")
    )
    s = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rx").cast("bigint").alias("sx"),
        F.sum("ry").cast("bigint").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("bigint").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("bigint").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    dx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    dy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    rho = num / F.sqrt(dx * dy)
    # n>=2 + positive rank variance guard: DuckDB's sqrt RAISES on
    # negative input (sqrt(n-1) at n=0) where Spark yields NaN, so the
    # degenerate gate must be explicit in BOTH engines
    # (tests/test_empty_inputs.py).
    ok = (F.col("n") >= 2) & (dx > 0) & (dy > 0)
    return s.select(
        "n",
        F.when(ok, F.round(rho, 6)).alias("rho"),
        F.when(ok, F.round(rho * F.sqrt(F.col("n") - 1), 6)).alias("z_approx"),
    )


@register(
    "q_stats_anova",
    oracle="""
    WITH x AS (
      SELECT c_mktsegment AS seg,
             CAST(round(o_totalprice, 0) AS BIGINT) AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    per_g AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(v) AS BIGINT) AS sg,
             CAST(sum(v * v) AS BIGINT) AS ssg
      FROM x GROUP BY seg
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ng) AS BIGINT) AS n,
             CAST(sum(sg) AS BIGINT) AS s,
             CAST(sum(ssg) AS BIGINT) AS ss,
             sum(CAST(sg AS DOUBLE) * sg / ng) AS sb
      FROM per_g
    )
    SELECT k, n,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n - k AS BIGINT) AS df_within,
           round(((sb - CAST(s AS DOUBLE) * s / n) / (k - 1))
                 / ((CAST(ss AS DOUBLE) - sb) / (n - k)), 6) AS f_stat,
           round((sb - CAST(s AS DOUBLE) * s / n)
                 / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n), 6)
             AS eta_sq
    FROM tot
    """,
)
def q_stats_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F test: does mean order value differ across the
    five customer market segments? F = (SSB/(k-1)) / (SSW/(n-k))
    from the classical decomposition SSB = sum(S_g^2/n_g) - S^2/n,
    SSW = SS - sum(S_g^2/n_g), plus the eta-squared effect size -
    the k-group generalization of Welch (q_events_ab_welch) on the
    relational side.

    Exactness protocol: values are WHOLE-DOLLAR integers
    (round(o_totalprice, 0)) so v^2 <= 2.5e11 and every per-group and
    grand power sum accumulates EXACTLY in int64 at any tested SF
    (3.75e16 at sf0.1) - no order-dependent double summation anywhere;
    the only doubles are the final closed-form ratios, identical IEEE
    ops on identical integers in both engines, rounded 6dp.

    Scale shape: broadcast dim join -> ONE two-phase (segment) agg of
    three combinable integer sums -> 5-row frame -> 1-row total agg ->
    projection arithmetic. 100 TB: identical; the fact table is
    touched once.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    x = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice"), 0).cast("long").alias("v"),
    )
    per_g = x.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("ng"),
        F.sum("v").cast("bigint").alias("sg"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ssg"),
    )
    tot = per_g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("ng").cast("bigint").alias("n"),
        F.sum("sg").cast("bigint").alias("s"),
        F.sum("ssg").cast("bigint").alias("ss"),
        F.sum(F.col("sg").cast("double") * F.col("sg") / F.col("ng")).alias("sb"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssb = F.col("sb") - sd * F.col("s") / nd
    ssw = F.col("ss").cast("double") - F.col("sb")
    sst = F.col("ss").cast("double") - sd * F.col("s") / nd
    return tot.select(
        "k",
        "n",
        (F.col("k") - 1).cast("bigint").alias("df_between"),
        (F.col("n") - F.col("k")).cast("bigint").alias("df_within"),
        F.round((ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 6)
          .alias("f_stat"),
        F.round(ssb / sst, 6).alias("eta_sq"),
    )


@register(
    "q_stats_mutual_info",
    oracle="""
    WITH cells AS (
      SELECT event_type AS r, isodow(ts) AS c,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY event_type, isodow(ts)
    ),
    rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS ro FROM cells GROUP BY r),
    ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS co FROM cells GROUP BY c),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    mi AS (
      SELECT sum((CAST(o AS DOUBLE) / n)
                 * ln(CAST(o AS DOUBLE) * n
                      / (CAST(ro AS DOUBLE) * co))) AS mi
      FROM cells JOIN rt USING (r) JOIN ct USING (c), tot
    ),
    hr AS (
      SELECT -sum((CAST(ro AS DOUBLE) / n)
                  * ln(CAST(ro AS DOUBLE) / n)) AS h_row
      FROM rt, tot
    ),
    hc AS (
      SELECT -sum((CAST(co AS DOUBLE) / n)
                  * ln(CAST(co AS DOUBLE) / n)) AS h_col
      FROM ct, tot
    )
    SELECT n, round(mi, 6) AS mi,
           round(h_row, 6) AS h_row, round(h_col, 6) AS h_col,
           round(mi / sqrt(h_row * h_col), 6) AS nmi
    FROM mi, hr, hc, tot
    """,
)
def q_stats_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between event type and ISO
    day-of-week, with marginal entropies and the sqrt-normalized NMI
    - the information-theoretic companion of q_stats_chi2 on the
    SAME contingency table (chi2 asks "is there dependence", MI asks
    "how many bits does dow carry about type").

    Zero cells are absent rows and contribute exactly 0 (the
    p*ln(p) -> 0 limit), so no smoothing is needed; all counts are
    int64 and the <= 35 + 5 + 7 ln terms are identical IEEE doubles
    in both engines, rounded 6dp. dow uses the weekday()+1 = isodow
    identity pinned by q_events_hour_heatmap.

    Scale shape: fact scan -> ONE two-phase (type, dow) count agg;
    marginals re-aggregate the 35-row cell frame (broadcast joins by
    size); every entropy term is projection arithmetic on bounded
    frames. 100 TB: identical.
    """
    e = table(spark, sf_dir, "events")
    cells = e.select(
        F.col("event_type").alias("r"),
        (F.weekday("ts") + 1).alias("c"),
    ).groupBy("r", "c").agg(F.count("*").cast("bigint").alias("o"))
    rt = cells.groupBy("r").agg(F.sum("o").cast("bigint").alias("ro"))
    ct = cells.groupBy("c").agg(F.sum("o").cast("bigint").alias("co"))
    tot = cells.agg(F.sum("o").cast("bigint").alias("n"))
    od = F.col("o").cast("double")
    mi = (
        cells.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(tot)
        .agg(
            F.sum(
                (od / F.col("n"))
                * F.log(od * F.col("n") / (F.col("ro").cast("double") * F.col("co")))
            ).alias("mi")
        )
    )
    hr = rt.crossJoin(tot).agg(
        (-F.sum(
            (F.col("ro").cast("double") / F.col("n"))
            * F.log(F.col("ro").cast("double") / F.col("n"))
        )).alias("h_row")
    )
    hc = ct.crossJoin(tot).agg(
        (-F.sum(
            (F.col("co").cast("double") / F.col("n"))
            * F.log(F.col("co").cast("double") / F.col("n"))
        )).alias("h_col")
    )
    return (
        mi.crossJoin(hr)
        .crossJoin(hc)
        .crossJoin(tot)
        .select(
            "n",
            F.round(F.col("mi"), 6).alias("mi"),
            F.round(F.col("h_row"), 6).alias("h_row"),
            F.round(F.col("h_col"), 6).alias("h_col"),
            F.round(F.col("mi") / F.sqrt(F.col("h_row") * F.col("h_col")), 6)
              .alias("nmi"),
        )
    )


BOOT_R = 32                   # bootstrap replicates
BOOT_K1 = 2654435761          # Knuth multiplicative hash
BOOT_K2 = 40503               # replicate stride
BOOT_P = 1_000_000_007
# Poisson(1) inverse-CDF thresholds (cumulative), truncated at w=6.
_POIS_CDF = (
    "0.36787944117144233", "0.7357588823428847", "0.919698602928606",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
)


def _pois_case_sql(u: str) -> str:
    """CASE chain mapping uniform u in [0,1) to a Poisson(1) draw."""
    arms = " ".join(
        f"WHEN {u} < {c} THEN {w}" for w, c in enumerate(_POIS_CDF)
    )
    return f"CASE {arms} ELSE 6 END"


@register(
    "q_stats_bootstrap_ci",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    repl AS (
      SELECT r.r, user_id, c,
             {_pois_case_sql(
                 f"CAST(((user_id * {BOOT_K1} + 7) % {BOOT_P})"
                 f" * (r.r * {BOOT_K2} + 10007) % {BOOT_P}"
                 f" AS DOUBLE) / {BOOT_P}")} AS w
      FROM per_user CROSS JOIN (SELECT unnest(range({BOOT_R})) AS r) r
    ),
    means AS (
      SELECT r, CAST(sum(w) AS BIGINT) AS sw,
             CAST(sum(w * c) AS BIGINT) AS swx
      FROM repl GROUP BY r
    ),
    ranked AS (
      SELECT CASE WHEN sw > 0
                  THEN CAST(swx AS DOUBLE) / (100.0 * sw) END AS m,
             row_number() OVER (ORDER BY CASE WHEN sw > 0
                  THEN CAST(swx AS DOUBLE) / (100.0 * sw) END, r) AS rn
      FROM means
    ),
    pt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             sum(c) AS sc
      FROM per_user
    )
    SELECT n_users, CAST({BOOT_R} AS BIGINT) AS r_replicates,
           CASE WHEN n_users > 0
                THEN CAST(sc AS DOUBLE) / (100.0 * n_users) END AS point_mean,
           (SELECT min(CASE WHEN rn = 2 THEN m END) FROM ranked) AS ci_lo,
           (SELECT min(CASE WHEN rn = {BOOT_R - 1} THEN m END) FROM ranked)
             AS ci_hi
    FROM pt
    """,
)
def q_stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean per-user
    purchase spend: each of 32 replicates reweights every user by an
    independent Poisson(1) draw and the CI is rank-based over the
    replicate means (2nd-smallest / 2nd-largest ~ a 94% interval at
    R=32) - THE scale-form of the bootstrap (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012):
    no resampling shuffle, no data duplication, just a weight column
    per replicate.

    Determinism protocol: draws come from the integer scramble
    ((user*K1+7) mod P) * (r*K2+10007) mod P - P prime makes each
    replicate's multiplier a BIJECTION of the user hash (an additive
    r-term was probed first and rejected: it shifts every uniform by
    the same 4e-5, collapsing all replicate means) - mapped through
    the Poisson(1) inverse CDF as a CASE chain of literal
    thresholds, identical exact-int64 arithmetic in both engines
    (max product 1e9 * 1.3e6). Weights are small ints, so every replicate's
    weighted sum is EXACT int64 and each replicate mean is one IEEE
    division of identical integers; point estimate and CI bounds are
    exact rationals, reported UNROUNDED (functions/exact.py rule).

    Scale shape: ONE per-user agg -> broadcast x32 (BOOT_R) replicate
    expansion (map-side, no shuffle) -> 32-row two-phase agg -> rank
    pick. 100 TB: identical; the expansion multiplies rows 32x but
    only (user_id, cents) width, and the agg combines map-side.
    """
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    per_user = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(cents).cast("bigint").alias("c"))
    )
    reps = spark.range(BOOT_R).select(F.col("id").alias("r"))
    u = (
        ((F.col("user_id") * BOOT_K1 + 7) % BOOT_P)
        * (F.col("r") * BOOT_K2 + 10007) % BOOT_P
    ).cast("double") / F.lit(float(BOOT_P))
    w = F.lit(6)
    for wt, cdf in reversed(list(enumerate(_POIS_CDF))):
        w = F.when(u < float(cdf), wt).otherwise(w)
    repl = per_user.crossJoin(reps).select(
        "r", w.alias("w"), F.col("c")
    )
    means = repl.groupBy("r").agg(
        F.sum("w").cast("bigint").alias("sw"),
        F.sum(F.col("w") * F.col("c")).cast("bigint").alias("swx"),
    )
    m = F.when(
        F.col("sw") > 0, F.col("swx").cast("double") / (100.0 * F.col("sw"))
    )
    ranked = means.select(
        m.alias("m"), F.row_number().over(Window.orderBy(m, "r")).alias("rn")
    )
    pick = ranked.agg(
        F.min(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_lo"),
        F.min(F.when(F.col("rn") == BOOT_R - 1, F.col("m"))).alias("ci_hi"),
    )
    pt = per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("c").alias("sc"),
    )
    return pt.crossJoin(pick).select(
        "n_users",
        F.lit(BOOT_R).cast("bigint").alias("r_replicates"),
        F.when(
            F.col("n_users") > 0,
            F.col("sc").cast("double") / (100.0 * F.col("n_users")),
        ).alias("point_mean"),
        "ci_lo",
        "ci_hi",
    )


@register(
    "q_stats_kendall_tau",
    oracle="""
    WITH nm AS (
      SELECT n_nationkey AS nk,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS x,
             CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM nation
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders ON o_custkey = c_custkey
      GROUP BY n_nationkey
    ),
    pairs AS (
      SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
      FROM nm a JOIN nm b ON a.nk < b.nk
    ),
    cnt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             -- sign-compare, NOT a dx*dy product: cent-sum deltas
             -- reach ~1e12 and their product overflows int64 at
             -- sf0.1 (caught by the full-inventory bench)
             CAST(sum(CASE WHEN sign(xa - xb) * sign(ya - yb) = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
             CAST(sum(CASE WHEN sign(xa - xb) * sign(ya - yb) = -1
                           THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
             CAST(sum(CASE WHEN xa = xb THEN 1 ELSE 0 END)
                  AS BIGINT) AS ties_x,
             CAST(sum(CASE WHEN ya = yb THEN 1 ELSE 0 END)
                  AS BIGINT) AS ties_y
      FROM pairs
    )
    SELECT n_pairs, concordant, discordant, ties_x, ties_y,
           CASE WHEN (n_pairs - ties_x) * (n_pairs - ties_y) > 0
                THEN (concordant - discordant)
                     / sqrt(CAST((n_pairs - ties_x)
                                 * (n_pairs - ties_y) AS DOUBLE))
           END AS tau_b
    FROM cnt
    """,
)
def q_stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between nation-level total
    order revenue and nation-level total customer balance - the
    concordance-based association measure that complements
    q_stats_spearman (rank-Pearson) exactly as Kendall complements
    Spearman in practice: tau counts pairwise order inversions, so
    it is robust to any monotone transform and has a direct
    probabilistic reading (P(concordant) - P(discordant)).

    Determinism protocol: both metrics aggregate to EXACT int64
    cents per nation, every pair comparison is integer sign
    arithmetic, and the four pair counts are exact ints; tau_b is
    one sqrt of an exact int product (IEEE sqrt is correctly
    rounded, hence engine-identical) and one division, reported
    UNROUNDED per functions/exact.py.

    Scale shape: the fact tables collapse to a |nation|-row frame in
    ONE two-phase agg (the only fact-table pass); the O(n^2) pair
    expansion runs on that BOUNDED 25-row frame (300 pairs,
    broadcast self-join). Exact Kendall on UNBOUNDED n is
    quadratic-by-definition; at 100 TB either the frame stays
    dimension-bounded (as here) or the scale path is
    q_stats_spearman / Knight's O(n log n) merge-count, named here
    as the declared trade.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    rev = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    bal = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    nm = (
        n.select("n_nationkey")
        .join(
            c.select("c_custkey", "c_nationkey", "c_acctbal"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            o.select("o_custkey", "o_totalprice"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("n_nationkey").alias("nk"))
        .agg(
            F.sum(rev).cast("bigint").alias("x"),
            F.sum(bal).cast("bigint").alias("y"),
        )
    )
    a = nm.alias("a")
    b = nm.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.nk") < F.col("b.nk")
    ).select(
        (F.col("a.x") - F.col("b.x")).alias("dx"),
        (F.col("a.y") - F.col("b.y")).alias("dy"),
    )
    cnt = pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        # sign-compare, NOT dx*dy: the cent-sum product overflows
        # int64 at sf0.1 (caught by the full-inventory bench)
        F.sum(
            F.when(F.signum("dx") * F.signum("dy") == 1, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("concordant"),
        F.sum(
            F.when(F.signum("dx") * F.signum("dy") == -1, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("discordant"),
        F.sum(F.when(F.col("dx") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("ties_x"),
        F.sum(F.when(F.col("dy") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("ties_y"),
    )
    den = (F.col("n_pairs") - F.col("ties_x")) * (
        F.col("n_pairs") - F.col("ties_y")
    )
    return cnt.select(
        "n_pairs",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        F.when(
            den > 0,
            (F.col("concordant") - F.col("discordant"))
            / F.sqrt(den.cast("double")),
        ).alias("tau_b"),
    )


FDR_Q = 0.10                  # BH false-discovery-rate budget
FDR_HASH_A = 2654435761       # same affine user split as q_events_ab_welch
FDR_HASH_B = 1013904223
FDR_HASH_P = 1_000_000_007
_INV_SQRT_2PI = "0.3989422804014327"
# Abramowitz & Stegun 26.2.17 tail polynomial coefficients.
_AS_B = ("0.319381530", "-0.356563782", "1.781477937",
         "-1.821255978", "1.330274429")


def _norm_sf_sql(z: str) -> str:
    """Upper-tail P(Z > z) for z >= 0, A&S 26.2.17 (identical
    expression tree in both engines; exp is the one libm surface,
    mitigated by 8dp rounding at the output)."""
    k = f"(1.0 / (1.0 + 0.2316419 * ({z})))"
    poly = (f"({_AS_B[0]} * {k} + {_AS_B[1]} * {k} * {k}"
            f" + {_AS_B[2]} * {k} * {k} * {k}"
            f" + {_AS_B[3]} * {k} * {k} * {k} * {k}"
            f" + {_AS_B[4]} * {k} * {k} * {k} * {k} * {k})")
    return f"({_INV_SQRT_2PI} * exp(-(({z}) * ({z})) / 2.0) * {poly})"


@register(
    "q_stats_fdr_bh",
    oracle=f"""
    WITH x AS (
      SELECT event_type,
             CASE WHEN ((user_id * {FDR_HASH_A} + {FDR_HASH_B})
                        % {FDR_HASH_P}) % 2 = 0 THEN 1 ELSE 0 END AS a,
             CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(sum(a) AS BIGINT) AS n_a,
             CAST(count(*) - sum(a) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN a = 1 THEN c END) AS BIGINT) AS s1a,
             CAST(sum(CASE WHEN a = 0 THEN c END) AS BIGINT) AS s1b,
             CAST(sum(CASE WHEN a = 1 THEN c * c END) AS BIGINT) AS s2a,
             CAST(sum(CASE WHEN a = 0 THEN c * c END) AS BIGINT) AS s2b
      FROM x GROUP BY event_type
    ),
    zc AS (
      SELECT event_type, n_a, n_b,
             (CAST(s1a AS DOUBLE) / n_a - CAST(s1b AS DOUBLE) / n_b)
             / sqrt(((s2a - CAST(s1a AS DOUBLE) * s1a / n_a) / (n_a - 1))
                        / n_a
                    + ((s2b - CAST(s1b AS DOUBLE) * s1b / n_b) / (n_b - 1))
                        / n_b) AS z
      FROM s WHERE n_a >= 2 AND n_b >= 2
    ),
    pv AS (
      SELECT event_type, n_a, n_b, round(z, 6) AS z,
             round(2.0 * {_norm_sf_sql("abs(z)")}, 8) AS p_value
      FROM zc
    ),
    rk AS (
      SELECT *,
             CAST(row_number() OVER (ORDER BY p_value, event_type)
                  AS BIGINT) AS rank,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM pv
    )
    SELECT event_type, n_a, n_b, z, p_value, rank,
           rank * {FDR_Q} / m AS bh_threshold,
           CASE WHEN rank <= max(CASE WHEN p_value
                                           <= rank * {FDR_Q} / m
                                      THEN rank ELSE 0 END) OVER ()
                THEN 1 ELSE 0 END AS rejected
    FROM rk ORDER BY rank
    """,
)
def q_stats_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR screening across one A/B readout PER
    EVENT TYPE (the multi-metric experiment dashboard): users
    hash-split 50/50 exactly as q_events_ab_welch, each metric gets
    a two-sample z from exact integer power sums, p-values via the
    Abramowitz-Stegun 26.2.17 normal tail, and BH picks the largest
    rank i with p_(i) <= i*q/m - the step-up procedure that controls
    expected false discoveries when SCREENING MANY near-null metrics
    (Bonferroni's rigid m-split is the rejected alternative: it
    ignores the observed p distribution).

    Determinism protocol: all six per-metric sufficient statistics
    are exact int64 cent sums; z is pure IEEE +-*/sqrt on them
    (engine-identical). The one libm-soft surface is exp() inside
    the tail polynomial (JVM Math.exp and libstdc++ std::exp are
    both <=1 ulp but not both correctly rounded), mitigated by
    8dp-rounding p BEFORE ranking/thresholding in BOTH engines -
    identical mitigation as q_join_geo_nearest's 6dp haversine. The
    under-null z's keep p far from every i*q/m boundary.

    Scale shape: ONE map-side-combining agg over the fact table
    produces a |metrics|-row frame; ranking, thresholds, and the
    step-up max run as windows over that bounded frame. 100 TB:
    byte-identical plan; thousands of metrics still fit one
    executor's window partition.
    """
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    a = F.when(
        ((F.col("user_id") * FDR_HASH_A + FDR_HASH_B) % FDR_HASH_P) % 2 == 0,
        1,
    ).otherwise(0)
    x = e.select("event_type", a.alias("a"), cents.alias("c"))
    s = x.groupBy("event_type").agg(
        F.sum("a").cast("bigint").alias("n_a"),
        (F.count("*") - F.sum("a")).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("a") == 1, F.col("c"))).cast("bigint").alias("s1a"),
        F.sum(F.when(F.col("a") == 0, F.col("c"))).cast("bigint").alias("s1b"),
        F.sum(F.when(F.col("a") == 1, F.col("c") * F.col("c")))
        .cast("bigint")
        .alias("s2a"),
        F.sum(F.when(F.col("a") == 0, F.col("c") * F.col("c")))
        .cast("bigint")
        .alias("s2b"),
    )
    va = (
        F.col("s2a") - F.col("s1a").cast("double") * F.col("s1a") / F.col("n_a")
    ) / (F.col("n_a") - 1)
    vb = (
        F.col("s2b") - F.col("s1b").cast("double") * F.col("s1b") / F.col("n_b")
    ) / (F.col("n_b") - 1)
    z = (
        F.col("s1a").cast("double") / F.col("n_a")
        - F.col("s1b").cast("double") / F.col("n_b")
    ) / F.sqrt(va / F.col("n_a") + vb / F.col("n_b"))
    zc = s.filter((F.col("n_a") >= 2) & (F.col("n_b") >= 2)).select(
        "event_type", "n_a", "n_b", z.alias("z")
    )
    pv = zc.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(F.col("z"), 6).alias("z"),
        F.round(
            2.0 * F.expr(_norm_sf_sql("abs(z)")), 8
        ).alias("p_value"),
    )
    rk = pv.select(
        "*",
        F.row_number()
        .over(Window.orderBy("p_value", "event_type"))
        .cast("bigint")
        .alias("rank"),
        F.count("*")
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("m"),
    )
    thr = F.col("rank") * FDR_Q / F.col("m")
    step_up = F.max(
        F.when(F.col("p_value") <= thr, F.col("rank")).otherwise(0)
    ).over(Window.partitionBy())
    return rk.select(
        "event_type",
        "n_a",
        "n_b",
        "z",
        "p_value",
        "rank",
        thr.alias("bh_threshold"),
        F.when(F.col("rank") <= step_up, 1).otherwise(0).alias("rejected"),
    ).orderBy("rank")


TOST_MARGIN_FRAC = 0.05       # equivalence margin: 5% of pooled mean
TOST_Z_ALPHA = 1.644854       # one-sided 5%


@register(
    "q_stats_tost",
    oracle=f"""
    WITH spend AS (
      SELECT user_id, round(sum(value), 4) AS x,
             CASE WHEN ((user_id * {FDR_HASH_A} + {FDR_HASH_B})
                        % {FDR_HASH_P}) % 2 = 0 THEN 1 ELSE 0 END AS a
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    s AS (
      SELECT CAST(sum(a) AS BIGINT) AS n_a,
             CAST(count(*) - sum(a) AS BIGINT) AS n_b,
             round(sum(CASE WHEN a = 1 THEN x END), 4) AS sxa,
             round(sum(CASE WHEN a = 0 THEN x END), 4) AS sxb,
             round(sum(CASE WHEN a = 1 THEN x * x END), 4) AS sxxa,
             round(sum(CASE WHEN a = 0 THEN x * x END), 4) AS sxxb
      FROM spend
    ),
    d AS (
      SELECT n_a, n_b,
             sxa / n_a - sxb / n_b AS diff,
             {TOST_MARGIN_FRAC} * ((sxa + sxb) / (n_a + n_b)) AS delta,
             sqrt(((sxxa - sxa * sxa / n_a) / (n_a - 1)) / n_a
                  + ((sxxb - sxb * sxb / n_b) / (n_b - 1)) / n_b) AS se
      FROM s
    )
    SELECT n_a, n_b, round(diff, 6) AS diff, round(delta, 6) AS delta,
           round(se, 6) AS se,
           round((diff + delta) / se, 6) AS t_lower,
           round((delta - diff) / se, 6) AS t_upper,
           CASE WHEN (diff + delta) / se > {TOST_Z_ALPHA}
                     AND (delta - diff) / se > {TOST_Z_ALPHA}
                THEN 1 ELSE 0 END AS equivalent
    FROM d
    """,
)
def q_stats_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests) on the
    q_events_ab_welch design: instead of asking "did the metric
    move?" it asks the OPPOSITE launch question - "can we claim the
    variants are the same to within a 5%-of-mean margin?" -
    rejecting non-equivalence only when BOTH one-sided statistics
    clear z_alpha. A non-significant Welch t is NOT evidence of
    equivalence (absence-of-evidence fallacy); TOST is the correct
    instrument, and the margin is declared up front.

    Determinism: same protocol as q_events_ab_welch - six
    4dp-rounded sufficient statistics, then identical IEEE
    arithmetic (one sqrt, exact-rounded) in both engines; the
    equivalence DECISION compares the unrounded t's to a literal
    z_alpha, displayed values rounded 6dp.

    Scale shape: one per-user agg (the only fact pass) -> one 6-number
    row -> projection arithmetic. 100 TB: identical.
    """
    e = table(spark, sf_dir, "events")
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 4).alias("x"))
        .withColumn(
            "a",
            F.when(
                ((F.col("user_id") * FDR_HASH_A + FDR_HASH_B) % FDR_HASH_P)
                % 2
                == 0,
                1,
            ).otherwise(0),
        )
    )
    isa = F.col("a") == 1
    s = spend.agg(
        F.sum("a").cast("bigint").alias("n_a"),
        (F.count("*") - F.sum("a")).cast("bigint").alias("n_b"),
        F.round(F.sum(F.when(isa, F.col("x"))), 4).alias("sxa"),
        F.round(F.sum(F.when(~isa, F.col("x"))), 4).alias("sxb"),
        F.round(F.sum(F.when(isa, F.col("x") * F.col("x"))), 4).alias("sxxa"),
        F.round(F.sum(F.when(~isa, F.col("x") * F.col("x"))), 4).alias(
            "sxxb"
        ),
    )
    diff = F.col("sxa") / F.col("n_a") - F.col("sxb") / F.col("n_b")
    delta = TOST_MARGIN_FRAC * (
        (F.col("sxa") + F.col("sxb")) / (F.col("n_a") + F.col("n_b"))
    )
    se = F.sqrt(
        ((F.col("sxxa") - F.col("sxa") * F.col("sxa") / F.col("n_a"))
         / (F.col("n_a") - 1)) / F.col("n_a")
        + ((F.col("sxxb") - F.col("sxb") * F.col("sxb") / F.col("n_b"))
           / (F.col("n_b") - 1)) / F.col("n_b")
    )
    d = s.select(
        "n_a",
        "n_b",
        diff.alias("diff"),
        delta.alias("delta"),
        se.alias("se"),
    )
    return d.select(
        "n_a",
        "n_b",
        F.round("diff", 6).alias("diff"),
        F.round("delta", 6).alias("delta"),
        F.round("se", 6).alias("se"),
        F.round((F.col("diff") + F.col("delta")) / F.col("se"), 6).alias(
            "t_lower"
        ),
        F.round((F.col("delta") - F.col("diff")) / F.col("se"), 6).alias(
            "t_upper"
        ),
        F.when(
            ((F.col("diff") + F.col("delta")) / F.col("se") > TOST_Z_ALPHA)
            & ((F.col("delta") - F.col("diff")) / F.col("se") > TOST_Z_ALPHA),
            1,
        )
        .otherwise(0)
        .alias("equivalent"),
    )


# Model-evaluation family: a per-user "score vs outcome" frame shared
# by the calibration and lift operators. Score = the user's click
# share in integer MILLIS ((1000*clicks) div events - exact floor
# division, no doubles), outcome = whether purchases carry the
# majority signal (2*purchases > clicks+views; a mean-zero contrast,
# so the positive rate stays near 50% at EVERY SF - a threshold on
# raw counts would drift with events-per-user as SF grows).
_EVAL_FRAME_SQL = """
    SELECT user_id,
           (1000 * sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END))
             // count(*) AS s_milli,
           CASE WHEN 2 * sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  > sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END)
                THEN 1 ELSE 0 END AS pos
    FROM events
    GROUP BY user_id
"""


def _eval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, s_milli, pos): ONE two-phase conditional agg over
    the fact table; every later stage runs on the per-user frame."""
    e = table(spark, sf_dir, "events")
    is_purch = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    is_cv = F.when(F.col("event_type").isin("click", "view"), 1).otherwise(0)
    return e.groupBy("user_id").agg(
        F.expr(
            "1000 * sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)"
            " div count(*)"
        ).alias("s_milli"),
        F.when(2 * F.sum(is_purch) > F.sum(is_cv), 1)
        .otherwise(0)
        .alias("pos"),
    )


@register(
    "q_stats_calibration",
    oracle=f"""
    WITH u AS ({_EVAL_FRAME_SQL}),
    b AS (
      SELECT CAST(CASE WHEN s_milli // 100 > 9 THEN 9
                       ELSE s_milli // 100 END AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(s_milli) AS BIGINT) AS s_sum
      FROM u GROUP BY 1
    ),
    g AS (
      SELECT CAST(sum(n_users) AS BIGINT) AS n_total,
             CAST(sum(abs(s_sum - 1000 * n_pos)) AS BIGINT) AS gap_sum
      FROM b
    )
    SELECT bin, n_users, n_pos,
           CAST(s_sum AS DOUBLE) / (1000.0 * n_users) AS conf,
           CAST(n_pos AS DOUBLE) / n_users AS acc,
           CAST(gap_sum AS DOUBLE) / (1000.0 * n_total) AS ece
    FROM b CROSS JOIN g
    ORDER BY bin
    """,
)
def q_stats_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table + expected calibration error (ECE) for the
    click-share score against the purchase-majority outcome: bin the
    [0,1] score into 10 fixed-width bins, compare mean predicted
    score (conf) to the observed positive rate (acc) per bin - the
    standard model-monitoring readout for "are the scores honest
    probabilities" (Guo et al. 2017 formulation of ECE).

    Exactness: the score is integer millis, so every bin statistic
    is an int64 sum, and ECE collapses algebraically to a SINGLE
    integer ratio: sum_b (n_b/N)*|conf_b - acc_b| =
    sum_b |s_sum_b - 1000*n_pos_b| / (1000*N) - the weighted gap's
    numerator is EXACT int64, so conf/acc/ece are each ONE IEEE
    division of identical integers in both engines, reported
    UNROUNDED (functions/exact.py rule). On this synthetic corpus the
    click-share score is miscalibrated by construction (conf ~0.2 vs
    acc ~0.5) - the operator MEASURES the gap; fixtures need not
    contain a well-calibrated model.

    Scale shape: ONE two-phase conditional agg fact->user, ONE
    two-phase agg user->10 bins (map-side combine on the bin key),
    1-row global broadcast back onto the bins. 100 TB: identical -
    the only shuffles are by user_id then by the 10-value bin key;
    the bin frame is constant-size regardless of SF.
    """
    u = _eval_frame(spark, sf_dir)
    b = (
        u.groupBy(
            F.least(F.col("s_milli") / F.lit(100), F.lit(9))
            .cast("bigint")
            .alias("bin")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.sum("s_milli").cast("bigint").alias("s_sum"),
        )
    )
    g = b.agg(
        F.sum("n_users").cast("bigint").alias("n_total"),
        F.sum(F.abs(F.col("s_sum") - 1000 * F.col("n_pos")))
        .cast("bigint")
        .alias("gap_sum"),
    )
    return (
        b.crossJoin(g)
        .select(
            "bin",
            "n_users",
            "n_pos",
            (F.col("s_sum").cast("double") / (1000.0 * F.col("n_users"))).alias(
                "conf"
            ),
            (F.col("n_pos").cast("double") / F.col("n_users")).alias("acc"),
            (F.col("gap_sum").cast("double") / (1000.0 * F.col("n_total"))).alias(
                "ece"
            ),
        )
        .orderBy("bin")
    )


LIFT_DECILES = 10


@register(
    "q_stats_lift_gains",
    oracle=f"""
    WITH u AS ({_EVAL_FRAME_SQL}),
    r AS (
      SELECT pos, ntile({LIFT_DECILES}) OVER (
               ORDER BY s_milli DESC, user_id) AS decile
      FROM u
    ),
    d AS (
      SELECT CAST(decile AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(pos) AS BIGINT) AS n_pos
      FROM r GROUP BY 1
    ),
    c AS (
      SELECT decile, n_users, n_pos,
             CAST(sum(n_users) OVER w AS BIGINT) AS cum_n,
             CAST(sum(n_pos) OVER w AS BIGINT) AS cum_pos,
             CAST(sum(n_users) OVER () AS BIGINT) AS n_total,
             CAST(sum(n_pos) OVER () AS BIGINT) AS pos_total
      FROM d
      WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    SELECT decile, n_users, n_pos,
           CAST(cum_pos AS DOUBLE) / pos_total AS gains,
           CAST(cum_pos * n_total AS DOUBLE) / (cum_n * pos_total) AS lift
    FROM c ORDER BY decile
    """,
)
def q_stats_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift table by score decile: rank users
    by the click-share score (descending, user_id tie-break for a
    deterministic total order), cut into 10 rank-deciles, and report
    what fraction of all positives the top-k deciles capture (gains)
    and how that compares to random targeting (lift) - the campaign
    targeting / ranking-model readout that complements
    q_stats_calibration's probability-honesty readout.

    Exactness: decile counts are int64; gains = cum_pos/pos_total
    and lift = (cum_pos*n_total)/(cum_n*pos_total) are each ONE IEEE
    division of exact int64 products (products bounded by N^2 -
    ~2.3e12 even at sf100), reported UNROUNDED. ntile over the
    deterministic total order assigns identical groups in both
    engines (both split remainders onto the earliest tiles). On this
    near-random fixture lift hovers around 1.0 by construction - the
    operator measures, fixtures need not contain a working model.

    Scale shape: fact->user agg, then the decile comes from the
    shared bucketed two-pass rank (operators/ranks.py) + the
    closed-form ntile expression on (rank, N) - bit-identical to a
    window ntile in both engines but parallel (a window ntile with
    no partition spec would be an Exchange SinglePartition
    single-task sort; the r6 audit finding). The decile frame is 10
    rows; cumulative windows run on it (bounded spine - exempt from
    the SinglePartition audit rule).
    """
    u = _eval_frame(spark, sf_dir)
    ranked = global_order(
        u.select("pos", "s_milli", "user_id").withColumn(
            "_ord", -F.col("s_milli")
        ),
        "_ord",
        [F.desc("s_milli"), F.col("user_id")],
        rank_name="_i",
        total_name="_n",
    )
    r = ranked.select(
        "pos",
        ntile_expr(F.col("_i"), F.col("_n"), LIFT_DECILES).alias("decile"),
    )
    d = r.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    wc = (
        Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = d.select(
        "decile",
        "n_users",
        "n_pos",
        F.sum("n_users").over(wc).cast("bigint").alias("cum_n"),
        F.sum("n_pos").over(wc).cast("bigint").alias("cum_pos"),
        F.sum("n_users").over(wg).cast("bigint").alias("n_total"),
        F.sum("n_pos").over(wg).cast("bigint").alias("pos_total"),
    )
    return c.select(
        "decile",
        "n_users",
        "n_pos",
        (F.col("cum_pos").cast("double") / F.col("pos_total")).alias("gains"),
        (
            (F.col("cum_pos") * F.col("n_total")).cast("double")
            / (F.col("cum_n") * F.col("pos_total"))
        ).alias("lift"),
    ).orderBy("decile")


WINSOR_LO = 10  # clamp below the p10 order statistic (percent)
WINSOR_HI = 90  # and above the p90 order statistic (percent)


@register(
    "q_stats_winsorized",
    oracle=f"""
    WITH v AS (
      SELECT c_mktsegment AS seg,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             o_orderkey AS k
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    r AS (
      SELECT seg, cents,
             row_number() OVER (PARTITION BY seg ORDER BY cents, k)
                 AS rn,
             CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS n
      FROM v
    ),
    b AS (
      SELECT seg, max(n) AS n,
             CAST(max(CASE WHEN rn = ({WINSOR_LO} * n + 99) // 100
                      THEN cents END) AS BIGINT) AS lo,
             CAST(max(CASE WHEN rn = ({WINSOR_HI} * n + 99) // 100
                      THEN cents END) AS BIGINT) AS hi
      FROM r GROUP BY seg
    )
    SELECT r.seg, b.n, b.lo AS lo_cents, b.hi AS hi_cents,
           CAST(sum(CASE WHEN r.cents < b.lo THEN b.lo
                         WHEN r.cents > b.hi THEN b.hi
                         ELSE r.cents END) AS DOUBLE)
             / (100.0 * b.n) AS winsorized_mean,
           CAST(sum(r.cents) AS DOUBLE) / (100.0 * b.n) AS raw_mean
    FROM r JOIN b ON r.seg = b.seg
    GROUP BY r.seg, b.n, b.lo, b.hi
    ORDER BY r.seg
    """,
)
def q_stats_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of order value per market segment: clamp
    every value into [p10, p90] ORDER STATISTICS before averaging -
    the robust location estimate that tames heavy tails without
    discarding rows (the trimmed-mean sibling that keeps n
    constant), reported beside the raw mean so the tail influence
    is visible.

    Determinism: the pXX boundary is the value at 1-indexed rank
    ceil(p*n) of the (cents, orderkey) total order - pure integer
    rank arithmetic computed IDENTICALLY in both engines (no
    percentile_disc, whose tie/index conventions differ across
    dialects). Clamped sums are exact int64; each mean is ONE IEEE
    division, reported UNROUNDED (functions/exact.py rule).

    Scale shape: NO row-level rank at all - the pXX order statistic
    is value-keyed, so everything runs on the DISTINCT (seg, cents)
    count frame: the boundary at 1-indexed rank r is the smallest
    value whose cumulative count reaches r, computed from a bucketed
    per-segment distributed cumsum (operators/ranks.py; the previous
    plan ranked every fact row inside a 5-partition window - one
    task per segment at 100 TB). Clamped sums then come from the
    same distinct frame weighted by counts: fact work is ONE
    two-phase (seg, cents) agg; no window touches a fact-sized
    frame.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    v = o.join(
        c.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    d = v.groupBy("seg", "cents").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    d = global_order(
        d,
        "cents",
        [F.col("cents")],
        cumsum={"cnt": "cum"},
        partition_cols=["seg"],
    )
    # Per-seg ORDER count n = the largest inclusive cumulative count
    # (total_name would count distinct-frame rows, not orders).
    nseg = d.groupBy("seg").agg(F.max("cum").cast("bigint").alias("n"))
    d = d.join(F.broadcast(nseg), "seg")
    lo_rank = F.expr(f"({WINSOR_LO} * n + 99) div 100")
    hi_rank = F.expr(f"({WINSOR_HI} * n + 99) div 100")
    b = d.groupBy("seg").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("cum") >= lo_rank, F.col("cents")))
        .cast("bigint")
        .alias("lo"),
        F.min(F.when(F.col("cum") >= hi_rank, F.col("cents")))
        .cast("bigint")
        .alias("hi"),
    )
    clamped = (
        F.when(F.col("cents") < F.col("lo"), F.col("lo"))
        .when(F.col("cents") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("cents"))
    )
    return (
        d.select("seg", "cents", "cnt")
        .join(F.broadcast(b), "seg")
        .groupBy("seg", "n", F.col("lo"), F.col("hi"))
        .agg(
            F.sum(clamped * F.col("cnt")).cast("double").alias("wsum"),
            F.sum(F.col("cents") * F.col("cnt")).cast("double").alias("rsum"),
        )
        .select(
            "seg",
            "n",
            F.col("lo").alias("lo_cents"),
            F.col("hi").alias("hi_cents"),
            (F.col("wsum") / (100.0 * F.col("n"))).alias("winsorized_mean"),
            (F.col("rsum") / (100.0 * F.col("n"))).alias("raw_mean"),
        )
        .orderBy("seg")
    )


@register(
    "q_stats_jsd",
    oracle="""
    WITH lab AS (
      SELECT event_type,
             CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6)
                  THEN 1 ELSE 0 END AS we
      FROM events
    ),
    per_type AS (
      SELECT event_type,
             CAST(count(*) - sum(we) AS BIGINT) AS n_wd,
             CAST(sum(we) AS BIGINT) AS n_we
      FROM lab GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(sum(n_wd) AS BIGINT) AS twd,
             CAST(sum(n_we) AS BIGINT) AS twe,
             CAST(count(*) AS BIGINT) AS k
      FROM per_type
    ),
    terms AS (
      SELECT event_type, n_wd, n_we,
             0.5 * ((n_wd + 0.5) / (twd + k * 0.5))
                 * ln(((n_wd + 0.5) / (twd + k * 0.5))
                      / (0.5 * ((n_wd + 0.5) / (twd + k * 0.5))
                         + 0.5 * ((n_we + 0.5) / (twe + k * 0.5))))
             + 0.5 * ((n_we + 0.5) / (twe + k * 0.5))
                 * ln(((n_we + 0.5) / (twe + k * 0.5))
                      / (0.5 * ((n_wd + 0.5) / (twd + k * 0.5))
                         + 0.5 * ((n_we + 0.5) / (twe + k * 0.5)))) AS t
      FROM per_type, tot
    )
    SELECT event_type, n_wd, n_we,
           round(t, 6) AS jsd_term,
           round(sum(t) OVER (), 6) AS jsd_total
    FROM terms ORDER BY event_type
    """,
)
def q_stats_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the WEEKDAY and WEEKEND
    event-type mixes: the symmetric, bounded (<= ln 2 nats) sibling
    of KL that drift monitors prefer when neither side is the
    canonical baseline - completes the divergence ladder next to
    q_stats_psi (symmetrized-KL on a binned numeric) and
    q_stats_mutual_info (joint-vs-product). Reported per type plus
    the total, in NATS.

    Protocol mirrors q_stats_psi: integer (type, period) counts in
    ONE two-phase agg, +0.5 smoothing per cell (denominator +
    k/2 keeps both distributions normalized), the mixture M =
    (P+Q)/2 expanded inline so both engines evaluate the identical
    expression tree, and ONLY the irrational ln terms rounded (6dp;
    the 5-row window total likewise). Weekend = Sunday/Saturday via
    dayofweek, mapped to the same 0/6 codes in both dialects.

    Scale shape: one fact scan -> (type, period) counts with
    map-side combine -> 1-row totals broadcast -> 5-row projection
    arithmetic. 100 TB: identical.
    """
    e = table(spark, sf_dir, "events")
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dayofweek:
    # 0=Sunday..6=Saturday. Normalize to DuckDB's codes.
    dow = F.dayofweek(F.to_date("ts")) - 1
    lab = e.select(
        "event_type",
        F.when(dow.isin(0, 6), 1).otherwise(0).alias("we"),
    )
    per_type = lab.groupBy("event_type").agg(
        (F.count("*") - F.sum("we")).cast("bigint").alias("n_wd"),
        F.sum("we").cast("bigint").alias("n_we"),
    )
    tot = per_type.agg(
        F.sum("n_wd").cast("bigint").alias("twd"),
        F.sum("n_we").cast("bigint").alias("twe"),
        F.count("*").cast("bigint").alias("k"),
    )
    j = per_type.crossJoin(tot)
    p = (F.col("n_wd") + 0.5) / (F.col("twd") + F.col("k") * 0.5)
    q = (F.col("n_we") + 0.5) / (F.col("twe") + F.col("k") * 0.5)
    m = 0.5 * p + 0.5 * q
    t = 0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)
    w_all = Window.partitionBy()
    return j.select(
        "event_type",
        "n_wd",
        "n_we",
        F.round(t, 6).alias("jsd_term"),
        F.round(F.sum(t).over(w_all), 6).alias("jsd_total"),
    ).orderBy("event_type")


XCORR_MAX_LAG = 3  # lags -3..+3 days


@register(
    "q_stats_xcorr",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(-{XCORR_MAX_LAG}, {XCORR_MAX_LAG + 1}))
                 AS lag),
    pairs AS (
      SELECT l.lag, a.x, b.y
      FROM daily a CROSS JOIN lags l
      JOIN daily b ON b.ed = a.ed + l.lag
    ),
    s AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS xcorr
    FROM s ORDER BY lag
    """,
)
def q_stats_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the daily CLICK and daily
    PURCHASE count series at lags -3..+3 days (xcorr(L) = Pearson
    corr of clicks on day d vs purchases on day d+L): the "does one
    series lead the other, and by how much" diagnostic behind
    marketing-response and demand-sensing models - the cross-series
    sibling of q_stats_autocorr, whose argmax over L is the
    estimated response delay.

    Exactness: both series are integer counts; per-lag alignment is
    an integer epoch-day equi-join (no window, so missing days
    simply drop the pair - the standard pairwise-complete
    convention); all five power sums are exact int64, and the corr
    is the identical two-sqrt expression tree in both engines,
    reported UNROUNDED (functions/exact.py rule).

    Scale shape: ONE fact scan to the daily frame (map-side
    combinable conditional agg), then a 7-lag x |days| self-join on
    the bounded frame and a 7-group power-sum agg. 100 TB:
    identical - everything after the first agg is bounded by the
    calendar, and per-series partitioning (region, type) widens the
    key without changing shape.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "ed"
        )
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    lags = spark.range(-XCORR_MAX_LAG, XCORR_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.select(F.col("ed").alias("aed"), "x")
    b = daily.select(F.col("ed").alias("bed"), "y")
    pairs = (
        a.crossJoin(lags)
        .join(b, F.col("bed") == F.col("aed") + F.col("lag"))
    )
    s = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    dx = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    dy = F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select(
        F.col("lag").cast("bigint").alias("lag"),
        "n",
        (num / (dx * dy)).alias("xcorr"),
    ).orderBy("lag")


HILL_MIN_K = 10  # tail sample floor; k = max(this, n div 100)


@register(
    "q_stats_hill_tail",
    oracle=f"""
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             o_orderkey AS k
      FROM orders
    ),
    r AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents DESC, k) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM v
    ),
    kk AS (
      SELECT n, greatest({HILL_MIN_K}, n // 100) AS kk FROM r LIMIT 1
    ),
    thr AS (
      SELECT r.cents AS thr_cents
      FROM r JOIN kk ON r.rn = kk.kk + 1
    ),
    terms AS (
      SELECT ln(CAST(r.cents AS DOUBLE) / t.thr_cents) AS lt
      FROM r CROSS JOIN kk CROSS JOIN thr t
      WHERE r.rn <= kk.kk
    )
    SELECT k.n, CAST(k.kk AS BIGINT) AS k, t.thr_cents,
           round(CAST(k.kk AS DOUBLE) / sum(lt), 6) AS hill_alpha,
           round(sum(lt) / k.kk, 6) AS mean_excess_log
    FROM terms CROSS JOIN kk k CROSS JOIN thr t
    GROUP BY k.n, k.kk, t.thr_cents
    """,
)
def q_stats_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index over order values:
    alpha_hat = k / sum_{i<=k} ln(x_(i) / x_(k+1)) on the top-k
    order statistics (k = max(10, n div 100)) - THE
    extreme-value-theory answer to "how heavy is this tail", the
    quantity that decides whether revenue concentration
    (q_agg_gini), top-k caches, and skew-join salting budgets are
    stable or sample-dominated (alpha <= 2: variance infinite;
    alpha <= 1: mean infinite).

    Determinism: the tail sample is picked by integer rank over the
    (cents DESC, orderkey) total order (no percentile interpolation);
    each log term is ln of ONE exact-integer ratio with the
    identical tree in both engines; the k-term sum is the single
    group-sum-order surface, mitigated by the 6dp round (PSI rule).

    Scale shape: rank via ONE ordered window (a top-(k+1)
    TakeOrdered at cluster scale - the threshold is an order
    statistic, never a full sort), the 1-row threshold broadcast
    back, and a k-row log agg. 100 TB: k grows as n/100 but the
    estimator only ever touches the top slice; a fixed-k variant
    bounds it outright.
    """
    o = table(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
        F.col("o_orderkey").alias("k"),
    )
    # Distributed rank (r7): the data-dependent k = n div 100 defeats
    # WindowGroupLimit pruning, so the old unpartitioned window was a
    # true full single-task sort (r6 audit finding); the bucketed
    # two-pass rank keeps the top-slice pick parallel.
    r = global_order(
        v.withColumn("_negc", -F.col("cents")),
        "_negc", [F.desc("cents"), F.col("k")],
        rank_name="rn", total_name="n",
    ).select("cents", "rn", "n")
    kk = r.limit(1).select(
        "n", F.greatest(F.lit(HILL_MIN_K), F.expr("n div 100")).alias("kk")
    )
    thr = r.join(F.broadcast(kk), F.col("rn") == F.col("kk") + 1).select(
        F.col("cents").alias("thr_cents")
    )
    terms = (
        r.crossJoin(F.broadcast(kk.select("kk")))
        .filter(F.col("rn") <= F.col("kk"))
        .crossJoin(F.broadcast(thr))
        .select(
            F.log(
                F.col("cents").cast("double") / F.col("thr_cents")
            ).alias("lt")
        )
    )
    g = terms.crossJoin(F.broadcast(kk)).crossJoin(F.broadcast(thr))
    return g.groupBy("n", "kk", "thr_cents").agg(
        F.round(
            F.col("kk").cast("double") / F.sum("lt"), 6
        ).alias("hill_alpha"),
        F.round(F.sum("lt") / F.col("kk"), 6).alias("mean_excess_log"),
    ).select(
        "n",
        F.col("kk").cast("bigint").alias("k"),
        "thr_cents",
        "hill_alpha",
        "mean_excess_log",
    )


@register(
    "q_stats_runs_test",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    med AS (
      SELECT cents AS m FROM (
        SELECT cents, row_number() OVER (ORDER BY cents, ed) AS rn,
               count(*) OVER () AS n
        FROM daily) WHERE rn = (n + 1) // 2
    ),
    signs AS (
      SELECT ed, CASE WHEN cents > m THEN 1 ELSE 0 END AS s
      FROM daily CROSS JOIN med WHERE cents <> m
    ),
    runs AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS n1,
             CAST(count(*) - sum(s) AS BIGINT) AS n2,
             CAST(1 + sum(CASE WHEN s <> prev THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM (SELECT s, lag(s) OVER (ORDER BY ed) AS prev FROM signs)
    )
    SELECT n, n1, n2, r,
           1.0 + 2.0 * n1 * n2 / n AS expected_r,
           round((r - (1.0 + 2.0 * n1 * n2 / n))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
                        / (CAST(n AS DOUBLE) * n * (n - 1))), 6) AS z
    FROM runs
    """,
)
def q_stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily purchase
    revenue series: split days into above/below the exact MEDIAN
    (rank (n+1) div 2 order statistic; days AT the median are
    excluded, the standard convention), count runs of consecutive
    same-side days, and z-score the count against its exact null
    moments - too FEW runs means trending/clustering, too many
    means oscillation; the nonparametric "is this series even
    random" gate that precedes any autocorrelation modeling
    (q_stats_autocorr quantifies WHAT the dependence is; this tests
    WHETHER dependence exists at all).

    Exactness: the median is a rank-picked integer (no
    interpolation); n/n1/n2/r are exact int64 (runs counted by one
    lag compare over the bounded daily frame); expected_r is
    integer arithmetic + ONE division (unrounded); only the
    z-score's sqrt expression is rounded (6dp).

    Scale shape: one fact pass to the daily frame; everything after
    is a bounded-frame window + 1-row agg. Per-series partitioning
    generalizes it.
    """
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.datediff(
                F.to_date("ts"), F.lit("1970-01-01").cast("date")
            ).alias("ed")
        )
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    wr = Window.orderBy("cents", "ed")
    wn = Window.partitionBy()
    med = (
        daily.select(
            "cents",
            F.row_number().over(wr).alias("rn"),
            F.count("*").over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("cents").alias("m"))
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("cents") != F.col("m"))
        .select(
            "ed", F.when(F.col("cents") > F.col("m"), 1).otherwise(0).alias("s")
        )
    )
    lagd = signs.select(
        "s", F.lag("s").over(Window.orderBy("ed")).alias("prev")
    )
    runs = lagd.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("n1"),
        (F.count("*") - F.sum("s")).cast("bigint").alias("n2"),
        (
            1
            + F.sum(
                F.when(F.col("s") != F.col("prev"), 1).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("r"),
    )
    n, n1, n2, r = F.col("n"), F.col("n1"), F.col("n2"), F.col("r")
    exp_r = 1.0 + 2.0 * n1 * n2 / n
    var = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n)
        / (n.cast("double") * n * (n - 1))
    )
    return runs.select(
        "n",
        "n1",
        "n2",
        "r",
        exp_r.alias("expected_r"),
        F.round((r - exp_r) / F.sqrt(var), 6).alias("z"),
    )


@register(
    "q_stats_brown_forsythe",
    oracle="""
    WITH v AS (
      SELECT c_mktsegment AS seg,
             CAST(round(o_totalprice, 0) AS BIGINT) AS cents,
             o_orderkey AS k
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    med AS (
      SELECT seg, cents AS m FROM (
        SELECT seg, cents,
               row_number() OVER (PARTITION BY seg ORDER BY cents, k)
                   AS rn,
               count(*) OVER (PARTITION BY seg) AS n
        FROM v) WHERE rn = (n + 1) // 2
    ),
    z AS (
      SELECT v.seg, abs(v.cents - med.m) AS z
      FROM v JOIN med ON v.seg = med.seg
    ),
    g AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(z) AS BIGINT) AS s1,
             CAST(sum(z * z) AS BIGINT) AS s2
      FROM z GROUP BY seg
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(s1) AS BIGINT) AS ts1,
             CAST(sum(s2) AS BIGINT) AS ts2,
             sum(CAST(s1 AS DOUBLE) * s1 / n) AS ssg
      FROM g
    )
    SELECT k, nn AS n,
           round((ssg - CAST(ts1 AS DOUBLE) * ts1 / nn) / (k - 1)
                 / ((ts2 - ssg) / (nn - k)), 6) AS f_stat,
           round((ssg - CAST(ts1 AS DOUBLE) * ts1 / nn)
                 / (ts2 - CAST(ts1 AS DOUBLE) * ts1 / nn), 6)
               AS eta_sq
    FROM t
    """,
)
def q_stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test for variance homogeneity across the five
    market segments: one-way ANOVA run on z_ij = |x_ij - median_i|
    (absolute deviations from each GROUP MEDIAN) - the robust
    Levene variant, and the precondition check q_stats_anova's
    equal-variance assumption silently leans on (spread equality,
    not mean equality, is what's on trial here).

    Exactness: values are WHOLE-DOLLAR integers (the q_stats_anova
    unit - cent-squared sums overflow int64 at sf0.1; measured and
    fixed this round) and the group median is the rank-(n+1) div 2
    order statistic (integer, no interpolation - the
    q_stats_winsorized rank protocol), so every z is an EXACT int64
    and the whole F decomposition runs on integer power sums
    (n, S1, S2 per group; dollar-squared sums hold through sf1,
    beyond that the sums drop to doubles like ANOVA documents);
    sum(S1^2/n) is the one pre-division sum (5 terms, identical
    per-term tree) and the final F / eta^2 are rounded 6dp (the
    ANOVA rule).

    Scale shape: one shuffle to rank within segment (the median
    pick), medians broadcast back, ONE two-phase power-sum agg on
    the deviations, 1-row arithmetic. 100 TB: identical; the
    100 TB median swaps rank for approx_percentile (documented
    trade, same downstream algebra).
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    v = o.join(
        c.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice"), 0).cast("bigint").alias(
            "cents"
        ),
        F.col("o_orderkey").alias("k"),
    )
    ws = Window.partitionBy("seg")
    med = (
        v.select(
            "seg",
            "cents",
            F.row_number().over(ws.orderBy("cents", "k")).alias("rn"),
            F.count("*").over(ws).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("seg", F.col("cents").alias("m"))
    )
    z = v.join(F.broadcast(med), "seg").select(
        "seg", F.abs(F.col("cents") - F.col("m")).alias("z")
    )
    g = z.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("z").cast("bigint").alias("s1"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("s2"),
    )
    t = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s1").cast("bigint").alias("ts1"),
        F.sum("s2").cast("bigint").alias("ts2"),
        F.sum(F.col("s1").cast("double") * F.col("s1") / F.col("n")).alias(
            "ssg"
        ),
    )
    ssb = F.col("ssg") - F.col("ts1").cast("double") * F.col("ts1") / F.col(
        "nn"
    )
    ssw = F.col("ts2") - F.col("ssg")
    sst = F.col("ts2") - F.col("ts1").cast("double") * F.col("ts1") / F.col(
        "nn"
    )
    return t.select(
        "k",
        F.col("nn").alias("n"),
        F.round(
            ssb / (F.col("k") - 1) / (ssw / (F.col("nn") - F.col("k"))), 6
        ).alias("f_stat"),
        F.round(ssb / sst, 6).alias("eta_sq"),
    )


BAYES_Z95 = "1.959963984540054"  # 97.5% normal quantile (literal)


@register(
    "q_stats_bayes_ab",
    oracle=f"""
    WITH u AS (
      SELECT CASE WHEN ((user_id * {FDR_HASH_A} + {FDR_HASH_B})
                        % {FDR_HASH_P}) % 2 = 0 THEN 'A' ELSE 'B' END
                 AS variant,
             CASE WHEN 2 * sum(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END)
                    > sum(CASE WHEN event_type IN ('click', 'view')
                               THEN 1 ELSE 0 END)
                  THEN 1 ELSE 0 END AS s
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS s
      FROM u GROUP BY variant
    ),
    post AS (
      SELECT variant, n, s,
             (s + 1.0) / (n + 2.0) AS pm,
             ((s + 1.0) * (n - s + 1.0))
               / ((n + 2.0) * (n + 2.0) * (n + 3.0)) AS pv
      FROM v
    ),
    d AS (
      SELECT (SELECT pm FROM post WHERE variant = 'B')
               - (SELECT pm FROM post WHERE variant = 'A') AS dm,
             (SELECT pv FROM post WHERE variant = 'B')
               + (SELECT pv FROM post WHERE variant = 'A') AS dv
    )
    SELECT p.variant, p.n, p.s, p.pm AS post_mean,
           p.pm - {BAYES_Z95} * sqrt(p.pv) AS ci_lo,
           p.pm + {BAYES_Z95} * sqrt(p.pv) AS ci_hi,
           round(CASE WHEN d.dm / sqrt(d.dv) >= 0
                 THEN 1.0 - {_norm_sf_sql("(d.dm / sqrt(d.dv))")}
                 ELSE {_norm_sf_sql("(-(d.dm / sqrt(d.dv)))")}
                 END, 8) AS p_b_beats_a
    FROM post p CROSS JOIN d
    ORDER BY p.variant
    """,
)
def q_stats_bayes_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B readout under a Beta(1,1) prior: per-variant
    Beta posterior mean and 95% credible interval for the
    purchase-majority outcome rate, plus P(B > A) via the
    normal approximation of the posterior difference - the
    decision-theoretic companion to q_stats_ab_welch's frequentist
    t (a stakeholder asks "what's the probability B is better",
    which ONLY the posterior answers; the exact Beta integral needs
    incomplete-beta, the normal approx is the standard large-n
    shortcut and both variants here have n >> 30).

    Exactness: s and n are int64; posterior mean/variance are
    closed-form ratios evaluated as the IDENTICAL tree in both
    engines (unrounded); the CI needs one sqrt (IEEE-exact);
    P(B>A) goes through the one exp/ln-free A&S 26.2.17 tail shared
    with q_stats_fdr_bh (exp is the single libm surface, 8dp-round
    mitigated there and here).

    Scale shape: ONE per-user conditional agg -> 2-row variant agg
    -> projection arithmetic on the 2-row frame + a 1-row
    difference broadcast. 100 TB: identical.
    """
    e = table(spark, sf_dir, "events")
    is_purch = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    is_cv = F.when(F.col("event_type").isin("click", "view"), 1).otherwise(0)
    u = e.groupBy("user_id").agg(
        F.when(2 * F.sum(is_purch) > F.sum(is_cv), 1)
        .otherwise(0)
        .alias("s")
    ).select(
        F.when(
            F.expr(
                f"((user_id * {FDR_HASH_A} + {FDR_HASH_B})"
                f" % {FDR_HASH_P}) % 2 = 0"
            ),
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("variant"),
        "s",
    )
    v = u.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("s"),
    )
    post = v.select(
        "variant",
        "n",
        "s",
        ((F.col("s") + 1.0) / (F.col("n") + 2.0)).alias("pm"),
        (
            ((F.col("s") + 1.0) * (F.col("n") - F.col("s") + 1.0))
            / (
                (F.col("n") + 2.0)
                * (F.col("n") + 2.0)
                * (F.col("n") + 3.0)
            )
        ).alias("pv"),
    )
    a = post.filter(F.col("variant") == "A").select(
        F.col("pm").alias("pma"), F.col("pv").alias("pva")
    )
    b = post.filter(F.col("variant") == "B").select(
        F.col("pm").alias("pmb"), F.col("pv").alias("pvb")
    )
    d = a.crossJoin(b).select(
        (F.col("pmb") - F.col("pma")).alias("dm"),
        (F.col("pvb") + F.col("pva")).alias("dv"),
    )
    z = F.expr("dm / sqrt(dv)")
    p_b = F.when(
        z >= 0, 1.0 - F.expr(_norm_sf_sql("(dm / sqrt(dv))"))
    ).otherwise(F.expr(_norm_sf_sql("(-(dm / sqrt(dv)))")))
    z95 = float(BAYES_Z95)
    return (
        post.crossJoin(F.broadcast(d))
        .select(
            "variant",
            "n",
            "s",
            F.col("pm").alias("post_mean"),
            (F.col("pm") - z95 * F.sqrt(F.col("pv"))).alias("ci_lo"),
            (F.col("pm") + z95 * F.sqrt(F.col("pv"))).alias("ci_hi"),
            F.round(p_b, 8).alias("p_b_beats_a"),
        )
        .orderBy("variant")
    )


CR_SPLIT_DAY = 15  # sample 1 = days < 15; sample 2 = days >= 15


@register(
    "q_stats_capture_recapture",
    oracle=f"""
    WITH seen AS (
      SELECT user_id,
             max(CASE WHEN dayofmonth(CAST(ts AS DATE)) < {CR_SPLIT_DAY}
                      THEN 1 ELSE 0 END) AS s1,
             max(CASE WHEN dayofmonth(CAST(ts AS DATE)) >= {CR_SPLIT_DAY}
                      THEN 1 ELSE 0 END) AS s2
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    m AS (
      SELECT CAST(sum(s1) AS BIGINT) AS n1,
             CAST(sum(s2) AS BIGINT) AS n2,
             CAST(sum(s1 * s2) AS BIGINT) AS m2,
             CAST(count(*) AS BIGINT) AS n_observed
      FROM seen
    )
    SELECT n1, n2, m2, n_observed,
           (CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / (m2 + 1)) - 1.0
               AS chapman_estimate,
           CAST((n1 + 1) * (n2 + 1) AS DOUBLE) * (n1 - m2) * (n2 - m2)
             / (CAST((m2 + 1) AS DOUBLE) * (m2 + 1) * (m2 + 2))
               AS chapman_variance
    FROM m
    """,
)
def q_stats_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture (Chapman) estimate of the TOTAL purchasing
    population from two overlapping observation windows (first vs
    second half of the month): N_hat = (n1+1)(n2+1)/(m+1) - 1 with
    its closed-form variance - the mark-recapture estimator
    ecologists use for animal counts and analysts reuse to size an
    audience whose members are only ever PARTIALLY observed (how
    many buyers exist, not how many we saw; n_observed is the lower
    bound the naive count reports).

    Exactness: n1/n2/m are int64 via one per-user two-flag agg;
    the estimate and variance are closed-form integer-product
    ratios with the identical tree in both engines, UNROUNDED
    (products bounded by N^2*... ~ 1e13 at sf1 - safe; dayofmonth
    maps identically in both dialects).

    Scale shape: fact scan -> per-user max-flag agg (map-side
    combinable) -> 1-row arithmetic. 100 TB: identical; k-sample
    variants widen the flag vector, same plan.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    dom = F.dayofmonth(F.to_date("ts"))
    seen = e.groupBy("user_id").agg(
        F.max(F.when(dom < CR_SPLIT_DAY, 1).otherwise(0)).alias("s1"),
        F.max(F.when(dom >= CR_SPLIT_DAY, 1).otherwise(0)).alias("s2"),
    )
    m = seen.agg(
        F.sum("s1").cast("bigint").alias("n1"),
        F.sum("s2").cast("bigint").alias("n2"),
        F.sum(F.col("s1") * F.col("s2")).cast("bigint").alias("m2"),
        F.count("*").cast("bigint").alias("n_observed"),
    )
    n1, n2, m2 = F.col("n1"), F.col("n2"), F.col("m2")
    est = ((n1 + 1) * (n2 + 1)).cast("double") / (m2 + 1) - 1.0
    var = (
        ((n1 + 1) * (n2 + 1)).cast("double")
        * (n1 - m2)
        * (n2 - m2)
        / ((m2 + 1).cast("double") * (m2 + 1) * (m2 + 2))
    )
    return m.select(
        "n1",
        "n2",
        "m2",
        "n_observed",
        est.alias("chapman_estimate"),
        var.alias("chapman_variance"),
    )


SIMPSON_STRATA = 3  # user-cohort strata (user_id % 3)


@register(
    "q_stats_simpson_check",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN ((user_id * {FDR_HASH_A} + {FDR_HASH_B})
                        % {FDR_HASH_P}) % 2 = 0 THEN 'A' ELSE 'B' END
                 AS variant,
             user_id % {SIMPSON_STRATA} AS stratum,
             CASE WHEN 2 * sum(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END)
                    > sum(CASE WHEN event_type IN ('click', 'view')
                               THEN 1 ELSE 0 END)
                  THEN 1 ELSE 0 END AS s
      FROM events GROUP BY user_id
    ),
    cell AS (
      SELECT stratum, variant, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS k
      FROM u GROUP BY stratum, variant
    ),
    strat AS (
      SELECT CAST(stratum AS BIGINT) AS stratum,
             max(CASE WHEN variant = 'A' THEN n END) AS n_a,
             max(CASE WHEN variant = 'A' THEN k END) AS k_a,
             max(CASE WHEN variant = 'B' THEN n END) AS n_b,
             max(CASE WHEN variant = 'B' THEN k END) AS k_b
      FROM cell GROUP BY stratum
    ),
    pooled AS (
      SELECT CAST(sum(k_b) AS DOUBLE) / sum(n_b)
               - CAST(sum(k_a) AS DOUBLE) / sum(n_a) AS pooled_diff
      FROM strat
    )
    SELECT s.stratum,
           CAST(s.n_a AS BIGINT) AS n_a, CAST(s.n_b AS BIGINT) AS n_b,
           CAST(s.k_a AS DOUBLE) / s.n_a AS p_a,
           CAST(s.k_b AS DOUBLE) / s.n_b AS p_b,
           CAST(s.k_b AS DOUBLE) / s.n_b
             - CAST(s.k_a AS DOUBLE) / s.n_a AS diff,
           p.pooled_diff,
           CASE WHEN (CAST(s.k_b AS DOUBLE) / s.n_b
                      - CAST(s.k_a AS DOUBLE) / s.n_a) * p.pooled_diff
                     < 0 THEN 1 ELSE 0 END AS flipped
    FROM strat s CROSS JOIN pooled p
    ORDER BY s.stratum
    """,
)
def q_stats_simpson_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit of the A/B comparison: the pooled
    B-minus-A conversion difference next to the SAME difference
    inside each user-cohort stratum, with a `flipped` flag where
    the stratum-level sign reverses the pooled sign - the
    aggregation trap (pooled and stratified conclusions
    disagreeing when strata sizes are imbalanced) every
    experimentation platform screens for before trusting a pooled
    readout (q_events_srm_check guards assignment; this guards
    INTERPRETATION). On this hash-balanced fixture no flip is
    expected - the detector's null behavior is itself the pin.

    Exactness: all counts int64 via one per-user agg + a 6-cell
    pivot; every rate is ONE integer division; the flip test is a
    sign product of two such differences - identical IEEE tree in
    both engines, unrounded.

    Scale shape: fact -> user agg (the only big shuffle) -> 6-cell
    conditional pivot -> 1-row pooled broadcast. 100 TB: identical;
    real deployments widen `stratum` to the confounder of record
    (country, platform), same plan.
    """
    e = table(spark, sf_dir, "events")
    is_purch = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    is_cv = F.when(F.col("event_type").isin("click", "view"), 1).otherwise(0)
    u = e.groupBy("user_id").agg(
        F.when(2 * F.sum(is_purch) > F.sum(is_cv), 1)
        .otherwise(0)
        .alias("s")
    ).select(
        F.when(
            F.expr(
                f"((user_id * {FDR_HASH_A} + {FDR_HASH_B})"
                f" % {FDR_HASH_P}) % 2 = 0"
            ),
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("variant"),
        (F.col("user_id") % SIMPSON_STRATA).alias("stratum"),
        "s",
    )
    cell = u.groupBy("stratum", "variant").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("k"),
    )
    strat = cell.groupBy(F.col("stratum").cast("bigint").alias("stratum")).agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "A", F.col("k"))).alias("k_a"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "B", F.col("k"))).alias("k_b"),
    )
    pooled = strat.agg(
        (
            F.sum("k_b").cast("double") / F.sum("n_b")
            - F.sum("k_a").cast("double") / F.sum("n_a")
        ).alias("pooled_diff")
    )
    p_a = F.col("k_a").cast("double") / F.col("n_a")
    p_b = F.col("k_b").cast("double") / F.col("n_b")
    diff = p_b - p_a
    return (
        strat.crossJoin(pooled)
        .select(
            "stratum",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            p_a.alias("p_a"),
            p_b.alias("p_b"),
            diff.alias("diff"),
            "pooled_diff",
            F.when(diff * F.col("pooled_diff") < 0, 1)
            .otherwise(0)
            .alias("flipped"),
        )
        .orderBy("stratum")
    )


@register(
    "q_stats_partial_corr",
    oracle="""
    WITH j AS (
      SELECT o.o_totalprice AS x, c.c_acctbal AS y,
             CAST(c.c_nationkey AS DOUBLE) AS z
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    r AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             round(corr(x, y), 4) AS rxy,
             round(corr(x, z), 4) AS rxz,
             round(corr(y, z), 4) AS ryz
      FROM j
    )
    SELECT n, rxy AS r_xy, rxz AS r_xz, ryz AS r_yz,
           round((rxy - rxz * ryz)
                 / (sqrt(1.0 - rxz * rxz) * sqrt(1.0 - ryz * ryz)), 6)
               AS r_xy_given_z
    FROM r
    """,
)
def q_stats_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation of order value and account
    balance CONTROLLING for nation: r_xy.z = (r_xy - r_xz r_yz) /
    sqrt((1-r_xz^2)(1-r_yz^2)) - the confounder-removal step that
    tells apart "value correlates with balance" from "both follow
    nation", i.e. the smallest piece of causal hygiene between
    q_stats_spearman's raw association and q_stats_did's designed
    estimate. All three pairwise r's reported beside the adjusted
    one.

    Float protocol: the pairwise r's come from each engine's native
    corr() (per the q_agg_stddev_corr precedent) ROUNDED 4dp - the
    integer-power-sum formulation was tried first and n*S_xy
    overflows int64 already at sf0.01 (cents) / sf0.1 (dollars);
    the partial is then composed from the IDENTICAL 4dp inputs by
    the identical tree in both engines, rounded 6dp. Composition
    error from the 4dp inputs is ~3e-4 on the statistic - noise
    relative to its sampling error at any SF.

    Scale shape: ONE map-side-combining corr agg over the
    broadcast-dim join - no window, no second pass; higher-order
    partials recurse on the same matrix (q_agg_corr_matrix is the
    k-variable sibling). 100 TB: identical.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = o.join(
        c.select("c_custkey", "c_acctbal", "c_nationkey"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        F.col("o_totalprice").alias("x"),
        F.col("c_acctbal").alias("y"),
        F.col("c_nationkey").cast("double").alias("z"),
    )
    r = j.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.corr("x", "y"), 4).alias("rxy"),
        F.round(F.corr("x", "z"), 4).alias("rxz"),
        F.round(F.corr("y", "z"), 4).alias("ryz"),
    )
    rxy, rxz, ryz = F.col("rxy"), F.col("rxz"), F.col("ryz")
    return r.select(
        "n",
        rxy.alias("r_xy"),
        rxz.alias("r_xz"),
        ryz.alias("r_yz"),
        F.round(
            (rxy - rxz * ryz)
            / (F.sqrt(1.0 - rxz * rxz) * F.sqrt(1.0 - ryz * ryz)),
            6,
        ).alias("r_xy_given_z"),
    )


NEYMAN_BUDGET = 1000  # total sample size to allocate


@register(
    "q_sample_neyman",
    oracle=f"""
    WITH s AS (
      SELECT c_mktsegment AS seg,
             CAST(count(*) AS BIGINT) AS n_h,
             CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT)
                 AS s1,
             CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)
                      * CAST(round(o_totalprice, 0) AS BIGINT))
                  AS BIGINT) AS s2
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
    ),
    w AS (
      SELECT seg, n_h,
             n_h * sqrt((CAST(s2 AS DOUBLE) * n_h - CAST(s1 AS DOUBLE)
                         * s1)) / n_h AS weight
      FROM s
    ),
    t AS (SELECT sum(weight) AS z FROM w)
    SELECT w.seg, w.n_h,
           round(w.weight / t.z, 6) AS alloc_share,
           CAST(least(w.n_h,
                greatest(1, CAST(round({NEYMAN_BUDGET} * w.weight / t.z, 0)
                               AS BIGINT))) AS BIGINT) AS n_alloc
    FROM w CROSS JOIN t ORDER BY w.seg
    """,
)
def q_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation: split a
    1000-row sampling budget across market segments proportional to
    N_h * sigma_h (stratum size x stratum spread) - the
    survey-design answer to "where should my sample go", which
    beats q_sample_stratified's proportional allocation exactly
    when strata variances differ (high-variance strata earn more
    of the budget; the variance of the resulting estimator is the
    minimum achievable at this budget). Allocations are clamped to
    [1, N_h] per stratum.

    Exactness: whole-dollar integer power sums per stratum (the
    q_stats_brown_forsythe unit - dollar-squared sums hold int64
    through sf1); N_h*sigma_h is composed as the identical
    sqrt(S2*n - S1^2)/n tree (one sqrt), the 5-term weight sum is
    the one order surface behind the 6dp round, and the integer
    allocation is round-then-clamp in both engines.

    Scale shape: ONE two-phase power-sum agg to the 5-row stratum
    frame, 1-row total broadcast, projection arithmetic. 100 TB:
    identical - the allocator never touches rows; executing the
    draw afterwards is q_sample_stratified's rank-pick with these
    quotas.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    dollars = F.round(F.col("o_totalprice"), 0).cast("bigint")
    s = (
        o.join(
            c.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count("*").cast("bigint").alias("n_h"),
            F.sum(dollars).cast("bigint").alias("s1"),
            F.sum(dollars * dollars).cast("bigint").alias("s2"),
        )
    )
    weight = (
        F.col("n_h")
        * F.sqrt(
            F.col("s2").cast("double") * F.col("n_h")
            - F.col("s1").cast("double") * F.col("s1")
        )
        / F.col("n_h")
    )
    w = s.select("seg", "n_h", weight.alias("weight"))
    t = w.agg(F.sum("weight").alias("z"))
    return (
        w.crossJoin(t)
        .select(
            "seg",
            "n_h",
            F.round(F.col("weight") / F.col("z"), 6).alias("alloc_share"),
            F.least(
                F.col("n_h"),
                F.greatest(
                    F.lit(1).cast("bigint"),
                    F.round(
                        NEYMAN_BUDGET * F.col("weight") / F.col("z"), 0
                    ).cast("bigint"),
                ),
            )
            .cast("bigint")
            .alias("n_alloc"),
        )
        .orderBy("seg")
    )


PERIODOGRAM_K = 7  # harmonics 1..7 (weekly structure shows at N/7)
_PI = "3.141592653589793"


@register(
    "q_stats_periodogram",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             CAST(count(*) AS BIGINT) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    idx AS (
      SELECT CAST(row_number() OVER (ORDER BY ed) - 1 AS BIGINT) AS t,
             y, CAST(count(*) OVER () AS BIGINT) AS n
      FROM daily
    ),
    harm AS (
      SELECT k.k, i.t, i.y, i.n
      FROM idx i CROSS JOIN
        (SELECT unnest(range(1, {PERIODOGRAM_K + 1})) AS k) k
    ),
    ft AS (
      SELECT CAST(k AS BIGINT) AS k, max(n) AS n,
             sum(y * cos(2 * {_PI} * k * t / n)) AS re,
             sum(y * sin(2 * {_PI} * k * t / n)) AS im
      FROM harm GROUP BY k
    ),
    pw AS (
      SELECT k, n, re * re + im * im AS p FROM ft
    ),
    tot AS (SELECT sum(p) AS z FROM pw)
    SELECT pw.k, pw.n AS n_days,
           round(pw.p, 4) AS power,
           round(pw.p / t.z, 6) AS power_share
    FROM pw CROSS JOIN tot t ORDER BY pw.k
    """,
)
def q_stats_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier periodogram of the daily purchase-count
    series at harmonics k = 1..7: P_k = |sum_t y_t e^{{-2pi i k
    t/N}}|^2 with each harmonic's share of the detected spectral
    mass - the frequency-domain seasonality detector (the argmax k
    names the dominant cycle as N/k days) that complements
    q_stats_seasonal_decompose's fixed weekly assumption and
    q_stats_autocorr's lag view: the periodogram FINDS the period
    instead of assuming it.

    Float protocol: t and N are integer rank/count; cos/sin are the
    libm surface (the ln/exp precedent extended - both engines
    evaluate the identical 2*pi*k*t/N argument from exact integers,
    and the <=N-term weighted sums sit behind a 4dp power round,
    amplitude ~1e2, libm ulp noise ~1e-13); power_share is one
    division of already-rounded-protocol values, 6dp.

    Scale shape: one fact rollup, a 7x|days| harmonic expansion of
    the BOUNDED daily frame (map-side), a 7-group two-phase agg -
    the classic "DFT as GROUP BY" formulation. At 100 TB the same
    shape serves per-series spectra with (series, k) keys; full
    FFTs only pay off past ~1e4 points per series, far beyond any
    calendar frame.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "ed"
        )
    ).agg(F.count("*").cast("bigint").alias("y"))
    wn = Window.partitionBy()
    idx = daily.select(
        (F.row_number().over(Window.orderBy("ed")) - 1)
        .cast("bigint")
        .alias("t"),
        "y",
        F.count("*").over(wn).cast("bigint").alias("n"),
    )
    ks = spark.range(1, PERIODOGRAM_K + 1).select(
        F.col("id").cast("bigint").alias("k")
    )
    pi = float(_PI)
    arg = 2 * pi * F.col("k") * F.col("t") / F.col("n")
    ft = (
        idx.crossJoin(ks)
        .groupBy("k")
        .agg(
            F.max("n").alias("n"),
            F.sum(F.col("y") * F.cos(arg)).alias("re"),
            F.sum(F.col("y") * F.sin(arg)).alias("im"),
        )
    )
    pw = ft.select(
        "k",
        "n",
        (F.col("re") * F.col("re") + F.col("im") * F.col("im")).alias("p"),
    )
    tot = pw.agg(F.sum("p").alias("z"))
    return (
        pw.crossJoin(tot)
        .select(
            "k",
            F.col("n").alias("n_days"),
            F.round("p", 4).alias("power"),
            F.round(F.col("p") / F.col("z"), 6).alias("power_share"),
        )
        .orderBy("k")
    )


OR_Z95 = "1.959963984540054"  # Woolf CI quantile (literal)


@register(
    "q_stats_odds_ratio",
    oracle=f"""
    WITH u AS (
      SELECT CASE WHEN ((user_id * {FDR_HASH_A} + {FDR_HASH_B})
                        % {FDR_HASH_P}) % 2 = 0 THEN 1 ELSE 0 END AS a,
             CASE WHEN 2 * sum(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END)
                    > sum(CASE WHEN event_type IN ('click', 'view')
                               THEN 1 ELSE 0 END)
                  THEN 1 ELSE 0 END AS s
      FROM events GROUP BY user_id
    ),
    cells AS (
      SELECT CAST(sum(a * s) AS BIGINT) AS c11,
             CAST(sum(a * (1 - s)) AS BIGINT) AS c10,
             CAST(sum((1 - a) * s) AS BIGINT) AS c01,
             CAST(sum((1 - a) * (1 - s)) AS BIGINT) AS c00
      FROM u
    )
    SELECT c11, c10, c01, c00,
           CAST(c11 * c00 AS DOUBLE) / (c10 * c01) AS odds_ratio,
           round(ln(CAST(c11 * c00 AS DOUBLE) / (c10 * c01))
                 - {OR_Z95} * sqrt(1.0/c11 + 1.0/c10
                                   + 1.0/c01 + 1.0/c00), 6)
               AS log_or_ci_lo,
           round(ln(CAST(c11 * c00 AS DOUBLE) / (c10 * c01))
                 + {OR_Z95} * sqrt(1.0/c11 + 1.0/c10
                                   + 1.0/c01 + 1.0/c00), 6)
               AS log_or_ci_hi
    FROM cells
    """,
)
def q_stats_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 odds ratio with the Woolf log-OR 95% CI for the A/B
    variant vs the purchase-majority outcome: OR = (c11 c00)/(c10
    c01), CI = ln OR +/- 1.96 sqrt(sum of 1/cell) - the EFFECT-SIZE
    companion to q_stats_chi2's significance (epidemiology's
    default summary; a CI excluding 0 on the log scale is the
    decision). Cells, OR (unrounded) and the log-scale CI bounds.

    Exactness: the four cells are int64 from one conditional agg;
    OR is ONE division of exact integer products (bounded by N^2);
    the CI needs ln (the libm surface, 6dp-rounded per the PSI
    rule) and one sqrt of a 4-term reciprocal sum - identical tree
    in both engines.

    Scale shape: fact -> per-user agg -> 1-row cell agg ->
    projection arithmetic. 100 TB: identical; stratified
    (Mantel-Haenszel) variants widen the cell key by the stratum.
    """
    e = table(spark, sf_dir, "events")
    is_purch = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    is_cv = F.when(F.col("event_type").isin("click", "view"), 1).otherwise(0)
    u = e.groupBy("user_id").agg(
        F.when(2 * F.sum(is_purch) > F.sum(is_cv), 1)
        .otherwise(0)
        .alias("s")
    ).select(
        F.expr(
            f"CASE WHEN ((user_id * {FDR_HASH_A} + {FDR_HASH_B})"
            f" % {FDR_HASH_P}) % 2 = 0 THEN 1 ELSE 0 END"
        ).alias("a"),
        "s",
    )
    cells = u.agg(
        F.sum(F.col("a") * F.col("s")).cast("bigint").alias("c11"),
        F.sum(F.col("a") * (1 - F.col("s"))).cast("bigint").alias("c10"),
        F.sum((1 - F.col("a")) * F.col("s")).cast("bigint").alias("c01"),
        F.sum((1 - F.col("a")) * (1 - F.col("s")))
        .cast("bigint")
        .alias("c00"),
    )
    orr = (F.col("c11") * F.col("c00")).cast("double") / (
        F.col("c10") * F.col("c01")
    )
    se = F.sqrt(
        1.0 / F.col("c11")
        + 1.0 / F.col("c10")
        + 1.0 / F.col("c01")
        + 1.0 / F.col("c00")
    )
    z = float(OR_Z95)
    return cells.select(
        "c11",
        "c10",
        "c01",
        "c00",
        orr.alias("odds_ratio"),
        F.round(F.log(orr) - z * se, 6).alias("log_or_ci_lo"),
        F.round(F.log(orr) + z * se, 6).alias("log_or_ci_hi"),
    )


@register(
    "q_stats_mantel_haenszel",
    oracle=f"""
    WITH u AS (
      SELECT user_id % {SIMPSON_STRATA} AS stratum,
             CASE WHEN ((user_id * {FDR_HASH_A} + {FDR_HASH_B})
                        % {FDR_HASH_P}) % 2 = 0 THEN 1 ELSE 0 END AS a,
             CASE WHEN 2 * sum(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END)
                    > sum(CASE WHEN event_type IN ('click', 'view')
                               THEN 1 ELSE 0 END)
                  THEN 1 ELSE 0 END AS s
      FROM events GROUP BY user_id
    ),
    cells AS (
      SELECT CAST(stratum AS BIGINT) AS stratum,
             CAST(sum(a * s) AS BIGINT) AS c11,
             CAST(sum(a * (1 - s)) AS BIGINT) AS c10,
             CAST(sum((1 - a) * s) AS BIGINT) AS c01,
             CAST(sum((1 - a) * (1 - s)) AS BIGINT) AS c00
      FROM u GROUP BY stratum
    ),
    mh AS (
      SELECT sum(CAST(c11 * c00 AS DOUBLE) / (c11 + c10 + c01 + c00))
                 AS num,
             sum(CAST(c10 * c01 AS DOUBLE) / (c11 + c10 + c01 + c00))
                 AS den
      FROM cells
    )
    SELECT c.stratum, c.c11, c.c10, c.c01, c.c00,
           CAST(c.c11 * c.c00 AS DOUBLE) / (c.c10 * c.c01)
               AS stratum_or,
           round(m.num / m.den, 6) AS mh_pooled_or
    FROM cells c CROSS JOIN mh m ORDER BY c.stratum
    """,
)
def q_stats_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio across the user-cohort
    strata: OR_MH = sum_s(c11 c00/n_s) / sum_s(c10 c01/n_s) - the
    CORRECT way to pool q_stats_odds_ratio's 2x2 effect across
    q_stats_simpson_check's strata (a raw pooled OR inherits
    exactly the confounding Simpson's audit flags; MH weights each
    stratum's cross-products by its size and is the epidemiology
    standard). Per-stratum cells and ORs beside the pooled MH.

    Exactness: cells int64; each stratum OR is ONE exact-product
    division (unrounded); the MH numerator/denominator are 3-term
    sums of exact-product ratios - the one order surface, behind
    the 6dp round.

    Scale shape: fact -> user agg -> (stratum) cell agg -> 1-row MH
    broadcast. 100 TB: identical.
    """
    e = table(spark, sf_dir, "events")
    is_purch = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    is_cv = F.when(F.col("event_type").isin("click", "view"), 1).otherwise(0)
    u = e.groupBy("user_id").agg(
        F.when(2 * F.sum(is_purch) > F.sum(is_cv), 1)
        .otherwise(0)
        .alias("s")
    ).select(
        (F.col("user_id") % SIMPSON_STRATA).cast("bigint").alias(
            "stratum"
        ),
        F.expr(
            f"CASE WHEN ((user_id * {FDR_HASH_A} + {FDR_HASH_B})"
            f" % {FDR_HASH_P}) % 2 = 0 THEN 1 ELSE 0 END"
        ).alias("a"),
        "s",
    )
    cells = u.groupBy("stratum").agg(
        F.sum(F.col("a") * F.col("s")).cast("bigint").alias("c11"),
        F.sum(F.col("a") * (1 - F.col("s"))).cast("bigint").alias("c10"),
        F.sum((1 - F.col("a")) * F.col("s")).cast("bigint").alias("c01"),
        F.sum((1 - F.col("a")) * (1 - F.col("s")))
        .cast("bigint")
        .alias("c00"),
    )
    n_s = F.col("c11") + F.col("c10") + F.col("c01") + F.col("c00")
    mh = cells.agg(
        F.sum((F.col("c11") * F.col("c00")).cast("double") / n_s).alias(
            "num"
        ),
        F.sum((F.col("c10") * F.col("c01")).cast("double") / n_s).alias(
            "den"
        ),
    )
    return (
        cells.crossJoin(mh)
        .select(
            "stratum",
            "c11",
            "c10",
            "c01",
            "c00",
            (
                (F.col("c11") * F.col("c00")).cast("double")
                / (F.col("c10") * F.col("c01"))
            ).alias("stratum_or"),
            F.round(F.col("num") / F.col("den"), 6).alias("mh_pooled_or"),
        )
        .orderBy("stratum")
    )


LB_LAGS = 3
LB_CHI2_95_DF3 = "7.814727903251179"  # literal critical value


@register(
    "q_stats_ljung_box",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s
      FROM daily GROUP BY event_type
    ),
    u AS (
      SELECT d.event_type, d.ed, t.n,
             CAST(t.n * d.y - t.s AS BIGINT) AS u
      FROM daily d JOIN tot t ON d.event_type = t.event_type
    ),
    lagged AS (
      SELECT event_type, n, u,
             lag(u, 1) OVER w AS u1,
             lag(u, 2) OVER w AS u2,
             lag(u, 3) OVER w AS u3
      FROM u WINDOW w AS (PARTITION BY event_type ORDER BY ed)
    ),
    sums AS (
      SELECT event_type, max(n) AS n,
             CAST(sum(u * u) AS BIGINT) AS d0,
             CAST(sum(u * u1) AS BIGINT) AS c1,
             CAST(sum(u * u2) AS BIGINT) AS c2,
             CAST(sum(u * u3) AS BIGINT) AS c3
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           round(CAST(c1 AS DOUBLE) / d0, 6) AS r1,
           round(CAST(c2 AS DOUBLE) / d0, 6) AS r2,
           round(CAST(c3 AS DOUBLE) / d0, 6) AS r3,
           round(n * (n + 2.0)
                 * ((CAST(c1 AS DOUBLE) / d0) * (CAST(c1 AS DOUBLE) / d0)
                      / (n - 1)
                    + (CAST(c2 AS DOUBLE) / d0) * (CAST(c2 AS DOUBLE) / d0)
                      / (n - 2)
                    + (CAST(c3 AS DOUBLE) / d0) * (CAST(c3 AS DOUBLE) / d0)
                      / (n - 3)), 6) AS q_stat,
           CASE WHEN n * (n + 2.0)
                 * ((CAST(c1 AS DOUBLE) / d0) * (CAST(c1 AS DOUBLE) / d0)
                      / (n - 1)
                    + (CAST(c2 AS DOUBLE) / d0) * (CAST(c2 AS DOUBLE) / d0)
                      / (n - 2)
                    + (CAST(c3 AS DOUBLE) / d0) * (CAST(c3 AS DOUBLE) / d0)
                      / (n - 3)) > {LB_CHI2_95_DF3}
                THEN 1 ELSE 0 END AS reject_white_noise
    FROM sums ORDER BY event_type
    """,
)
def q_stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (lags 1-3) per event type's daily
    count series: Q = n(n+2) sum_k r_k^2/(n-k) against the literal
    chi-squared df=3 95% critical value - the JOINT "is there ANY
    autocorrelation" test that q_stats_autocorr's per-lag readout
    and q_stats_runs_test's sign-only test both feed into (the
    standard residual-whiteness gate after fitting
    q_stats_ols_trend / q_events_holt_winters).

    Exactness: the centered series is scaled by n so u_t = n*y_t -
    S is EXACT int64 (the brown-forsythe common-denominator trick);
    every autocovariance and the denominator are exact int64
    products, so each r_k is ONE division; Q composes r_k^2 terms
    through the identical tree (3-term sum, 6dp round) and the
    reject flag compares the unrounded Q to a literal - no
    chi-squared CDF evaluation needed.

    Scale shape: one fact rollup; totals broadcast back; one
    per-series lag window over the bounded daily frame; power-sum
    agg. 100 TB: identical.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "ed"
        ),
    ).agg(F.count("*").cast("bigint").alias("y"))
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    u = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "ed",
        "n",
        (F.col("n") * F.col("y") - F.col("s")).cast("bigint").alias("u"),
    )
    w = Window.partitionBy("event_type").orderBy("ed")
    lagged = u.select(
        "event_type",
        "n",
        "u",
        F.lag("u", 1).over(w).alias("u1"),
        F.lag("u", 2).over(w).alias("u2"),
        F.lag("u", 3).over(w).alias("u3"),
    )
    sums = lagged.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(F.col("u") * F.col("u")).cast("bigint").alias("d0"),
        F.sum(F.col("u") * F.col("u1")).cast("bigint").alias("c1"),
        F.sum(F.col("u") * F.col("u2")).cast("bigint").alias("c2"),
        F.sum(F.col("u") * F.col("u3")).cast("bigint").alias("c3"),
    )
    n = F.col("n")
    r = [
        F.col(f"c{k}").cast("double") / F.col("d0") for k in (1, 2, 3)
    ]
    q = n * (n + 2.0) * (
        r[0] * r[0] / (n - 1) + r[1] * r[1] / (n - 2) + r[2] * r[2] / (n - 3)
    )
    return sums.select(
        "event_type",
        n.cast("bigint").alias("n_days"),
        F.round(r[0], 6).alias("r1"),
        F.round(r[1], 6).alias("r2"),
        F.round(r[2], 6).alias("r3"),
        F.round(q, 6).alias("q_stat"),
        F.when(q > float(LB_CHI2_95_DF3), 1).otherwise(0).alias(
            "reject_white_noise"
        ),
    ).orderBy("event_type")


@register(
    "q_stats_weibull_fit",
    oracle="""
    WITH conv AS (
      SELECT user_id,
             CAST(min(epoch_ms(ts)) // 100 AS BIGINT) AS t0,
             CAST(min(CASE WHEN event_type = 'purchase'
                      THEN epoch_ms(ts) END) // 100 AS BIGINT) AS tp
      FROM events GROUP BY user_id
    ),
    t AS (
      SELECT user_id, tp - t0 AS dt FROM conv
      WHERE tp IS NOT NULL AND tp > t0
    ),
    ranked AS (
      SELECT CAST(dt AS BIGINT) AS dt,
             CAST(row_number() OVER (ORDER BY dt, user_id) AS BIGINT)
                 AS i,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM t
    ),
    pts AS (
      SELECT ln(CAST(dt AS DOUBLE) / 10.0) AS x,
             ln(-ln(1.0 - (i - 0.38) / (n + 0.25))) AS y,
             n
      FROM ranked
    ),
    ols AS (
      SELECT max(n) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_converters,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
               AS shape_k,
           round(exp(-((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                        * sx) / n)
                     / ((n * sxy - sx * sy) / (n * sxx - sx * sx))), 4)
               AS scale_lambda_s
    FROM ols
    """,
)
def q_stats_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull time-to-convert fit by median-rank regression
    (Benard's approximation): per user, the delay from first event
    to FIRST PURCHASE; sorted delays get plotting positions F_i =
    (i-.38)/(n+.25) and ln(-ln(1-F)) regresses on ln t - shape k
    (k<1 says conversion hazard DECAYS: convert early or never;
    k>1 says it accumulates) and scale lambda (the 63.2% quantile
    in seconds) - the PARAMETRIC summary q_events_survival_km's
    nonparametric curve can't extrapolate from, and the standard
    reliability-engineering fit run exactly this way (least-squares
    on Weibull paper).

    Exactness: delays are integer DECISECONDS (the
    q_events_burstiness protocol); ranks/n integer; x/y are ln
    trees of exact inputs (libm + |converters|-term OLS sums behind
    the 6dp/4dp output rounds, the q_stats_ols_trend rule).

    Scale shape: one per-user two-conditional-min agg, one global
    rank window over CONVERTERS only (TakeOrdered-scale; the
    sf-invariant user frame), 1-row power-sum fit. 100 TB: rank
    swaps to approx plotting positions by equi-depth bin, same
    algebra.
    """
    e = table(spark, sf_dir, "events")
    ds = F.expr("unix_millis(ts) div 100")
    conv = e.groupBy("user_id").agg(
        F.min(ds).cast("bigint").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", ds))
        .cast("bigint")
        .alias("tp"),
    )
    t = conv.filter(
        F.col("tp").isNotNull() & (F.col("tp") > F.col("t0"))
    ).select("user_id", (F.col("tp") - F.col("t0")).alias("dt"))
    # Distributed rank (r7): bucketed two-pass plotting positions
    # instead of an unpartitioned window over the converter frame
    # (r6 audit finding).
    ranked = global_order(
        t.select(F.col("dt").cast("bigint").alias("dt"), "user_id"),
        "dt", [F.col("dt"), F.col("user_id")],
        rank_name="i", total_name="n",
    )
    x = F.log(F.col("dt").cast("double") / 10.0)
    y = F.log(-F.log(1.0 - (F.col("i") - 0.38) / (F.col("n") + 0.25)))
    ols = ranked.agg(
        F.max("n").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return ols.select(
        n.cast("bigint").alias("n_converters"),
        F.round(slope, 6).alias("shape_k"),
        F.round(F.exp(-intercept / slope), 4).alias("scale_lambda_s"),
    )


@register(
    "q_stats_entropy_rate",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    pairs AS (
      SELECT prev AS src, event_type AS dst,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
    ),
    m AS (
      SELECT src, CAST(sum(n) AS BIGINT) AS n_src FROM pairs
      GROUP BY src
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM pairs),
    terms AS (
      SELECT p.src, p.dst, p.n, m.n_src, t.nn,
             -(CAST(p.n AS DOUBLE) / t.nn)
               * ln(CAST(p.n AS DOUBLE) / m.n_src) AS h
      FROM pairs p JOIN m ON p.src = m.src CROSS JOIN tot t
    ),
    rate AS (SELECT round(sum(h), 6) AS entropy_rate FROM terms),
    h0 AS (
      SELECT round(-sum((CAST(n_src AS DOUBLE) / nn)
                        * ln(CAST(n_src AS DOUBLE) / nn)), 6) AS h_marginal
      FROM m CROSS JOIN tot
    )
    SELECT r.entropy_rate, h.h_marginal,
           round(r.entropy_rate / h.h_marginal, 6) AS predictability_gain
    FROM rate r CROSS JOIN h0 h
    """,
)
def q_stats_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order entropy rate of the per-user event stream:
    H(X_t | X_{t-1}) = -sum_{s,t} p(s,t) ln p(t|s), next to the
    marginal entropy H(X) and their ratio - the information-theoretic
    "how predictable is the next action given the last one" (ratio
    1 = the chain adds nothing over the base rates; << 1 = strong
    sequential structure), the summary number behind
    q_events_transition's full matrix and the justification for any
    Markov model on this data (q_events_markov_*).

    Exactness: transition and marginal counts are exact int64 from
    one lag window + two-phase aggs; each term is integer ratios
    through ln (the libm surface), summed over the bounded
    |types|^2 frame behind the 6dp round (PSI rule).

    Scale shape: one per-user ordered window pass (the burstiness
    posture) -> 25-cell two-phase agg -> bounded-frame arithmetic.
    100 TB: identical.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    pairs = seq.groupBy(
        F.col("prev").alias("src"), F.col("event_type").alias("dst")
    ).agg(F.count("*").cast("bigint").alias("n"))
    m = pairs.groupBy("src").agg(
        F.sum("n").cast("bigint").alias("n_src")
    )
    tot = pairs.agg(F.sum("n").cast("bigint").alias("nn"))
    terms = (
        pairs.join(F.broadcast(m), "src")
        .crossJoin(tot)
        .select(
            (
                -(F.col("n").cast("double") / F.col("nn"))
                * F.log(F.col("n").cast("double") / F.col("n_src"))
            ).alias("h")
        )
    )
    rate = terms.agg(F.round(F.sum("h"), 6).alias("entropy_rate"))
    h0 = (
        m.crossJoin(tot)
        .agg(
            F.round(
                -F.sum(
                    (F.col("n_src").cast("double") / F.col("nn"))
                    * F.log(F.col("n_src").cast("double") / F.col("nn"))
                ),
                6,
            ).alias("h_marginal")
        )
    )
    return rate.crossJoin(h0).select(
        "entropy_rate",
        "h_marginal",
        F.round(
            F.col("entropy_rate") / F.col("h_marginal"), 6
        ).alias("predictability_gain"),
    )


HURST_WINDOWS = (5, 10, 15)


@register(
    "q_stats_hurst",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    idx AS (
      SELECT CAST(row_number() OVER (ORDER BY ed) - 1 AS BIGINT) AS t, y
      FROM daily
    ),
    chunked AS (
      SELECT w.w, t // w.w AS chunk, t, y
      FROM idx CROSS JOIN (SELECT unnest([{", ".join(str(w) for w in HURST_WINDOWS)}]) AS w) w
      WHERE t < (SELECT count(*) FROM idx) // w.w * w.w
    ),
    stats AS (
      SELECT w, chunk, CAST(sum(y) AS BIGINT) AS s1,
             CAST(sum(y * y) AS BIGINT) AS s2
      FROM chunked GROUP BY w, chunk
    ),
    running AS (
      SELECT c.w, c.chunk, s.s1, s.s2,
             sum(c.w * c.y - s.s1) OVER (
               PARTITION BY c.w, c.chunk ORDER BY c.t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu
      FROM chunked c JOIN stats s ON c.w = s.w AND c.chunk = s.chunk
    ),
    cum AS (
      SELECT w, chunk,
             CAST(max(cu) - min(cu) AS BIGINT) AS range_u,
             CAST(max(s1) AS BIGINT) AS s1,
             CAST(max(s2) AS BIGINT) AS s2
      FROM running GROUP BY w, chunk
    ),
    rs AS (
      SELECT CAST(w AS BIGINT) AS w,
             avg(CAST(range_u AS DOUBLE)
                 / sqrt(CAST(w * s2 - s1 * s1 AS DOUBLE))) AS mean_rs,
             CAST(count(*) AS BIGINT) AS n_chunks
      FROM cum WHERE w * s2 - s1 * s1 > 0
      GROUP BY w
    ),
    fit AS (
      SELECT count(*) AS k, sum(ln(CAST(w AS DOUBLE))) AS sx,
             sum(ln(mean_rs)) AS sy,
             sum(ln(CAST(w AS DOUBLE)) * ln(mean_rs)) AS sxy,
             sum(ln(CAST(w AS DOUBLE)) * ln(CAST(w AS DOUBLE))) AS sxx
      FROM rs
    )
    SELECT r.w, r.n_chunks, round(r.mean_rs, 6) AS mean_rs,
           round((f.k * f.sxy - f.sx * f.sy)
                 / (f.k * f.sxx - f.sx * f.sx), 6) AS hurst_h
    FROM rs r CROSS JOIN fit f ORDER BY r.w
    """,
)
def q_stats_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily purchase revenue by rescaled-range
    (R/S) analysis: chunk the series at window sizes 5/10/15 days,
    compute each chunk's cumulative-deviation range over its
    standard deviation, and fit ln E[R/S] ~ H ln w - the
    long-memory diagnostic (H = 0.5 random walk, > 0.5 persistent
    trends, < 0.5 mean-reverting) behind q_stats_runs_test's
    binary verdict and q_stats_autocorr's short-lag view; H is
    what decides whether q_win_moving_avg windows can be trusted
    to converge. Per-window mean R/S rows with the fitted H.

    Exactness: with u_t = w*y_t - S_chunk (exact int64,
    common-denominator centering), the chunk's R/S collapses to
    range(cumsum u) / sqrt(w*S2 - S1^2) - INTEGER numerator over
    one sqrt of an exact integer, so each chunk ratio is one IEEE
    division (w*S2 headroom holds through sf1; beyond, dollars);
    the per-w mean (<= 6 chunks) and the 3-point ln fit sit behind
    the 6dp rounds.

    Scale shape: one fact rollup, a 3x expansion of the bounded
    daily frame, per-(w, chunk) window cumsums, bounded aggs.
    100 TB: identical; per-series H widens the partition key.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "ed"
        )
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
          .cast("bigint").alias("y"))
    idx = daily.select(
        (F.row_number().over(Window.orderBy("ed")) - 1)
        .cast("bigint")
        .alias("t"),
        "y",
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("nn"),
    )
    ws = spark.createDataFrame(
        [(w,) for w in HURST_WINDOWS], "w long"
    )
    chunked = (
        idx.crossJoin(F.broadcast(ws))
        .filter(F.col("t") < F.expr("nn div w * w"))
        .select("w", F.expr("t div w").alias("chunk"), "t", "y")
    )
    stats = chunked.groupBy("w", "chunk").agg(
        F.sum("y").cast("bigint").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("s2"),
    )
    win = (
        Window.partitionBy("w", "chunk")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        chunked.join(stats, ["w", "chunk"])
        .select(
            "w",
            "chunk",
            "t",
            "s1",
            "s2",
            F.sum(F.col("w") * F.col("y") - F.col("s1"))
            .over(win)
            .alias("cu"),
        )
        .groupBy("w", "chunk")
        .agg(
            (F.max("cu") - F.min("cu")).cast("bigint").alias("range_u"),
            F.max("s1").alias("s1"),
            F.max("s2").alias("s2"),
        )
    )
    rs = (
        cum.filter(
            F.col("w") * F.col("s2") - F.col("s1") * F.col("s1") > 0
        )
        .groupBy(F.col("w").cast("bigint").alias("w"))
        .agg(
            F.avg(
                F.col("range_u").cast("double")
                / F.sqrt(
                    (
                        F.col("w") * F.col("s2")
                        - F.col("s1") * F.col("s1")
                    ).cast("double")
                )
            ).alias("mean_rs"),
            F.count("*").cast("bigint").alias("n_chunks"),
        )
    )
    lx = F.log(F.col("w").cast("double"))
    ly = F.log(F.col("mean_rs"))
    fit = rs.agg(
        F.count("*").alias("k"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
    )
    h = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        rs.crossJoin(fit)
        .select(
            "w",
            "n_chunks",
            F.round("mean_rs", 6).alias("mean_rs"),
            F.round(h, 6).alias("hurst_h"),
        )
        .orderBy("w")
    )


MSPRT_TAU = "1.0"  # mixture variance (the tuning parameter)
MSPRT_ALPHA_INV = 20.0  # reject when Lambda > 1/alpha (alpha = .05)


@register(
    "q_stats_msprt",
    oracle=f"""
    WITH u AS (
      SELECT CASE WHEN ((user_id * {FDR_HASH_A} + {FDR_HASH_B})
                        % {FDR_HASH_P}) % 2 = 0 THEN 1 ELSE 0 END AS a,
             CASE WHEN 2 * sum(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END)
                    > sum(CASE WHEN event_type IN ('click', 'view')
                               THEN 1 ELSE 0 END)
                  THEN 1 ELSE 0 END AS s
      FROM events GROUP BY user_id
    ),
    agg AS (
      SELECT CAST(sum(a) AS BIGINT) AS na,
             CAST(sum(a * s) AS BIGINT) AS ka,
             CAST(count(*) - sum(a) AS BIGINT) AS nb,
             CAST(sum((1 - a) * s) AS BIGINT) AS kb
      FROM u
    ),
    z AS (
      SELECT na, nb, ka, kb,
             (CAST(kb AS DOUBLE) / nb - CAST(ka AS DOUBLE) / na) AS d,
             (CAST(ka + kb AS DOUBLE) / (na + nb))
               * (1.0 - CAST(ka + kb AS DOUBLE) / (na + nb))
               * (1.0 / na + 1.0 / nb) AS v
      FROM agg
    )
    SELECT na, nb, ka, kb, round(d, 6) AS diff,
           round(sqrt(v / (v + {MSPRT_TAU}))
                 * exp({MSPRT_TAU} * d * d
                       / (2.0 * v * (v + {MSPRT_TAU}))), 6)
               AS mixture_lr,
           CASE WHEN sqrt(v / (v + {MSPRT_TAU}))
                     * exp({MSPRT_TAU} * d * d
                           / (2.0 * v * (v + {MSPRT_TAU})))
                     > {MSPRT_ALPHA_INV} THEN 1 ELSE 0 END AS reject
    FROM z
    """,
)
def q_stats_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sequential probability ratio test (mSPRT, the
    always-valid inference behind "peeking-safe" experiment
    dashboards - Johari et al. 2017): the Gaussian-mixture
    likelihood ratio Lambda = sqrt(v/(v+tau)) * exp(tau d^2 /
    (2 v (v+tau))) for the B-A conversion difference, with the
    level-alpha decision Lambda > 1/alpha - unlike
    q_events_ab_welch's fixed-horizon t, this statistic can be
    monitored CONTINUOUSLY and rejected the moment it crosses,
    with type-I error still controlled at alpha.

    Exactness: counts int64 from one per-user agg; d and v are
    integer-division compositions; exp is the one libm surface
    (6dp-rounded, the FDR rule) and the reject flag compares the
    unrounded Lambda to a literal.

    Scale shape: fact -> user agg -> 1-row arithmetic; streaming
    deployments recompute the same 1-row frame per micro-batch
    (s_stateful_running is that harness). 100 TB: identical.
    """
    e = table(spark, sf_dir, "events")
    is_purch = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    is_cv = F.when(F.col("event_type").isin("click", "view"), 1).otherwise(0)
    u = e.groupBy("user_id").agg(
        F.when(2 * F.sum(is_purch) > F.sum(is_cv), 1)
        .otherwise(0)
        .alias("s")
    ).select(
        F.expr(
            f"CASE WHEN ((user_id * {FDR_HASH_A} + {FDR_HASH_B})"
            f" % {FDR_HASH_P}) % 2 = 0 THEN 1 ELSE 0 END"
        ).alias("a"),
        "s",
    )
    agg = u.agg(
        F.sum("a").cast("bigint").alias("na"),
        F.sum(F.col("a") * F.col("s")).cast("bigint").alias("ka"),
        (F.count("*") - F.sum("a")).cast("bigint").alias("nb"),
        F.sum((1 - F.col("a")) * F.col("s")).cast("bigint").alias("kb"),
    )
    d = F.col("kb").cast("double") / F.col("nb") - F.col("ka").cast(
        "double"
    ) / F.col("na")
    pool = (F.col("ka") + F.col("kb")).cast("double") / (
        F.col("na") + F.col("nb")
    )
    v = pool * (1.0 - pool) * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    tau = float(MSPRT_TAU)
    lam = F.sqrt(v / (v + tau)) * F.exp(
        tau * d * d / (2.0 * v * (v + tau))
    )
    return agg.select(
        "na",
        "nb",
        "ka",
        "kb",
        F.round(d, 6).alias("diff"),
        F.round(lam, 6).alias("mixture_lr"),
        F.when(lam > MSPRT_ALPHA_INV, 1).otherwise(0).alias("reject"),
    )


DKW_LN_2_OVER_ALPHA = "3.6888794541139363"  # ln(2/.05), literal


@register(
    "q_stats_dkw_band",
    oracle=f"""
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             o_orderkey AS k
      FROM orders
    ),
    r AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, k) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM v
    ),
    deciles AS (
      SELECT CAST(d.d AS BIGINT) AS decile, r.cents, r.n,
             CAST(r.rn AS DOUBLE) / r.n AS ecdf
      FROM r JOIN (SELECT unnest(range(1, 10)) AS d) d
        ON r.rn = (d.d * r.n + 9) // 10
    )
    SELECT decile, cents AS value_cents,
           ecdf,
           greatest(0.0, ecdf - sqrt({DKW_LN_2_OVER_ALPHA} / (2.0 * n)))
               AS band_lo,
           least(1.0, ecdf + sqrt({DKW_LN_2_OVER_ALPHA} / (2.0 * n)))
               AS band_hi
    FROM deciles ORDER BY decile
    """,
)
def q_stats_dkw_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dvoretzky-Kiefer-Wolfowitz 95% confidence band around the
    order-value ECDF, evaluated at its deciles: the UNIFORM bound
    sup|F_n - F| <= sqrt(ln(2/alpha)/2n) that holds simultaneously
    at every point - the honest error bar on any empirical
    distribution readout (q_agg_percentile, q_stats_ks_test's
    statistic lives in exactly this band), and what a dashboard
    should shade behind an ECDF curve instead of pointwise
    binomial bars.

    Exactness: decile evaluation points are integer rank picks
    (ceil(d*n/10), the winsorized protocol); ecdf = rn/n is ONE
    integer division; the half-width needs one sqrt of a
    literal/integer ratio - identical trees, unrounded; the clamp
    is exact.

    Scale shape: one ordered rank window (TakeOrdered-scale for
    fixed evaluation points), 9-row output. 100 TB: the rank swaps
    for approx_percentile evaluation points; the band formula is
    n-only and unchanged.
    """
    o = table(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
        F.col("o_orderkey").alias("k"),
    )
    # Distributed rank (r7): bucketed two-pass row_number instead of
    # an unpartitioned window over the fact frame (r6 audit finding).
    r = global_order(
        v, "cents", [F.col("cents"), F.col("k")],
        rank_name="rn", total_name="n",
    )
    ds = spark.range(1, 10).select(F.col("id").cast("bigint").alias("d"))
    deciles = r.join(
        ds, F.col("rn") == F.expr("(d * n + 9) div 10")
    )
    eps = F.sqrt(float(DKW_LN_2_OVER_ALPHA) / (2.0 * F.col("n")))
    ecdf = F.col("rn").cast("double") / F.col("n")
    return deciles.select(
        F.col("d").alias("decile"),
        F.col("cents").alias("value_cents"),
        ecdf.alias("ecdf"),
        F.greatest(F.lit(0.0), ecdf - eps).alias("band_lo"),
        F.least(F.lit(1.0), ecdf + eps).alias("band_hi"),
    ).orderBy("decile")


@register(
    "q_stats_friedman",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             event_type,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM events GROUP BY 1, 2
    ),
    complete AS (
      SELECT ed FROM daily GROUP BY ed
      HAVING count(*) = (SELECT count(DISTINCT event_type) FROM daily)
    ),
    ranked AS (
      SELECT d.ed, d.event_type,
             CAST(rank() OVER (PARTITION BY d.ed ORDER BY d.cents)
                  AS BIGINT) AS rk
      FROM daily d JOIN complete c ON d.ed = c.ed
    ),
    sums AS (
      SELECT event_type, CAST(sum(rk) AS BIGINT) AS r_sum,
             CAST(count(*) AS BIGINT) AS n_blocks
      FROM ranked GROUP BY event_type
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(max(n_blocks) AS BIGINT) AS n,
             CAST(sum(r_sum * r_sum) AS BIGINT) AS ssq
      FROM sums
    )
    SELECT s.event_type, s.r_sum, g.n AS n_blocks, g.k,
           round(12.0 * g.ssq / (g.n * g.k * (g.k + 1))
                 - 3.0 * g.n * (g.k + 1), 6) AS friedman_q
    FROM sums s CROSS JOIN g ORDER BY s.event_type
    """,
)
def q_stats_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test across event types with DAYS as blocks: is
    any type's daily revenue systematically higher once day-level
    shocks are removed? Each complete day ranks its five types'
    revenues; Q = 12/(nk(k+1)) sum R_j^2 - 3n(k+1) is the k-sample
    repeated-measures generalization of the sign test - the
    nonparametric sibling of q_stats_anova when the same blocks
    (days) are measured under every treatment (the within-block
    ranking removes the day effect ANOVA would pool into error).
    Per-type rank sums with the shared Q.

    Exactness: revenue cents are exact ints so within-day ranks
    are exact (ties share min rank - integer cents make true ties
    measure-zero and rank() handles them identically in both
    engines); rank sums and their squares are int64; Q is composed
    of integer ratios (6dp round on the final value only).
    Incomplete days (a type absent) are excluded - the standard
    complete-block requirement.

    Scale shape: one (day, type) rollup, a bounded-frame semi-join
    for complete blocks, per-day rank windows over 5-row
    partitions, one agg. 100 TB: identical.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "ed"
        ),
        "event_type",
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    k_types = daily.agg(
        F.count_distinct(F.col("event_type")).alias("kk")
    )
    complete = (
        daily.groupBy("ed")
        .agg(F.count("*").alias("ct"))
        .crossJoin(k_types)
        .filter(F.col("ct") == F.col("kk"))
        .select("ed")
    )
    ranked = daily.join(F.broadcast(complete), "ed").select(
        "ed",
        "event_type",
        F.rank()
        .over(Window.partitionBy("ed").orderBy("cents"))
        .cast("bigint")
        .alias("rk"),
    )
    sums = ranked.groupBy("event_type").agg(
        F.sum("rk").cast("bigint").alias("r_sum"),
        F.count("*").cast("bigint").alias("n_blocks"),
    )
    g = sums.agg(
        F.count("*").cast("bigint").alias("k"),
        F.max("n_blocks").cast("bigint").alias("n"),
        F.sum(F.col("r_sum") * F.col("r_sum")).cast("bigint").alias("ssq"),
    )
    q = (
        12.0
        * F.col("ssq")
        / (F.col("n") * F.col("k") * (F.col("k") + 1))
        - 3.0 * F.col("n") * (F.col("k") + 1)
    )
    return (
        sums.crossJoin(g)
        .select(
            "event_type",
            "r_sum",
            F.col("n").alias("n_blocks"),
            "k",
            F.round(q, 6).alias("friedman_q"),
        )
        .orderBy("event_type")
    )


@register(
    "q_stats_cronbach_alpha",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             event_type, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    complete AS (
      SELECT ed FROM daily GROUP BY ed
      HAVING count(*) = (SELECT count(DISTINCT event_type) FROM daily)
    ),
    item_var AS (
      SELECT d.event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d.y) AS BIGINT) AS s1,
             CAST(sum(d.y * d.y) AS BIGINT) AS s2
      FROM daily d JOIN complete c ON d.ed = c.ed
      GROUP BY d.event_type
    ),
    total AS (
      SELECT t.ed, CAST(sum(t.y) AS BIGINT) AS tot FROM (
        SELECT d.ed, d.y FROM daily d JOIN complete c ON d.ed = c.ed
      ) t GROUP BY t.ed
    ),
    tv AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(tot) AS BIGINT) AS s1,
             CAST(sum(tot * tot) AS BIGINT) AS s2
      FROM total
    ),
    g AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM item_var) AS k,
             (SELECT sum((CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE)
                          * s1) / (CAST(n AS DOUBLE) * n))
              FROM item_var) AS sum_item_var,
             (SELECT (CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * s1)
                     / (CAST(n AS DOUBLE) * n)
              FROM tv) AS total_var
    )
    SELECT k, round(sum_item_var, 6) AS sum_item_var,
           round(total_var, 6) AS total_var,
           round((CAST(k AS DOUBLE) / (k - 1))
                 * (1.0 - sum_item_var / total_var), 6)
               AS cronbach_alpha
    FROM g
    """,
)
def q_stats_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the five event-type daily-count series
    (items = types, cases = complete days): alpha = k/(k-1) * (1 -
    sum(item variances)/variance(total)) - the internal-consistency
    coefficient that says whether the five streams move together
    enough to justify a single "activity" composite metric (alpha
    >= .7 is the usual bar); the reliability-theory complement to
    q_agg_corr_matrix's pairwise view, and the measurement-quality
    gate before any composite KPI (q_events_kpi_tree) is trusted.

    Exactness: per-item and total power sums are exact int64 over
    integer counts; each population variance is the identical
    (S2*n - S1^2)/n^2 tree; the 5-term item-variance sum and final
    alpha sit behind 6dp rounds.

    Scale shape: one (day, type) rollup; the complete-block
    semi-join, a per-item agg, a per-day total agg, 1-row
    arithmetic. 100 TB: identical.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "ed"
        ),
        "event_type",
    ).agg(F.count("*").cast("bigint").alias("y"))
    k_types = daily.agg(
        F.count_distinct(F.col("event_type")).alias("kk")
    )
    complete = (
        daily.groupBy("ed")
        .agg(F.count("*").alias("ct"))
        .crossJoin(k_types)
        .filter(F.col("ct") == F.col("kk"))
        .select("ed")
    )
    blocked = daily.join(F.broadcast(complete), "ed")
    item_var = blocked.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("s2"),
    )
    pvar = (
        F.col("s2").cast("double") * F.col("n")
        - F.col("s1").cast("double") * F.col("s1")
    ) / (F.col("n").cast("double") * F.col("n"))
    siv = item_var.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum(pvar).alias("sum_item_var"),
    )
    total = blocked.groupBy("ed").agg(
        F.sum("y").cast("bigint").alias("tot")
    )
    tv = total.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("tot").cast("bigint").alias("s1"),
        F.sum(F.col("tot") * F.col("tot")).cast("bigint").alias("s2"),
    ).select(pvar.alias("total_var"))
    return (
        siv.crossJoin(tv)
        .select(
            "k",
            F.round("sum_item_var", 6).alias("sum_item_var"),
            F.round("total_var", 6).alias("total_var"),
            F.round(
                (F.col("k").cast("double") / (F.col("k") - 1))
                * (1.0 - F.col("sum_item_var") / F.col("total_var")),
                6,
            ).alias("cronbach_alpha"),
        )
    )


@register(
    "q_stats_kruskal_wallis",
    oracle="""
    WITH v AS (
      SELECT c_mktsegment AS seg,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    ranked AS (
      SELECT seg,
             CAST(2 * rank() OVER (ORDER BY x)
                  + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS r2
      FROM v
    ),
    g AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(r2) AS BIGINT) AS r2_sum
      FROM ranked GROUP BY seg
    ),
    t AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k
      FROM g
    ),
    ties AS (
      SELECT CAST(sum(c * c * c - c) AS BIGINT) AS tsum FROM (
        SELECT CAST(count(*) AS BIGINT) AS c FROM v GROUP BY x)
    )
    SELECT g.seg, g.n_g,
           round(CAST(g.r2_sum AS DOUBLE) / (2.0 * g.n_g), 4)
               AS mean_rank,
           round((12.0 / (CAST(t.n AS DOUBLE) * (t.n + 1))
                  * (SELECT sum(CAST(r2_sum AS DOUBLE) * r2_sum
                                / (4.0 * n_g)) FROM g)
                  - 3.0 * (t.n + 1))
                 / (1.0 - CAST(ties.tsum AS DOUBLE)
                          / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n)), 6)
               AS h_stat
    FROM g CROSS JOIN t CROSS JOIN ties ORDER BY g.seg
    """,
)
def q_stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test of order value across the five market
    segments: the k-sample rank generalization of Mann-Whitney
    (and the BETWEEN-groups nonparametric ANOVA - q_stats_friedman
    is its within-blocks sibling), with the standard tie
    correction H / (1 - sum(t^3-t)/(N^3-N)). Per-segment mean
    ranks plus the shared H.

    Exactness: tie-averaged ranks via the q_stats_spearman
    DOUBLED-rank trick (2*rank + ties - 1 is an exact INTEGER = 2x
    the average rank, so rank sums stay int64 and mean ranks are
    one division); the tie term is an exact int64 sum over
    distinct values; H composes integer ratios behind the 6dp
    round.

    Scale shape: the tie-averaged doubled rank 2*rank(x)+ties(x)-1
    is a pure function of the VALUE, so it lives on the distinct-
    value frame: a bucketed distributed cumulative count
    (operators/ranks.py - no unpartitioned window, which would be an
    Exchange SinglePartition single-task sort; the r6 audit finding)
    joined onto the (seg, x) count frame - per-seg rank sums are
    then Sum(count * r2) without ever ranking row-by-row. Two
    bounded aggs, 1-row arithmetic. 100 TB: distinct-frame cumsum +
    one (seg,x)-grain join; no single-task stage.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    v = o.join(
        c.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("x"),
    )
    # Distinct-value frame: per-value count, cumulative count, and
    # the doubled tie-averaged rank r2 = 2*cum - c + 1.
    gx = v.groupBy("x").agg(F.count("*").cast("bigint").alias("c"))
    gx = global_order(gx, "x", [F.col("x")], cumsum={"c": "cum"})
    r2f = gx.select(
        "x",
        (2 * F.col("cum") - F.col("c") + 1).cast("bigint").alias("r2"),
    )
    sx = v.groupBy("seg", "x").agg(
        F.count("*").cast("bigint").alias("cg")
    )
    g = (
        sx.join(r2f, "x")
        .groupBy("seg")
        .agg(
            F.sum("cg").cast("bigint").alias("n_g"),
            F.sum(F.col("cg") * F.col("r2")).cast("bigint").alias("r2_sum"),
        )
    )
    t = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
    )
    ties = gx.agg(
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("bigint")
        .alias("tsum")
    )
    hsum = g.agg(
        F.sum(
            F.col("r2_sum").cast("double")
            * F.col("r2_sum")
            / (4.0 * F.col("n_g"))
        ).alias("s")
    )
    n = F.col("n")
    h_raw = (
        12.0 / (n.cast("double") * (n + 1)) * F.col("s")
        - 3.0 * (n + 1)
    )
    corr = 1.0 - F.col("tsum").cast("double") / (
        n.cast("double") * n * n - n
    )
    return (
        g.crossJoin(t)
        .crossJoin(ties)
        .crossJoin(hsum)
        .select(
            "seg",
            "n_g",
            F.round(
                F.col("r2_sum").cast("double") / (2.0 * F.col("n_g")), 4
            ).alias("mean_rank"),
            F.round(h_raw / corr, 6).alias("h_stat"),
        )
        .orderBy("seg")
    )


TOL_GAMMA = "0.95"  # target population coverage


@register(
    "q_stats_tolerance_interval",
    oracle=f"""
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(min(cents) AS BIGINT) AS lo,
             CAST(max(cents) AS BIGINT) AS hi
      FROM v
    )
    SELECT n, lo AS lower_cents, hi AS upper_cents,
           round(1.0 - n * pow({TOL_GAMMA}, n - 1)
                     * (1.0 - {TOL_GAMMA})
                 - pow({TOL_GAMMA}, n), 6) AS confidence,
           CASE WHEN 1.0 - n * pow({TOL_GAMMA}, n - 1)
                      * (1.0 - {TOL_GAMMA})
                     - pow({TOL_GAMMA}, n) >= 0.95
                THEN 1 ELSE 0 END AS meets_95
    FROM g
    """,
)
def q_stats_tolerance_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric (distribution-free) tolerance interval: the
    sample (min, max) covers >= 95% of the POPULATION with
    confidence 1 - n g^(n-1)(1-g) - g^n (Wilks 1941, the
    order-statistic coverage identity) - the spec-limit statement
    engineering asks for ("95% of future values fall in this
    range, and how sure are we") that a confidence interval for
    the MEAN does not answer; the distribution-free sibling of
    q_stats_dkw_band's ECDF envelope.

    Exactness: the interval endpoints are exact integer min/max;
    the confidence is literal-gamma power arithmetic in n (pow is
    the libm surface behind the 6dp round); the meets_95 flag
    compares the unrounded expression.

    Scale shape: ONE min/max/count agg - footer-answerable at
    100 TB like q_quality_freshness; interior order-statistic
    variants (2nd smallest/largest) swap the agg for a rank pick.
    """
    o = table(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        )
    )
    g = v.agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("cents").cast("bigint").alias("lo"),
        F.max("cents").cast("bigint").alias("hi"),
    )
    gam = float(TOL_GAMMA)
    n = F.col("n")
    conf = (
        1.0
        - n * F.pow(F.lit(gam), n - 1) * (1.0 - gam)
        - F.pow(F.lit(gam), n)
    )
    return g.select(
        "n",
        F.col("lo").alias("lower_cents"),
        F.col("hi").alias("upper_cents"),
        F.round(conf, 6).alias("confidence"),
        F.when(conf >= 0.95, 1).otherwise(0).alias("meets_95"),
    )


JB_CHI2_95_DF2 = "5.991464547107979"  # literal critical value


@register(
    "q_stats_jarque_bera",
    oracle=f"""
    WITH v AS (
      SELECT c_mktsegment AS seg,
             CAST(round(o_totalprice, 0) AS BIGINT) AS x
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    s AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s1,
             CAST(sum(x * x) AS BIGINT) AS s2,
             sum(CAST(x AS DOUBLE) * x * x) AS s3,
             sum(CAST(x AS DOUBLE) * x * x * x) AS s4
      FROM v GROUP BY seg
    ),
    m AS (
      SELECT seg, n,
             CAST(s1 AS DOUBLE) / n AS m1,
             CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n)
               * (CAST(s1 AS DOUBLE) / n) AS m2,
             s3 / n - 3.0 * (CAST(s1 AS DOUBLE) / n)
               * (CAST(s2 AS DOUBLE) / n)
               + 2.0 * (CAST(s1 AS DOUBLE) / n)
                 * (CAST(s1 AS DOUBLE) / n)
                 * (CAST(s1 AS DOUBLE) / n) AS m3,
             s4 / n - 4.0 * (CAST(s1 AS DOUBLE) / n) * (s3 / n)
               + 6.0 * (CAST(s1 AS DOUBLE) / n)
                 * (CAST(s1 AS DOUBLE) / n)
                 * (CAST(s2 AS DOUBLE) / n)
               - 3.0 * (CAST(s1 AS DOUBLE) / n)
                 * (CAST(s1 AS DOUBLE) / n)
                 * (CAST(s1 AS DOUBLE) / n)
                 * (CAST(s1 AS DOUBLE) / n) AS m4
      FROM s
    ),
    jb AS (
      SELECT seg, n,
             m3 / (m2 * sqrt(m2)) AS skew,
             m4 / (m2 * m2) - 3.0 AS ex_kurt
      FROM m
    )
    SELECT seg, n, round(skew, 6) AS skewness,
           round(ex_kurt, 6) AS excess_kurtosis,
           round(n / 6.0 * (skew * skew
                            + ex_kurt * ex_kurt / 4.0), 6) AS jb_stat,
           CASE WHEN n / 6.0 * (skew * skew + ex_kurt * ex_kurt / 4.0)
                     > {JB_CHI2_95_DF2} THEN 1 ELSE 0 END
               AS reject_normality
    FROM jb ORDER BY seg
    """,
)
def q_stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per market segment: JB = n/6
    (skew^2 + excess_kurtosis^2/4) against the literal chi2_2 95%
    critical - the moment-based normality gate that tells you
    whether q_stats_anova/Welch's normal-theory machinery is even
    admissible on this column (q_stats_ks_test compares two
    samples; JB tests ONE sample against normal shape), built
    directly on the central-moment expansion q_agg_moments
    established.

    Exactness: whole-dollar int64 power sums through S2 (the
    brown-forsythe unit); S3/S4 carried as doubles BY DESIGN
    (dollar^4 exceeds int64 - the documented moment-family trade);
    the central-moment expansion is the identical tree in both
    engines behind 6dp rounds; the reject flag compares the
    unrounded statistic to a literal.

    Scale shape: ONE map-side-combining power-sum agg; everything
    after is 5-row projection arithmetic. 100 TB: identical.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    v = o.join(
        c.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice"), 0).cast("bigint").alias("x"),
    )
    xd = F.col("x").cast("double")
    s = v.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
        F.sum(xd * F.col("x") * F.col("x")).alias("s3"),
        F.sum(xd * F.col("x") * F.col("x") * F.col("x")).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - m1 * m1
    m3 = F.col("s3") / n - 3.0 * m1 * (F.col("s2").cast("double") / n) + 2.0 * m1 * m1 * m1
    m4 = (
        F.col("s4") / n
        - 4.0 * m1 * (F.col("s3") / n)
        + 6.0 * m1 * m1 * (F.col("s2").cast("double") / n)
        - 3.0 * m1 * m1 * m1 * m1
    )
    skew = m3 / (m2 * F.sqrt(m2))
    exk = m4 / (m2 * m2) - 3.0
    jb = n / 6.0 * (skew * skew + exk * exk / 4.0)
    return s.select(
        "seg",
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(exk, 6).alias("excess_kurtosis"),
        F.round(jb, 6).alias("jb_stat"),
        F.when(jb > float(JB_CHI2_95_DF2), 1)
        .otherwise(0)
        .alias("reject_normality"),
    ).orderBy("seg")


COOKS_TOPK = 5


@register(
    "q_stats_cooks_distance",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
             CAST(count(*) AS BIGINT) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    idx AS (
      SELECT CAST(row_number() OVER (ORDER BY ed) - 1 AS BIGINT) AS x,
             ed, y
      FROM daily
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM idx
    ),
    fit AS (
      SELECT n, sx, sy,
             (CAST(n * sxy - sx * sy AS DOUBLE))
               / (CAST(n * sxx - sx * sx AS DOUBLE)) AS b,
             CAST(sx AS DOUBLE) / n AS xbar,
             CAST(n * sxx - sx * sx AS DOUBLE) / n AS sxx_c
      FROM s
    ),
    resid AS (
      SELECT i.ed, i.x, i.y,
             i.y - ((CAST(f.sy AS DOUBLE) / f.n - f.b * f.xbar)
                    + f.b * i.x) AS e,
             1.0 / f.n + (i.x - f.xbar) * (i.x - f.xbar) / f.sxx_c
                 AS h,
             f.n
      FROM idx i CROSS JOIN fit f
    ),
    mse AS (
      SELECT sum(e * e) / (max(n) - 2) AS s2 FROM resid
    ),
    cooks AS (
      SELECT r.ed, round(r.e, 4) AS residual,
             round(r.h, 6) AS leverage,
             round(r.e * r.e * r.h
                   / (2.0 * m.s2 * (1.0 - r.h) * (1.0 - r.h)), 6)
                 AS cooks_d
      FROM resid r CROSS JOIN mse m
    )
    SELECT ed AS epoch_day, residual, leverage, cooks_d
    FROM cooks ORDER BY cooks_d DESC, epoch_day LIMIT {COOKS_TOPK}
    """,
)
def q_stats_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance for the daily purchase-count trend fit: per
    day, D_i = e_i^2 h_i / (p s^2 (1-h_i)^2) with the closed-form
    simple-regression leverage h_i = 1/n + (x-xbar)^2/Sxx - the
    influence diagnostic that names WHICH observations drive
    q_stats_ols_trend's slope (a big residual at high leverage can
    own the fit), reported as the top-5 most influential days. The
    regression-diagnostics member the inference family was missing:
    anomaly detectors flag outliers in y; Cook's D flags outliers
    in EFFECT.

    Exactness: x is the integer day rank and y integer counts, so
    every power sum is exact int64; slope/intercept/leverage/
    residual are the identical closed-form trees (4-6dp rounds on
    output per the OLS rule); the top-k boundary ties on epoch_day.

    Scale shape: one rollup, 1-row power-sum fit broadcast back
    onto the bounded daily frame, projection arithmetic, TakeOrdered
    top-k. 100 TB: identical per series.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "ed"
        )
    ).agg(F.count("*").cast("bigint").alias("y"))
    idx = daily.select(
        (F.row_number().over(Window.orderBy("ed")) - 1)
        .cast("bigint")
        .alias("x"),
        "ed",
        "y",
    )
    s = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    fit = s.select(
        "n",
        "sx",
        "sy",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
            ).cast("double")
        ).alias("b"),
        (F.col("sx").cast("double") / F.col("n")).alias("xbar"),
        (
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
            / F.col("n")
        ).alias("sxx_c"),
    )
    resid = idx.crossJoin(fit).select(
        "ed",
        "x",
        "y",
        (
            F.col("y")
            - (
                (F.col("sy").cast("double") / F.col("n")
                 - F.col("b") * F.col("xbar"))
                + F.col("b") * F.col("x")
            )
        ).alias("e"),
        (
            1.0 / F.col("n")
            + (F.col("x") - F.col("xbar"))
            * (F.col("x") - F.col("xbar"))
            / F.col("sxx_c")
        ).alias("h"),
        "n",
    )
    mse = resid.agg(
        (F.sum(F.col("e") * F.col("e")) / (F.max("n") - 2)).alias("s2")
    )
    cooks = resid.crossJoin(mse).select(
        F.col("ed").alias("epoch_day"),
        F.round("e", 4).alias("residual"),
        F.round("h", 6).alias("leverage"),
        F.round(
            F.col("e")
            * F.col("e")
            * F.col("h")
            / (
                2.0
                * F.col("s2")
                * (1.0 - F.col("h"))
                * (1.0 - F.col("h"))
            ),
            6,
        ).alias("cooks_d"),
    )
    return cooks.orderBy(F.desc("cooks_d"), "epoch_day").limit(
        COOKS_TOPK
    )


@register(
    "q_stats_bartlett",
    oracle="""
    WITH v AS (
      SELECT c_mktsegment AS seg,
             CAST(round(o_totalprice, 0) AS BIGINT) AS x
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    g AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s1,
             CAST(sum(x * x) AS BIGINT) AS s2
      FROM v GROUP BY seg
    ),
    gv AS (
      SELECT seg, n,
             (CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * s1)
               / (CAST(n AS DOUBLE) * (n - 1)) AS var_i
      FROM g
    ),
    t AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS k,
             sum((n - 1.0) * var_i) AS pooled_num,
             sum((n - 1.0) * ln(var_i)) AS sum_ln,
             sum(1.0 / (n - 1.0)) AS sum_inv
      FROM gv
    )
    SELECT gv.seg, gv.n, round(gv.var_i, 4) AS variance,
           round(((t.nn - t.k) * ln(t.pooled_num / (t.nn - t.k))
                  - t.sum_ln)
                 / (1.0 + (t.sum_inv - 1.0 / (t.nn - t.k))
                          / (3.0 * (t.k - 1))), 6) AS bartlett_stat
    FROM gv CROSS JOIN t ORDER BY gv.seg
    """,
)
def q_stats_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for variance homogeneity across segments -
    the NORMAL-THEORY counterpart of q_stats_brown_forsythe (more
    powerful when q_stats_jarque_bera passes, badly anti-
    conservative when it fails, which is exactly why all three
    ship): T = ((N-k) ln s_p^2 - sum (n_i-1) ln s_i^2) / C against
    chi2_{k-1}. Per-segment sample variances with the shared
    statistic.

    Exactness: whole-dollar int64 power sums (the brown-forsythe
    unit); each sample variance is the identical (S2 n - S1^2)/
    (n(n-1)) tree; ln terms and the <=k-term sums sit behind the
    6dp/4dp output rounds.

    Scale shape: ONE power-sum agg to the 5-row frame, 1-row
    arithmetic. 100 TB: identical.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    v = o.join(
        c.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice"), 0).cast("bigint").alias("x"),
    )
    g = v.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
    )
    gv = g.select(
        "seg",
        "n",
        (
            (
                F.col("s2").cast("double") * F.col("n")
                - F.col("s1").cast("double") * F.col("s1")
            )
            / (F.col("n").cast("double") * (F.col("n") - 1))
        ).alias("var_i"),
    )
    t = gv.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count("*").cast("bigint").alias("k"),
        F.sum((F.col("n") - 1.0) * F.col("var_i")).alias("pooled_num"),
        F.sum((F.col("n") - 1.0) * F.log(F.col("var_i"))).alias(
            "sum_ln"
        ),
        F.sum(1.0 / (F.col("n") - 1.0)).alias("sum_inv"),
    )
    stat = (
        (F.col("nn") - F.col("k"))
        * F.log(F.col("pooled_num") / (F.col("nn") - F.col("k")))
        - F.col("sum_ln")
    ) / (
        1.0
        + (F.col("sum_inv") - 1.0 / (F.col("nn") - F.col("k")))
        / (3.0 * (F.col("k") - 1))
    )
    return (
        gv.crossJoin(t)
        .select(
            "seg",
            "n",
            F.round("var_i", 4).alias("variance"),
            F.round(stat, 6).alias("bartlett_stat"),
        )
        .orderBy("seg")
    )


KSU_BUCKETS = 1024  # hash-bucket granularity for the uniformity test


@register(
    "q_stats_ks_uniformity",
    oracle=f"""
    WITH b AS (
      SELECT DISTINCT user_id,
             ((user_id * {FDR_HASH_A} + {FDR_HASH_B}) % {FDR_HASH_P})
               % {KSU_BUCKETS} AS bucket
      FROM events
    ),
    r AS (
      SELECT bucket,
             CAST(row_number() OVER (ORDER BY bucket, user_id)
                  AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM b
    ),
    d AS (
      SELECT max(greatest(
               abs(CAST(rn AS DOUBLE) / n
                   - CAST(bucket + 1 AS DOUBLE) / {KSU_BUCKETS}),
               abs(CAST(rn - 1 AS DOUBLE) / n
                   - CAST(bucket AS DOUBLE) / {KSU_BUCKETS})))
                 AS ks_d,
             max(n) AS n
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           round(ks_d, 6) AS ks_d,
           round(ks_d * sqrt(CAST(n AS DOUBLE)), 6) AS ks_scaled,
           CASE WHEN ks_d * sqrt(CAST(n AS DOUBLE)) > 1.358
                THEN 1 ELSE 0 END AS reject_uniform
    FROM d
    """,
)
def q_stats_ks_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Kolmogorov-Smirnov test of the A/B HASH SPLIT
    itself against the uniform distribution: bucket every user's
    assignment hash into 1024 cells and take the sup distance
    between the empirical CDF and the uniform line (both one-sided
    envelopes per discrete-KS practice), scaled by sqrt(n) against
    the 95% Kolmogorov critical 1.358 - the randomization-quality
    check UNDER q_events_srm_check (SRM tests the 2-way split
    ratio; this tests the whole hash's distributional uniformity,
    which is what stratified or many-armed designs lean on).

    Exactness: buckets/ranks/n are exact integer hash arithmetic;
    each envelope term is a difference of two integer ratios with
    identical trees; only the reported sup and its scaling are
    rounded (6dp), and the reject flag compares the unrounded value
    to a literal.

    Scale shape: per-user distinct agg -> one ordered rank window
    over users -> 1-row sup agg. 100 TB: the rank collapses to a
    per-bucket count agg + running sum over 1024 cells (same sup,
    bucket granularity) - the documented swap.
    """
    e = table(spark, sf_dir, "events")
    b = e.select(
        "user_id",
        F.expr(
            f"((user_id * {FDR_HASH_A} + {FDR_HASH_B}) % {FDR_HASH_P})"
            f" % {KSU_BUCKETS}"
        ).alias("bucket"),
    ).distinct()
    # Distributed rank (r7): bucketed two-pass row_number instead of
    # an unpartitioned window over the per-user frame (r6 audit
    # finding); hash cells co-bucket, so ranks are identical.
    r = global_order(
        b, "bucket", [F.col("bucket"), F.col("user_id")],
        rank_name="rn", total_name="n",
    )
    up = F.abs(
        F.col("rn").cast("double") / F.col("n")
        - (F.col("bucket") + 1).cast("double") / KSU_BUCKETS
    )
    lo = F.abs(
        (F.col("rn") - 1).cast("double") / F.col("n")
        - F.col("bucket").cast("double") / KSU_BUCKETS
    )
    d = r.agg(
        F.max(F.greatest(up, lo)).alias("ks_d"),
        F.max("n").alias("n"),
    )
    scaled = F.col("ks_d") * F.sqrt(F.col("n").cast("double"))
    return d.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round("ks_d", 6).alias("ks_d"),
        F.round(scaled, 6).alias("ks_scaled"),
        F.when(scaled > 1.358, 1).otherwise(0).alias("reject_uniform"),
    )


@register(
    "q_stats_info_gain",
    oracle=f"""
    WITH u AS (
      SELECT user_id, user_id % {SIMPSON_STRATA} AS feat,
             CASE WHEN 2 * sum(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END)
                    > sum(CASE WHEN event_type IN ('click', 'view')
                               THEN 1 ELSE 0 END)
                  THEN 1 ELSE 0 END AS y
      FROM events GROUP BY user_id
    ),
    cells AS (
      SELECT CAST(feat AS BIGINT) AS feat,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS k
      FROM u GROUP BY feat
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(k) AS BIGINT) AS kk
      FROM cells
    ),
    hy AS (
      SELECT -( (CAST(kk AS DOUBLE)/nn) * ln(CAST(kk AS DOUBLE)/nn)
              + (1.0 - CAST(kk AS DOUBLE)/nn)
                * ln(1.0 - CAST(kk AS DOUBLE)/nn)) AS h
      FROM tot
    ),
    cond AS (
      SELECT sum((CAST(c.n AS DOUBLE)/t.nn)
                 * (-( (CAST(c.k AS DOUBLE)/c.n)
                       * ln(nullif(CAST(c.k AS DOUBLE)/c.n, 0))
                     + (1.0 - CAST(c.k AS DOUBLE)/c.n)
                       * ln(nullif(1.0 - CAST(c.k AS DOUBLE)/c.n, 0))))
                ) AS h_cond
      FROM cells c CROSS JOIN tot t
    )
    SELECT c.feat, c.n, c.k,
           round(CAST(c.k AS DOUBLE)/c.n, 6) AS p_cell,
           round(hy.h, 6) AS h_y,
           round(hy.h - cond.h_cond, 6) AS info_gain,
           round((hy.h - cond.h_cond) / hy.h, 6) AS gain_ratio_of_h
    FROM cells c CROSS JOIN hy CROSS JOIN cond ORDER BY c.feat
    """,
)
def q_stats_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain of splitting the purchase-majority outcome
    by the user-cohort feature: IG = H(Y) - sum_i w_i H(Y|feat=i) -
    the decision-tree split criterion (ID3/C4.5) computed
    relationally, i.e. the single-feature importance score a tree
    trainer evaluates for EVERY candidate feature at every node
    (run per feature, the argmax is the split; q_stats_mutual_info
    is the same quantity for two categoricals - this member frames
    it as the supervised-split score with the share of H(Y)
    explained). Degenerate pure cells contribute 0 via nullif-
    guarded ln (the 0 ln 0 = 0 convention).

    Exactness: cells are int64 from one per-user agg; entropies
    are integer-ratio ln trees over the bounded cell frame behind
    6dp rounds.

    Scale shape: fact -> user agg -> |feature values|-row cell agg
    -> 1-row entropies broadcast. 100 TB: identical; a tree trainer
    fans this over features with one grouping set.
    """
    e = table(spark, sf_dir, "events")
    is_purch = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    is_cv = F.when(F.col("event_type").isin("click", "view"), 1).otherwise(0)
    u = e.groupBy("user_id").agg(
        F.when(2 * F.sum(is_purch) > F.sum(is_cv), 1)
        .otherwise(0)
        .alias("y")
    ).select(
        (F.col("user_id") % SIMPSON_STRATA).cast("bigint").alias("feat"),
        "y",
    )
    cells = u.groupBy("feat").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("k"),
    )
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("k").cast("bigint").alias("kk"),
    )
    p = F.col("kk").cast("double") / F.col("nn")
    hy = tot.select(
        (-(p * F.log(p) + (1.0 - p) * F.log(1.0 - p))).alias("h")
    )
    pc = F.col("k").cast("double") / F.col("n")
    cell_h = -(
        pc * F.log(F.nullif(pc, F.lit(0.0)))
        + (1.0 - pc) * F.log(F.nullif(1.0 - pc, F.lit(0.0)))
    )
    cond = (
        cells.crossJoin(tot)
        .agg(
            F.sum(
                (F.col("n").cast("double") / F.col("nn"))
                * F.coalesce(cell_h, F.lit(0.0))
            ).alias("h_cond")
        )
    )
    return (
        cells.crossJoin(hy)
        .crossJoin(cond)
        .select(
            "feat",
            "n",
            "k",
            F.round(pc, 6).alias("p_cell"),
            F.round("h", 6).alias("h_y"),
            F.round(F.col("h") - F.col("h_cond"), 6).alias("info_gain"),
            F.round(
                (F.col("h") - F.col("h_cond")) / F.col("h"), 6
            ).alias("gain_ratio_of_h"),
        )
        .orderBy("feat")
    )


TRIM_PCT = 10  # symmetric trim: drop the lowest/highest 10% by rank


@register(
    "q_stats_trimmed_mean",
    oracle=f"""
    WITH v AS (
      SELECT c_mktsegment AS seg,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             o_orderkey AS k
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    r AS (
      SELECT seg, cents,
             row_number() OVER (PARTITION BY seg ORDER BY cents, k)
                 AS rn,
             CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS n
      FROM v
    )
    SELECT seg,
           max(n) AS n,
           CAST(max(n) * {TRIM_PCT} // 100 AS BIGINT) AS k_each_side,
           CAST(sum(CASE WHEN rn > n * {TRIM_PCT} // 100
                          AND rn <= n - n * {TRIM_PCT} // 100
                         THEN cents END) AS DOUBLE)
             / (100.0 * (max(n) - 2 * (max(n) * {TRIM_PCT} // 100)))
             AS trimmed_mean,
           CAST(sum(cents) AS DOUBLE) / (100.0 * max(n)) AS raw_mean
    FROM r GROUP BY seg ORDER BY seg
    """,
)
def q_stats_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIMMED mean of order value per market segment: DROP the
    lowest and highest k = floor(10%*n) rows by rank before
    averaging - the discard-the-tails robust location estimate next
    to q_stats_winsorized's clamp-the-tails one (trimming changes n,
    winsorizing keeps it; reporting both beside the raw mean shows
    HOW the tails pull).

    Exactness: rank-based trimming with tied values is
    tiebreak-INDEPENDENT (every tied row carries the same value, so
    the kept value multiset is identical however ties order), which
    lets the whole computation run on the DISTINCT (seg, cents)
    frame: a value at cumulative range [cum-c+1, cum] contributes
    kept = max(0, min(cum, n-k) - max(cum-c+1, k+1) + 1) rows.
    Sums are exact int64 cents; each mean is ONE IEEE division,
    unrounded (functions/exact.py rule).

    Scale shape: ONE two-phase (seg, cents) fact agg, a bucketed
    per-segment distributed cumsum on the distinct frame
    (operators/ranks.py - no unpartitioned window, no row-level
    rank), then a |segments|-row agg. 100 TB: identical.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    v = o.join(
        c.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    d = v.groupBy("seg", "cents").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    d = global_order(
        d, "cents", [F.col("cents")],
        cumsum={"cnt": "cum"}, partition_cols=["seg"],
    )
    nseg = d.groupBy("seg").agg(F.max("cum").cast("bigint").alias("n"))
    d = d.join(F.broadcast(nseg), "seg")
    k = F.expr(f"n * {TRIM_PCT} div 100")
    kept = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("cum"), F.col("n") - k)
        - F.greatest(F.col("cum") - F.col("cnt") + 1, k + 1)
        + 1,
    )
    return (
        d.groupBy("seg", "n")
        .agg(
            F.max(k).cast("bigint").alias("k_each_side"),
            F.sum(kept * F.col("cents")).cast("double").alias("tsum"),
            F.sum(F.col("cnt") * F.col("cents")).cast("double").alias("rsum"),
        )
        .select(
            "seg",
            "n",
            "k_each_side",
            (
                F.col("tsum")
                / (100.0 * (F.col("n") - 2 * F.col("k_each_side")))
            ).alias("trimmed_mean"),
            (F.col("rsum") / (100.0 * F.col("n"))).alias("raw_mean"),
        )
        .orderBy("seg")
    )


QQ_STEP = 5  # evaluate Q-Q at q = 5, 10, ..., 95


@register(
    "q_stats_qq_plot",
    oracle=f"""
    WITH v AS (
      SELECT c_mktsegment AS seg,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             o_orderkey AS k
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment IN ('{KS_SEG_A}', '{KS_SEG_B}')
    ),
    r AS (
      SELECT seg, cents,
             row_number() OVER (PARTITION BY seg ORDER BY cents, k)
                 AS rn,
             CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS n
      FROM v
    ),
    qs AS (SELECT CAST(q AS BIGINT) AS q
           FROM generate_series({QQ_STEP}, 95, {QQ_STEP}) AS t(q)),
    pick AS (
      SELECT qs.q, r.seg, r.cents
      FROM qs JOIN r ON r.rn = (qs.q * r.n + 99) // 100
    )
    SELECT a.q,
           a.cents AS qa_cents,
           b.cents AS qb_cents,
           round(CAST(b.cents AS DOUBLE) / a.cents, 6) AS qq_ratio
    FROM pick a JOIN pick b ON a.q = b.q
    WHERE a.seg = '{KS_SEG_A}' AND b.seg = '{KS_SEG_B}'
    ORDER BY a.q
    """,
)
def q_stats_qq_plot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q PLOT of order value, {KS_SEG_A} vs {KS_SEG_B}: the exact
    q-th percentile ORDER STATISTIC of each segment at q = 5..95
    step 5, paired - the distribution-shape diagnostic behind
    q_stats_ks_test's single sup number (KS says IF they differ;
    the Q-Q curve says WHERE: a straight line = same shape, a bowed
    tail = one segment's tail is heavier).

    Exactness: each point is the value at 1-indexed rank
    ceil(q*n/100) of the per-segment (cents, orderkey) total order
    (the winsorized protocol - integer rank math, no interpolation
    dialect); ratios are ONE IEEE division behind a 6dp round.

    Scale shape: both segments' percentiles come from one bucketed
    per-segment distributed cumsum over the DISTINCT (seg, cents)
    frame (operators/ranks.py) joined against the broadcast 19-row
    quantile spine - no row-level rank, no unpartitioned window.
    100 TB: identical.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    v = (
        o.join(
            c.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(F.col("c_mktsegment").isin(KS_SEG_A, KS_SEG_B))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        )
    )
    d = v.groupBy("seg", "cents").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    d = global_order(
        d, "cents", [F.col("cents")],
        cumsum={"cnt": "cum"}, partition_cols=["seg"],
    )
    nseg = d.groupBy("seg").agg(F.max("cum").cast("bigint").alias("n"))
    d = d.join(F.broadcast(nseg), "seg")
    qs = spark.range(QQ_STEP, 96, QQ_STEP).select(
        F.col("id").cast("bigint").alias("q")
    )
    # value at rank r = smallest cents whose inclusive cum reaches r
    pick = (
        d.crossJoin(qs)
        .filter(F.col("cum") - F.col("cnt") + 1 <= F.expr("(q * n + 99) div 100"))
        .filter(F.col("cum") >= F.expr("(q * n + 99) div 100"))
        .select("q", "seg", "cents")
    )
    a = pick.filter(F.col("seg") == KS_SEG_A).select(
        "q", F.col("cents").alias("qa_cents")
    )
    b = pick.filter(F.col("seg") == KS_SEG_B).select(
        "q", F.col("cents").alias("qb_cents")
    )
    return (
        a.join(b, "q")
        .select(
            "q",
            "qa_cents",
            "qb_cents",
            F.round(
                F.col("qb_cents").cast("double") / F.col("qa_cents"), 6
            ).alias("qq_ratio"),
        )
        .orderBy("q")
    )


MAD_SIGMA = 1.4826  # normal-consistency constant for MAD -> sigma


@register(
    "q_stats_mad",
    oracle="""
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ),
    g AS (
      SELECT cents, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY cents
    ),
    cg AS (
      SELECT cents, c,
             CAST(sum(c) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM g
    ),
    med AS (
      SELECT min(cents) AS m, max(n) AS n FROM cg
      WHERE cum >= (n + 1) // 2
    ),
    dev AS (
      SELECT abs(v.cents - med.m) AS d FROM v CROSS JOIN med
    ),
    gd AS (
      SELECT d, CAST(count(*) AS BIGINT) AS c FROM dev GROUP BY d
    ),
    cd AS (
      SELECT d,
             CAST(sum(c) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM gd
    )
    SELECT med.n AS n,
           round(med.m / 100.0, 4) AS median,
           round((SELECT min(d) FROM cd
                  WHERE cum >= (n + 1) // 2) / 100.0, 4) AS mad,
           round(1.4826 * (SELECT min(d) FROM cd
                  WHERE cum >= (n + 1) // 2) / 100.0, 4) AS sigma_robust
    FROM med
    """,
)
def q_stats_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median Absolute Deviation of order value - the breakdown-
    point-0.5 scale estimate (stddev is wrecked by one whale; MAD
    needs HALF the data corrupted), with the 1.4826 normal-
    consistency factor so sigma_robust reads in stddev units. The
    global exact twin of q_events_anomaly_mad's per-type
    approximation, and the robust denominator a z-score pipeline
    should prefer at 100 TB.

    Exactness: TWO nested exact medians (lower median = value at
    rank ceil(n/2) = smallest value whose cumulative count reaches
    (n+1) div 2 - pure integer rank math on cents); the only floats
    are the final /100 and the literal 1.4826 product, rounded 4dp.

    Scale shape: two passes, each a two-phase distinct-value count
    agg + bucketed distributed cumsum (operators/ranks.py) + 1-row
    pick; the median rides back as a 1-row broadcast into the
    deviation pass. No row-level rank, no unpartitioned window,
    nothing quadratic. 100 TB: identical - this is exactly the
    shape that makes EXACT MAD affordable at scale.
    """
    o = table(spark, sf_dir, "orders")
    # v feeds three consumers (median agg, n count, deviation pass)
    # and med feeds two (deviation pass + final projection); neither
    # diamond is recognized by exchange reuse, so without persistence
    # the scan runs 4x and the heavy cumsum chain runs TWICE (measured
    # 6.9 s warm at sf0.1 -> 4.5 s with the two cached() handles; the
    # remainder is the two genuinely-sequential cumsum chains).
    v = cached(
        o.select(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents")
        )
    )

    def lower_median(col_df: DataFrame, col: str):
        g = col_df.groupBy(col).agg(F.count("*").cast("bigint").alias("c"))
        g = global_order(g, col, [F.col(col)], cumsum={"c": "cum"})
        # n from a direct row count of the input (cheaper than
        # re-executing the cumsum chain for max(cum)).
        n1 = col_df.agg(F.count("*").cast("bigint").alias("n"))
        g = g.crossJoin(n1)
        return g.filter(
            F.col("cum") >= F.expr("(n + 1) div 2")
        ).agg(
            F.min(col).cast("bigint").alias("m"),
            F.max("n").cast("bigint").alias("n"),
        )

    med = cached(lower_median(v, "cents"))  # 1 row
    dev = v.crossJoin(med).select(
        F.abs(F.col("cents") - F.col("m")).alias("d")
    )
    mad = lower_median(dev, "d").select(
        F.col("m").alias("mad_cents")
    )
    return (
        med.crossJoin(mad)
        .select(
            "n",
            F.round(F.col("m") / 100.0, 4).alias("median"),
            F.round(F.col("mad_cents") / 100.0, 4).alias("mad"),
            F.round(
                F.lit(MAD_SIGMA) * F.col("mad_cents") / 100.0, 4
            ).alias("sigma_robust"),
        )
    )


@register(
    "q_stats_dispersion",
    oracle="""
    WITH k AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS k
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(k) AS BIGINT) AS sk,
             CAST(sum(k * k) AS BIGINT) AS skk
      FROM k
    ),
    m AS (
      SELECT n,
             CAST(sk AS DOUBLE) / n AS mean,
             (CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / n)
               / (n - 1) AS var
      FROM s
    )
    SELECT n AS n_users,
           round(mean, 6) AS mean_events,
           CASE WHEN n >= 2 THEN round(var, 6) END AS var_events,
           CASE WHEN n >= 2 THEN round(var / mean, 6) END
               AS dispersion_index,
           CASE WHEN n >= 2
                THEN round(sqrt(2.0 * (n - 1) * var / mean)
                           - sqrt(2.0 * (n - 1) - 1.0), 6)
           END AS z_overdispersion,
           CASE WHEN n >= 2 AND var > mean
                THEN round(mean * mean / (var - mean), 6) END AS nb_r,
           CASE WHEN n >= 2 AND var > mean
                THEN round(mean / var, 6) END AS nb_p
    FROM m
    """,
)
def q_stats_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON OVERDISPERSION check on per-user event counts, with
    the negative-binomial moment fit when it fails: dispersion
    index s²/x̄ (Poisson predicts exactly 1), the Fisher
    index-of-dispersion z approximation sqrt(2·chi²) − sqrt(2df−1),
    and the method-of-moments NB(r, p) parameters - the
    count-model sanity gate BEFORE anyone fits a Poisson rate to
    user activity (q_events_freq_severity models severity given
    frequency; this tests whether the frequency model itself
    holds; real user counts are almost always overdispersed and
    every CI built on Poisson is then too narrow).

    Exactness: k, Σk, Σk² are exact int64 (Σk² at sf100 ≈ 1e13,
    far inside int64); mean/variance/z/NB are identical IEEE trees
    on those integers behind 6dp rounds; the var>mean gate is
    evaluated on the unrounded values in BOTH engines.

    Scale shape: one two-phase per-user count agg -> one 1-row
    power-sum agg -> projection arithmetic. 100 TB: identical.
    """
    e = table(spark, sf_dir, "events")
    k = e.groupBy("user_id").agg(F.count("*").cast("bigint").alias("k"))
    s = k.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("skk"),
    )
    n = F.col("n")
    mean = F.col("sk").cast("double") / n
    var = (
        F.col("skk").cast("double")
        - F.col("sk").cast("double") * F.col("sk") / n
    ) / (n - 1)
    # n>=2 gate is explicit in BOTH engines: DuckDB's sqrt RAISES on
    # the negative argument at n<2 where Spark would return NaN (the
    # q_stats_spearman rule; caught by the empty-relation sweep).
    ok = n >= 2
    over = ok & (var > mean)
    return s.select(
        n.alias("n_users"),
        F.round(mean, 6).alias("mean_events"),
        F.when(ok, F.round(var, 6)).alias("var_events"),
        F.when(ok, F.round(var / mean, 6)).alias("dispersion_index"),
        F.when(
            ok,
            F.round(
                F.sqrt(2.0 * (n - 1) * var / mean)
                - F.sqrt(2.0 * (n - 1) - F.lit(1.0)),
                6,
            ),
        ).alias("z_overdispersion"),
        F.when(over, F.round(mean * mean / (var - mean), 6)).alias("nb_r"),
        F.when(over, F.round(mean / var, 6)).alias("nb_p"),
    )


WILSON_Z = "1.959963984540054"  # z_{.975}, shared literal both engines
WHALE_CUTOFF = 300_000          # 'whale order' threshold (dollars)


@register(
    "q_stats_wilson_ci",
    oracle=f"""
    WITH g AS (
      SELECT c_mktsegment AS seg,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_totalprice > {WHALE_CUTOFF}
                           THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
    )
    SELECT seg, n, x,
           round(CAST(x AS DOUBLE) / n, 6) AS p_hat,
           round((CAST(x AS DOUBLE) / n + {WILSON_Z} * {WILSON_Z} / (2 * n)
                  - {WILSON_Z} * sqrt((CAST(x AS DOUBLE) / n)
                        * (1 - CAST(x AS DOUBLE) / n) / n
                        + {WILSON_Z} * {WILSON_Z} / (4.0 * n * n)))
                 / (1 + {WILSON_Z} * {WILSON_Z} / n), 6) AS ci_lo,
           round((CAST(x AS DOUBLE) / n + {WILSON_Z} * {WILSON_Z} / (2 * n)
                  + {WILSON_Z} * sqrt((CAST(x AS DOUBLE) / n)
                        * (1 - CAST(x AS DOUBLE) / n) / n
                        + {WILSON_Z} * {WILSON_Z} / (4.0 * n * n)))
                 / (1 + {WILSON_Z} * {WILSON_Z} / n), 6) AS ci_hi
    FROM g ORDER BY seg
    """,
)
def q_stats_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILSON 95% confidence interval for the whale-order rate
    (totalprice over the WHALE_CUTOFF constant, $300k) per market
    segment - the binomial CI that
    stays honest at small n and extreme p where the textbook Wald
    interval collapses (Wald gives zero width at x=0 and escapes
    [0,1] near the edges; Wilson is what A/B dashboards should
    print next to every conversion rate, and the per-segment
    complement of q_stats_bayes_ab's posterior readout).

    Exactness: n and x are exact int64 from one conditional agg;
    p-hat, the score-interval center and half-width are IDENTICAL
    IEEE trees on those integers in both engines (the z literal is
    shared to full double precision), each bound rounded 6dp. n>=1
    by construction (groups only exist with rows), so no division
    guard is needed - the empty relation yields zero groups in
    both engines.

    Scale shape: one broadcast dim join + one two-phase conditional
    agg to a |segments|-row frame; everything after is projection
    arithmetic. 100 TB: identical.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    z = float(WILSON_Z)
    g = (
        o.join(
            c.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("o_totalprice") > WHALE_CUTOFF, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
        )
    )
    n = F.col("n")
    p = F.col("x").cast("double") / n
    half = F.lit(z) * F.sqrt(
        p * (1 - p) / n + F.lit(z) * F.lit(z) / (4.0 * n * n)
    )
    center = p + F.lit(z) * F.lit(z) / (2 * n)
    denom = 1 + F.lit(z) * F.lit(z) / n
    return g.select(
        "seg",
        "n",
        "x",
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    ).orderBy("seg")


_SPM_COLS = ["quantity", "extendedprice", "discount", "tax"]
_SPM_PAIRS = [
    (a, b)
    for i, a in enumerate(_SPM_COLS)
    for b in _SPM_COLS[i + 1:]
]


def _spm_rho_sql(a: str, b: str) -> str:
    return f"""
      SELECT '{a}' AS col_a, '{b}' AS col_b,
             round((CAST(n AS DOUBLE) * s_{a}_{b}
                    - CAST(s_{a} AS DOUBLE) * s_{b})
                   / sqrt((CAST(n AS DOUBLE) * s_{a}_{a}
                           - CAST(s_{a} AS DOUBLE) * s_{a})
                          * (CAST(n AS DOUBLE) * s_{b}_{b}
                             - CAST(s_{b} AS DOUBLE) * s_{b})), 6) AS rho
      FROM s"""


@register(
    "q_stats_spearman_matrix",
    oracle=(
        """
    WITH v AS (
      SELECT CAST(l_quantity AS BIGINT) AS quantity,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                 AS extendedprice,
             CAST(round(l_discount * 10000, 0) AS BIGINT) AS discount,
             CAST(round(l_tax * 10000, 0) AS BIGINT) AS tax
      FROM lineitem
    ),
    """
        + ",\n".join(
            f"""g_{c} AS (
      SELECT {c} AS val, CAST(count(*) AS BIGINT) AS cnt
      FROM v GROUP BY {c}
    ),
    r_{c} AS (
      SELECT val,
             CAST(2 * sum(cnt) OVER (ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - cnt + 1 AS BIGINT) AS r
      FROM g_{c}
    )"""
            for c in _SPM_COLS
        )
        + """,
    ranked AS (
      SELECT """
        + ", ".join(f"r_{c}.r AS x_{c}" for c in _SPM_COLS)
        + """
      FROM v """
        + " ".join(f"JOIN r_{c} ON v.{c} = r_{c}.val" for c in _SPM_COLS)
        + """
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n, """
        + ", ".join(f"sum(x_{c}) AS s_{c}" for c in _SPM_COLS)
        + ", "
        + ", ".join(
            f"sum(x_{a} * x_{b}) AS s_{a}_{b}"
            for i, a in enumerate(_SPM_COLS)
            for b in _SPM_COLS[i:]
        )
        + """
      FROM ranked
    )
    """
        + "\nUNION ALL".join(_spm_rho_sql(a, b) for a, b in _SPM_PAIRS)
    ),
)
def q_stats_spearman_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SPEARMAN rank-correlation matrix over lineitem's
    four numeric measures - the rank-robust twin of
    q_agg_corr_matrix's Pearson triangle (Pearson reads linear
    association and is dragged by tails; Spearman reads any
    monotone association from tie-averaged ranks, which is what a
    feature screen should check FIRST on skewed measures like
    price).

    Exactness: each column's tie-averaged doubled rank
    2*cum - cnt + 1 is a pure function of the VALUE, computed on
    that column's distinct-value frame (the q_stats_spearman
    protocol) and hash-joined back; rank sums are exact int64 and
    the quadratic power sums accumulate in DECIMAL(38,0) on the
    Spark side / HUGEINT in DuckDB - exact and summation-order-free
    at ANY scale factor (int64 quadratic sums would overflow past
    ~sf0.3 on lineitem); each rho is one double-converted
    closed-form tree behind a 6dp round.

    Scale shape: quantity/discount/tax have SPEC-BOUNDED value
    domains (<= 50 / 11 / 9 distinct values - TPC-H column
    definitions), so their distinct-value cumsums run as plain
    bounded-frame windows (declared in BOUNDED_GLOBAL_WINDOW);
    extendedprice's distinct frame is unbounded and uses the
    bucketed distributed cumsum (operators/ranks.py). Four hash
    joins back onto the fact rows, ONE 15-sum power aggregate, and
    the pair rows explode from the single 1-row frame (the
    corr_matrix one-scan shape). 100 TB: identical.
    """
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_quantity").cast("bigint").alias("quantity"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("extendedprice"),
        F.round(F.col("l_discount") * 10000, 0).cast("bigint").alias("discount"),
        F.round(F.col("l_tax") * 10000, 0).cast("bigint").alias("tax"),
    )
    ranked = v
    w_cum = Window.orderBy(F.col("_val")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    for c in _SPM_COLS:
        g = v.groupBy(c).agg(F.count("*").cast("bigint").alias("_c"))
        if c == "extendedprice":
            g = global_order(g, c, [F.col(c)], cumsum={"_c": "_cum"})
        else:
            g = g.withColumnRenamed(c, "_val").withColumn(
                "_cum", F.sum("_c").over(w_cum)
            ).withColumnRenamed("_val", c)
        r2 = g.select(
            c,
            (2 * F.col("_cum") - F.col("_c") + 1)
            .cast("bigint")
            .alias(f"x_{c}"),
        )
        ranked = ranked.join(F.broadcast(r2) if c != "extendedprice" else r2, c)
    dec = "decimal(38,0)"
    aggs = [F.count("*").cast("bigint").alias("n")]
    # Each operand is cast to decimal BEFORE the multiply/sum (ADVICE
    # r7): a bigint x_a * x_b product is ~4n^2 and wraps int64 past
    # ~1.5e9 rows; Sigma x_c is ~n^2 and wraps past ~3e9 rows. In
    # decimal(38,0) the product (~1e20 at 1e9 rows) and its sum
    # (~1e29) both fit with >= 9 orders of headroom.
    aggs += [
        F.sum(F.col(f"x_{c}").cast(dec)).alias(f"s_{c}")
        for c in _SPM_COLS
    ]
    aggs += [
        F.sum(
            F.col(f"x_{a}").cast(dec) * F.col(f"x_{b}").cast(dec)
        ).alias(f"s_{a}_{b}")
        for i, a in enumerate(_SPM_COLS)
        for b in _SPM_COLS[i:]
    ]
    s = ranked.agg(*aggs)

    def rho(a: str, b: str):
        n = F.col("n").cast("double")
        num = n * F.col(f"s_{a}_{b}").cast("double") - F.col(
            f"s_{a}"
        ).cast("double") * F.col(f"s_{b}").cast("double")
        da = n * F.col(f"s_{a}_{a}").cast("double") - F.col(
            f"s_{a}"
        ).cast("double") * F.col(f"s_{a}").cast("double")
        db = n * F.col(f"s_{b}_{b}").cast("double") - F.col(
            f"s_{b}"
        ).cast("double") * F.col(f"s_{b}").cast("double")
        return F.round(num / F.sqrt(da * db), 6)

    pair_structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                rho(a, b).alias("rho"),
            )
            for a, b in _SPM_PAIRS
        ]
    )
    return s.select(F.explode(pair_structs).alias("p")).select(
        "p.col_a", "p.col_b", "p.rho"
    )
