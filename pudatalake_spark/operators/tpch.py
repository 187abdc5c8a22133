"""TPC-H-suite queries on the synthetic star schema (SURVEY §2.11,
TPC-H family).

q_tpch_q3 (shipping priority) lives in analytics.py since round 5a;
TPC-H Q1 is already the flagship (q_agg_groupby). This module holds
the rest of the 22-query suite. Queries whose official predicates
need columns the generator does not ship are ADAPTED, preserving the
plan shape (the thing that matters for an engine) with substitute
predicates documented per query:

- no `partsupp` table -> Q2/Q9/Q11/Q20 derive the (supplier, part)
  supply relation from lineitem (cost = min unit price observed;
  value = discounted revenue) - same correlated-min / scalar-share /
  nested-semi-join shapes.
- no `l_commitdate`/`l_receiptdate` -> Q4/Q12/Q21's "late" predicate
  becomes l_shipdate > o_orderdate + N days (a real column pair with
  ~49% late at N=60, so the filters are selective but non-empty).
- no `l_shipmode`/`p_container` -> Q12 groups by l_linestatus, Q19's
  container branches become p_size ranges.
- no customer phone -> Q22's country code is c_nationkey itself.

Scale notes (100 TB):
- Small dimensions (region, nation, filtered dim sets) broadcast,
  from the planner's size estimate or AQE's runtime size; the big
  shuffles are the fact-fact orders x lineitem joins on their shared
  order key. Joins to customer/supplier/part broadcast only while
  those tables are under the threshold, except the supplier subsets
  still hinted in Q2, Q5 and Q11 and Q20's qualified set.
- Filters (dates, returnflag, mktsegment) are expressed on the base
  scans so Catalyst pushes them into parquet row-group pruning
  BEFORE the joins.
- Top-k outputs sort rounded values with a unique-key tie-break so
  the LIMIT cut is deterministic across engines (registry rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import avg_exact, sql_avg_exact
from ..loaders import load
from ..registry import register


@register(
    "q_tpch_q5",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue from orders where the
    customer and the line's supplier share a nation, per ASIA nation.

    Scale shape: region->nation->supplier collapses to ONE broadcast
    (the supplier dim annotated with its nation name, pre-filtered to
    the target region); customer is broadcast-joined to orders (or
    shuffled at true scale - either way keyed on o_custkey); the one
    unavoidable big shuffle is lineitem x orders on the order key.
    The c_nationkey = s_nationkey "local" predicate rides the
    broadcast hash join as an extra condition, never a theta join.
    """
    t = load(spark, sf_dir)
    asia_nations = (
        t["nation"]
        .join(
            t["region"].filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = (
        t["supplier"]
        .join(
            F.broadcast(asia_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    o = t["orders"].filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    co = t["customer"].select("c_custkey", "c_nationkey").join(
        o.select("o_orderkey", "o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"),
    )
    li = t["lineitem"].select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(co, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "q_tpch_q10",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           round(any_value(c_acctbal), 4) AS c_acctbal,
           any_value(n_name) AS n_name
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top-20 customers by lost
    revenue on 'R'-flagged lines in one quarter.

    Scale shape: both date and returnflag predicates push to the
    parquet scans; orders x lineitem shuffles on the order key;
    customer then joins the small aggregated per-customer revenue
    (aggregate FIRST, join dims AFTER - the join input shrinks from
    |lineitem| to |customers-with-returns|); nation broadcasts.
    Top-20 via TakeOrderedAndProject on rounded revenue with custkey
    tie-break.
    """
    t = load(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    rev = (
        li.join(
            o.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    cust = t["customer"].join(
        t["nation"],
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return (
        cust.join(rev, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round(F.col("c_acctbal"), 4).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q_tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'BRAND_1'
      AND p_size IN (5, 10, 15, 20, 25, 30)
      AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style (parts/supplier relationship): distinct supplier
    count per part attribute class, excluding flagged suppliers (the
    original excludes 'Customer Complaints' suppliers; this schema's
    equivalent deterministic flag is a negative account balance).

    Scale shape: the exclusion set is tiny -> broadcast LEFT ANTI
    join on the fact side (never NOT IN's null-trap semantics at
    scale); part attribute predicates push to the part scan; the
    part x lineitem join shuffles on partkey; count(DISTINCT)
    expands to Spark's two-phase partial-distinct aggregate.
    """
    t = load(spark, sf_dir)
    p = t["part"].filter(
        (F.col("p_brand") != "BRAND_1")
        & F.col("p_size").isin(5, 10, 15, 20, 25, 30)
    )
    bad_supp = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = t["lineitem"].join(
        bad_supp,
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_anti",
    )
    return (
        li.select("l_partkey", "l_suppkey")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_tpch_q18",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS DATE) AS o_orderdate,
           round(o_totalprice, 4) AS o_totalprice,
           round(sum(l_quantity), 4) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total line
    quantity exceeds 250, with their customer and quantity sum.

    Scale shape: the HAVING subquery is computed ONCE as a grouped
    aggregate on lineitem (map-side partial sums, one shuffle on
    l_orderkey) producing the small qualifying set WITH its sum_qty
    - so the outer query joins that result directly instead of
    re-aggregating lineitem a second time (the classic Q18 rewrite).
    Orders then joins the small set (AQE broadcasts it), customer
    joins on custkey. Top-100 by price with orderkey tie-break.
    """
    t = load(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = t["orders"].join(big, F.col("o_orderkey") == F.col("l_orderkey"))
    return (
        o.join(
            t["customer"].select("c_custkey", "c_name"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.round(F.col("o_totalprice"), 4).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "q_tpch_q2",
    oracle="""
    WITH supply AS (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    euro AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    cand AS (
        SELECT p_partkey, p_name, s_name, s_acctbal, n_name, unit_cost
        FROM part
        JOIN supply ON p_partkey = l_partkey
        JOIN euro   ON l_suppkey = s_suppkey
        WHERE p_type = 'STANDARD' AND p_size <= 15
    )
    SELECT p_partkey, p_name, s_name, n_name,
           s_acctbal, unit_cost
    FROM cand
    WHERE unit_cost = (SELECT min(unit_cost) FROM cand c2
                       WHERE c2.p_partkey = cand.p_partkey)
    ORDER BY s_acctbal DESC, p_partkey, s_name
    LIMIT 100
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), adapted: no partsupp table,
    so the supply relation is DERIVED from lineitem - the cost a
    supplier charges for a part is the minimum observed unit price
    (l_extendedprice / l_quantity) across their shipped lines. The
    correlated-min-subquery shape of the official query is intact.

    Scale shape: the derived supply relation aggregates lineitem once
    (shuffle on (partkey, suppkey) - at 100 TB this is THE cost, and
    it's one pass); the European supplier dim and the filtered part
    dim both broadcast; the per-part min is a second small aggregate
    on the already-reduced candidate set joined back by (partkey,
    cost) equality - exact because unit_cost is the SAME IEEE
    division on both engines and min() selects, never recomputes.
    unit_cost and s_acctbal are emitted UNROUNDED: both are
    bit-identical doubles cross-engine (raw column / identical IEEE
    division), and round(x, 4) itself diverges at true decimal
    boundaries (functions/exact.py) - probed: 1/13 rows flipped.
    """
    t = load(spark, sf_dir)
    p = t["part"].filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
    )
    p_keys = p.select("p_partkey")
    # Filter-before-aggregate: the per-(partkey, suppkey) min is
    # computed from ALL of a part's lines, so restricting to the
    # target part keys BEFORE the aggregate changes nothing per group
    # while shrinking the one big shuffle by the part selectivity
    # (~18% here; the same rewrite is what matters at 100 TB).
    supply = (
        t["lineitem"]
        .join(
            p_keys,
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_cost"
            )
        )
    )
    euro = (
        t["supplier"]
        .join(
            F.broadcast(
                t["nation"]
                .join(
                    t["region"].filter(F.col("r_name") == "EUROPE"),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
                .select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = (
        supply.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(euro), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name",
                "unit_cost")
    )
    best = cand.groupBy(F.col("p_partkey").alias("bp")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    return (
        cand.join(
            best,
            (F.col("p_partkey") == F.col("bp"))
            & (F.col("unit_cost") == F.col("best_cost")),
        )
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            "s_acctbal", "unit_cost",
        )
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_name")
        .limit(100)
    )


@register(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking), adapted: the official late
    predicate l_commitdate < l_receiptdate uses columns the generator
    does not ship; the equivalent real pair here is "shipped more
    than 60 days after the order date". The EXISTS-semi-join + small
    group-by shape is intact.

    Scale shape: the quarter filter pushes to the orders scan BEFORE
    the semi join, so only ~1/28 of orders probe lineitem; LEFT SEMI
    stops at first match per order; the correlated o_orderdate lives
    in the join condition (no pre-join materialization). Final agg
    is 5 groups.
    """
    t = load(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q_tpch_q6",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change) - faithful: every column
    the official query needs exists.

    Scale shape: the purest pushdown showcase - all three predicates
    reach the parquet scan (date min/max row-group pruning does most
    of the work), then a map-side partial sum collapses to ONE row.
    No join, no wide shuffle: this query is scan-bound at any scale.
    """
    li = load(spark, sf_dir)["lineitem"]
    return li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4
        ).alias("revenue")
    )


@register(
    "q_tpch_q7",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 4) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey  = o_custkey
        JOIN supplier ON s_suppkey  = l_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_3')
            OR (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_2'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping) - faithful: bilateral trade volume
    between two nations per shipment year.

    Scale shape: each nation filter is applied INSIDE its dimension
    branch before any fact join - supplier x nation collapses to a
    broadcast of only the two nations' suppliers, customer x nation
    to only the two nations' customers - so the symmetric OR
    predicate over the pair runs on a fact stream already reduced by
    both semi-filters. One big shuffle (lineitem x orders on
    orderkey), then a 2x2x2-group agg.
    """
    t = load(spark, sf_dir)
    pair = ["NATION_2", "NATION_3"]
    n = t["nation"].filter(F.col("n_name").isin(pair))
    supp = (
        t["supplier"]
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        t["customer"]
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    return (
        li.join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "q_tpch_q8",
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_8' THEN volume
                          ELSE 0 END), 4) AS nation_volume,
           round(sum(volume), 4) AS total_volume,
           round(sum(CASE WHEN supp_nation = 'NATION_8' THEN volume
                          ELSE 0 END), 4)
             / round(sum(volume), 4) AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey  = o_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey
        JOIN supplier ON s_suppkey  = l_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN part     ON p_partkey  = l_partkey
        WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
    ) all_sales
    GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share) - faithful: NATION_8's share
    of the European STANDARD-part market per order year.

    Scale shape: region->nation->customer reduces the customer dim
    before joining orders; the STANDARD filter prunes part to a
    broadcast; supplier+nation broadcasts with its nation name so the
    market-share CASE is a map-side expression, NOT a second pass.
    Share = ratio of the two ROUNDED sums (identical doubles on both
    engines -> one identical IEEE division, driver-hash-stable).
    """
    t = load(spark, sf_dir)
    cust = (
        t["customer"]
        .join(
            F.broadcast(
                t["nation"]
                .join(
                    t["region"].filter(F.col("r_name") == "EUROPE"),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
                .select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    p = t["part"].filter(F.col("p_type") == "STANDARD").select("p_partkey")
    o = t["orders"].filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_vol = F.round(
        F.sum(F.when(F.col("supp_nation") == "NATION_8", vol).otherwise(0.0)),
        4,
    )
    tot_vol = F.round(F.sum(vol), 4)
    return (
        t["lineitem"]
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            o.select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            nat_vol.alias("nation_volume"),
            tot_vol.alias("total_volume"),
            (nat_vol / tot_vol).alias("mkt_share"),
        )
    )


@register(
    "q_tpch_q9",
    oracle="""
    SELECT nation, o_year, round(sum(amount), 4) AS sum_profit
    FROM (
        SELECT n_name AS nation, year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount)
                 - 0.5 * p_retailprice * l_quantity AS amount
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN part     ON p_partkey  = l_partkey
        JOIN supplier ON s_suppkey  = l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%gear%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), adapted: no partsupp means no
    ps_supplycost, so the per-line cost proxy is half the part's list
    price times quantity (deterministic, same formula both engines).
    The shape - name-LIKE part filter, 5-way join, profit expression,
    (nation, year) rollup - is the official one.

    Scale shape: the %gear% filter prunes part to a broadcast before
    the fact join (LIKE with leading % can't push to parquet, but it
    runs on the 2k-row dim, not the fact); supplier+nation broadcast;
    the only big shuffle is lineitem x orders on orderkey.
    """
    t = load(spark, sf_dir)
    p = t["part"].filter(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    supp = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        t["lineitem"]
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 4).alias("sum_profit"))
    )


@register(
    "q_tpch_q11",
    oracle="""
    WITH pv AS (
        SELECT l_partkey,
               sum(l_extendedprice * (1 - l_discount)) AS val
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'AMERICA'
        GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey, round(val, 4) AS part_value
    FROM pv
    -- scale-free threshold: 2x the MEAN per-part share (the official
    -- query scales its 0.0001 fraction by 1/SF for the same reason -
    -- a fixed fraction empties out as the part count grows)
    WHERE round(val, 4) > (SELECT round(sum(val), 4) * 2.0 / count(*)
                           FROM pv)
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock), adapted: no partsupp, so a part's
    "inventory value" is the discounted revenue shipped by AMERICA
    suppliers (derived supply relation). The scalar-subquery-share
    shape - per-part value vs a fraction of the global total - is the
    official one.

    Scale shape: one shuffle to the per-part aggregate (map-side
    partials); the global total re-aggregates THAT small frame (never
    a second fact pass) and broadcasts as a 1-row cross join. Both
    engines total over identical per-part partials, so the rounded
    threshold is the same double on both sides.
    """
    t = load(spark, sf_dir)
    amer_supp = (
        t["supplier"]
        .join(
            F.broadcast(
                t["nation"]
                .join(
                    t["region"].filter(F.col("r_name") == "AMERICA"),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
                .select("n_nationkey")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    pv = (
        t["lineitem"]
        .join(
            F.broadcast(amer_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "val"
            )
        )
    )
    # Scale-free threshold: 2x the mean per-part value (mirrors the
    # official query's 1/SF fraction scaling; a fixed 0.1% share
    # returned 0 rows at sf0.1's 20k parts).
    total = pv.agg(
        (F.round(F.sum("val"), 4) * 2.0 / F.count("*")).alias("threshold")
    )
    return (
        pv.crossJoin(total)
        .filter(F.round(F.col("val"), 4) > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round("val", 4).alias("part_value"),
        )
    )


@register(
    "q_tpch_q12",
    oracle="""
    SELECT l_linestatus AS ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes / priority), adapted: l_shipmode and
    the commit/receipt pair don't exist, so lines shipped >90 days
    after the order date in 1997 are bucketed by l_linestatus and
    split into high/low-priority counts - the same conditional-agg
    join shape as the official query.

    Scale shape: the year filter pushes to the lineitem scan; the
    late predicate rides the orderkey join condition; the CASE split
    is a map-side expression feeding a 2-group partial agg.
    """
    t = load(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority"),
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ),
        )
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '5-LOW'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order distribution) - faithful shape: the
    official comment NOT-LIKE exclusion becomes an o_orderpriority
    exclusion (the schema ships no comment column); the signature
    double aggregation over a LEFT join - count orders per customer
    INCLUDING zero-order customers, then histogram the counts - is
    exact.

    Scale shape: the exclusion filter pushes to the orders scan; one
    shuffle on custkey for the outer join + count; the second agg
    groups the per-customer frame by its (small-cardinality) count.
    count(o_orderkey) counts non-null join matches only - LEFT-join
    NULLs contribute the zero bucket, as in the official query.
    """
    t = load(spark, sf_dir)
    o = t["orders"].filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        t["customer"]
        .select("c_custkey")
        .join(
            o.select("o_orderkey", "o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q_tpch_q14",
    oracle="""
    SELECT round(sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END), 4) AS promo_revenue,
           round(sum(l_extendedprice * (1 - l_discount)), 4)
               AS total_revenue,
           100.0 * round(sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END), 4)
                 / round(sum(l_extendedprice * (1 - l_discount)), 4)
               AS promo_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect) - faithful: the generator ships
    p_type = 'PROMO' directly, so the promo revenue share over one
    month is the official query modulo the type being an exact match
    instead of a PROMO% prefix.

    Scale shape: month filter pushes to the lineitem scan; part
    broadcasts (only partkey + type needed); the CASE is map-side;
    output is ONE row. The percentage divides the two ROUNDED sums -
    identical doubles both engines -> identical quotient, no output
    rounding needed.
    """
    t = load(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= "1997-03-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.round(
        F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0)), 4
    )
    total = F.round(F.sum(vol), 4)
    return (
        li.join(
            t["part"].select("p_partkey", "p_type"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            promo.alias("promo_revenue"),
            total.alias("total_revenue"),
            (F.lit(100.0) * promo / total).alias("promo_pct"),
        )
    )


@register(
    "q_tpch_q15",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey,
               round(sum(l_extendedprice * (1 - l_discount)), 4)
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier) - faithful: supplier(s) achieving the
    maximum quarterly revenue, via the official view + scalar-max
    subquery shape.

    Scale shape: one shuffle to the per-supplier revenue aggregate;
    the scalar max re-aggregates that small frame and broadcasts as
    a 1-row cross join; supplier joins only the surviving row(s).
    Ties are INCLUDED (same on both engines) because the comparison
    is equality on the rounded revenue, not a LIMIT 1.
    """
    t = load(spark, sf_dir)
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1997-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("total_revenue")
        )
    )
    best = revenue.agg(F.max("total_revenue").alias("best_rev"))
    return (
        revenue.crossJoin(best)
        .filter(F.col("total_revenue") == F.col("best_rev"))
        .join(
            t["supplier"].select("s_suppkey", "s_name"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q_tpch_q17",
    oracle="""
    WITH pa AS (
        SELECT l_partkey AS pa_partkey, avg(l_quantity) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN pa   ON pa_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < 0.2 * avg_qty
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue) - faithful: lines of
    one brand whose quantity is below 20% of that part's average
    quantity (the official correlated-avg subquery, decorrelated to
    a per-part aggregate + join, which is exactly how engines execute
    it).

    Scale shape: the per-part average is one shuffle with map-side
    partials; quantities are integer-valued doubles, so the average
    (exact int sum / exact count) is bit-identical on both engines
    and the 0.2x comparison never straddles an ulp. The brand filter
    prunes part to a broadcast; the avg frame joins on partkey.
    """
    t = load(spark, sf_dir)
    p = t["part"].filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    # Filter-before-aggregate (as in Q2): the correlated average is
    # per part over ALL of that part's lines, so the brand semi-filter
    # applied before the aggregate keeps every line of the surviving
    # parts - identical averages, 25x less aggregated.
    pa = (
        t["lineitem"]
        .join(
            p,
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy(F.col("l_partkey").alias("pa_partkey"))
        .agg(F.avg("l_quantity").alias("avg_qty"))
    )
    return (
        t["lineitem"]
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(pa, F.col("pa_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly")
        )
    )


@register(
    "q_tpch_q19",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue), adapted: the official container
    / shipmode branch predicates become p_size ranges (no container
    column) - preserving the signature disjunction of three
    (brand, size-range, quantity-range) conjunctions across the
    join boundary.

    Scale shape: Catalyst splits the OR into a part-side residual
    (brand/size - prunes the broadcast build) and keeps the mixed
    part x lineitem disjunction as the join residual; the quantity
    bounds (1..30 overall) push to the lineitem scan as a derived
    range filter. One broadcast join, one scalar agg.
    """
    t = load(spark, sf_dir)
    li = t["lineitem"]
    p = t["part"].select("p_partkey", "p_brand", "p_size")
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "q_tpch_q20",
    oracle="""
    WITH promo_qty AS (
        SELECT l_suppkey, sum(l_quantity) AS qty
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_type = 'PROMO'
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(s_acctbal, 4) AS s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'AFRICA'
      AND s_suppkey IN (SELECT l_suppkey FROM promo_qty WHERE qty > 50)
    ORDER BY s_suppkey
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion), adapted: no partsupp
    availqty, so the "has excess stock to promote" predicate becomes
    "shipped more than 50 units of PROMO-type parts in 1997" - the
    derived supply relation again. The nested-semi-join chain (part
    filter -> supply aggregate -> supplier semi-join -> nation
    filter) is the official shape.

    Scale shape: PROMO part keys broadcast into the lineitem scan's
    join; one shuffle to the per-supplier quantity sum (integer-
    valued -> exact); the qualifying supplier set is tiny and
    broadcast-semi-joins the nation-filtered supplier dim.
    """
    t = load(spark, sf_dir)
    promo_parts = (
        t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")
    )
    qualified = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(
            promo_parts,
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    afr = (
        t["nation"]
        .join(
            t["region"].filter(F.col("r_name") == "AFRICA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    return (
        t["supplier"]
        .join(
            F.broadcast(afr),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .join(
            F.broadcast(qualified),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select(
            "s_suppkey", "s_name", F.round("s_acctbal", 4).alias("s_acctbal")
        )
        .orderBy("s_suppkey")
    )


@register(
    "q_tpch_q21",
    oracle="""
    WITH lo AS (
        SELECT l_orderkey, l_suppkey,
               CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                    THEN 1 ELSE 0 END AS is_late
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
    ),
    os AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END)
                   AS n_late_supp
        FROM lo GROUP BY l_orderkey
    )
    SELECT s_name, count(*) AS numwait
    FROM lo
    JOIN os USING (l_orderkey)
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE lo.is_late = 1 AND os.n_supp >= 2 AND os.n_late_supp = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted: "late"
    is shipped >90 days after the order date (no receipt/commit
    columns). The official EXISTS (another supplier on the order) +
    NOT EXISTS (another LATE supplier) pair is decorrelated into ONE
    per-order aggregate - n_supp >= 2 and n_late_supp = 1 - which is
    semantically identical and is how a scale-out engine should run
    it: two fact passes become one shuffle on orderkey instead of two
    self-joins. The oracle SQL uses the SAME derived-aggregate
    formulation so both engines compute one declared semantics.

    Scale shape: status filter pushes to the orders scan; the
    late-flagged line frame shuffles once on orderkey for the
    distinct-supplier counts, rejoins itself on that key (AQE
    broadcasts the small per-order frame at low SF), and the final
    per-supplier count is a 100-group agg. Top-20 with name
    tie-break.
    """
    t = load(spark, sf_dir)
    lo = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            t["orders"]
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                1,
            )
            .otherwise(0)
            .alias("is_late"),
        )
    )
    os = lo.groupBy(F.col("l_orderkey").alias("os_orderkey")).agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("is_late") == 1, F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    return (
        lo.filter(F.col("is_late") == 1)
        .join(os, F.col("l_orderkey") == F.col("os_orderkey"))
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(
            t["supplier"].select("s_suppkey", "s_name"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "q_tpch_q22",
    oracle=f"""
    WITH pool AS (
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM customer WHERE c_nationkey IN (2, 3, 8, 12, 17)
    ),
    thr AS (
        SELECT {sql_avg_exact('c_acctbal')} AS avg_bal
        FROM pool WHERE c_acctbal > 0
    )
    SELECT c_nationkey AS cntrycode,
           count(*) AS numcust,
           round(sum(c_acctbal), 4) AS totacctbal
    FROM pool, thr
    WHERE c_acctbal > thr.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c_nationkey
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted: the country code
    is c_nationkey itself (no phone column), and "never placed an
    order" - empty at this generator's density - becomes "no order
    since 1999" (dormant accounts), keeping the anti-join live. The
    scalar-avg subquery + NOT EXISTS + per-code rollup shape is the
    official one.

    Scale shape: the nation-set filter pushes to the customer scan;
    the positive-balance average is EXACT (integer-cent aggregation,
    one IEEE division - both engines bit-identical, so the threshold
    comparison can never straddle an ulp); recent orders prune by the
    pushed date filter before the broadcast anti-join.
    """
    t = load(spark, sf_dir)
    codes = [2, 3, 8, 12, 17]
    pool = t["customer"].filter(F.col("c_nationkey").isin(codes))
    thr = pool.filter(F.col("c_acctbal") > 0).agg(
        avg_exact("c_acctbal").alias("avg_bal")
    )
    recent = t["orders"].filter(
        F.col("o_orderdate") >= "1999-01-01"
    ).select("o_custkey")
    return (
        pool.crossJoin(thr)
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


@register(
    "q_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)      AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
               AS sum_charge,
           CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)
                 / (count(l_quantity) * 100.0) AS avg_qty,
           CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
                 / (count(l_extendedprice) * 100.0) AS avg_price,
           CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT)) AS DOUBLE)
                 / (count(l_discount) * 100.0) AS avg_disc,
           count(*)                       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report) under its OFFICIAL name and
    ordering. This is the same computation as q_agg_groupby - the
    repo's flagship query was built AS Q1 from the start (SURVEY
    §7.2) and this registration exists so the q_tpch_* namespace is
    the literal 22/22 set; the only delta is the spec's ORDER BY
    l_returnflag, l_linestatus. Delegation is deliberate and
    documented, not a hidden re-export.

    Scale shape: scan -> pushed shipdate filter -> two-phase hash
    agg; 6 groups x 8 aggregates shuffle regardless of input size.
    """
    from .aggregates import q_agg_groupby

    return q_agg_groupby(spark, sf_dir).orderBy(
        "l_returnflag", "l_linestatus"
    )
