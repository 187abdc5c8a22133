"""Joins (SURVEY §2.3): broadcast/shuffle equi joins, outer, semi,
anti, cross, theta/range, as-of, multiway star, self.

Strategy notes (100 TB posture):
- Dimensions under ``autoBroadcastJoinThreshold`` (region/nation
  always, customer at small SF) broadcast from their scan size - no
  shuffle of the fact side, and no hint: AQE also converts a join to
  broadcast at runtime when a side's real size comes in under it.
- Fact-fact joins (orders x lineitem) shuffle on the join key; both
  sides are key-partitioned so the join is co-located after one
  exchange. In a real lake, bucketing both tables by orderkey removes
  the exchange entirely.
- Skew: AQE skew-join splitting is enabled in the session factory;
  for pathological keys, salt the hot key (append key % N to both
  sides) - documented here, not needed on the synthetic data.
- Range/theta joins use a tiny broadcast band table: each fact row
  streams against the broadcast side - no N^2 shuffle.
- As-of join: Spark has no native ASOF; the union-tag + running
  ``last(ignorenulls)`` window pattern costs ONE shuffle on
  (user_id) + a sort - the same cost profile as a native asof merge
  join, and it never materializes candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..loaders import load, table
from ..registry import register
from .asof import asof_join


@register(
    "q_join_inner_broadcast",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def q_join_inner_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir)
    return (
        t["nation"]
        .join(t["region"], t["nation"].n_regionkey == t["region"].r_regionkey)
        .select("n_nationkey", "n_name", "r_name")
    )


@register(
    "q_join_inner_shuffle",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderkey, o_orderdate
    """,
)
def q_join_inner_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi join; planner picks SMJ/SHJ; AQE tunes at runtime."""
    t = load(spark, sf_dir)
    return (
        t["orders"]
        .join(t["lineitem"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
    )


@register(
    "q_join_left",
    oracle="""
    SELECT c_custkey, c_name,
           count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 4) AS total_spent
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer: customers with no orders kept (count=0, total=0)."""
    t = load(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], t["orders"].o_custkey == t["customer"].c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0)), 4).alias(
                "total_spent"
            ),
        )
    )


@register(
    "q_join_right",
    oracle="""
    SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir)
    return (
        t["orders"]
        .join(t["customer"], t["orders"].o_custkey == t["customer"].c_custkey, "right")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "q_join_full",
    oracle="""
    WITH evens AS (
      SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0
    ),
    big AS (
      SELECT o_custkey, count(*) AS n_big
      FROM orders WHERE o_totalprice > 150000 GROUP BY o_custkey
    )
    SELECT c_custkey, c_name, o_custkey, n_big
    FROM evens FULL JOIN big ON o_custkey = c_custkey
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer with unmatched rows on BOTH sides (evens vs big-spenders)."""
    t = load(spark, sf_dir)
    evens = (
        t["customer"].filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name")
    )
    big = (
        t["orders"]
        .filter(F.col("o_totalprice") > 150000)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_big"))
    )
    return evens.join(big, big.o_custkey == evens.c_custkey, "full").select(
        "c_custkey", "c_name", "o_custkey", "n_big"
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 200000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS via left_semi: no row duplication, right side only probed."""
    t = load(spark, sf_dir)
    big = t["orders"].filter(F.col("o_totalprice") > 200000)
    return (
        t["customer"]
        .join(big, big.o_custkey == t["customer"].c_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no large (>400k) order - LEFT ANTI with a
    pushed build-side filter. (The unconditioned customers-without-
    orders form was VACUOUS on this generator - every customer has
    orders, so the anti path matched nothing on both engines; the
    probed threshold keeps 20+ rows at every SF.)"""
    t = load(spark, sf_dir)
    big = t["orders"].filter(F.col("o_totalprice") > 400000)
    return (
        t["customer"]
        .join(big, big.o_custkey == t["customer"].c_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


@register(
    "q_join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir)
    return t["region"].crossJoin(t["nation"]).select("r_name", "n_name")


#: Price bands for the theta join - tiny, broadcast.
_BANDS = [
    (1, 0.0, 25000.0),
    (2, 25000.0, 50000.0),
    (3, 50000.0, 75000.0),
    (4, 75000.0, 110000.0),
]
_BANDS_VALUES = ", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _BANDS)


@register(
    "q_join_theta_range",
    oracle=f"""
    WITH bands(band_id, lo, hi) AS (VALUES {_BANDS_VALUES})
    SELECT band_id, count(*) AS n_items,
           round(sum(l_extendedprice), 4) AS band_price
    FROM lineitem JOIN bands
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band_id
    """,
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join against a broadcast band table: each fact row
    streams past the 4-row broadcast side (BroadcastNestedLoopJoin) -
    no shuffle of lineitem, scales linearly."""
    li = table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(_BANDS, "band_id INT, lo DOUBLE, hi DOUBLE")
    cond = (F.col("l_extendedprice") >= F.col("lo")) & (
        F.col("l_extendedprice") < F.col("hi")
    )
    return (
        li.join(F.broadcast(bands), cond)
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 4).alias("band_price"),
        )
    )


@register(
    "q_join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT max(v.ts) FROM events v
            WHERE v.user_id = p.user_id
              AND v.event_type = 'view'
              AND v.ts <= p.ts) AS last_view_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest view at
    or before it (DuckDB-ASOF-equivalent "latest ts' <= ts").

    Spark formulation: the reusable ``asof_join`` utility
    (operators/asof.py) - union-tag + running ``last(ignorenulls)``
    over a (user_id)-partitioned, ts-ordered window; right rows sort
    before left at equal ts so ties count as "at or before", matching
    the oracle's <=. One shuffle + one sort, no candidate pair
    blow-up - the scalable as-of pattern, property-tested against a
    brute-force reference in tests/test_asof_property.py.
    """
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    return asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="ts", payload=[]
    ).withColumnRenamed("ts_matched", "last_view_ts")


@register(
    "q_join_star_multiway",
    oracle="""
    SELECT r_name, n_name,
           count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY r_name, n_name
    """,
)
def q_join_star_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way star join: fact side shuffles once per fact-fact join;
    nation/region broadcast; customer broadcast at bench SF (AQE
    decides from runtime stats at larger SF)."""
    t = load(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
    joined = (
        li.join(t["orders"], li.l_orderkey == t["orders"].o_orderkey)
        .join(t["customer"], F.col("o_custkey") == t["customer"].c_custkey)
        .join(t["nation"], F.col("c_nationkey") == t["nation"].n_nationkey)
        .join(t["region"], F.col("n_regionkey") == t["region"].r_regionkey)
    )
    return joined.groupBy("r_name", "n_name").agg(
        F.count("*").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
    )


@register(
    "q_join_self",
    oracle="""
    SELECT a.l_orderkey AS orderkey,
           a.l_linenumber AS ln1, b.l_linenumber AS ln2,
           a.l_extendedprice + b.l_extendedprice AS pair_price
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
    """,
)
def q_join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join: unordered line-item pairs within each order."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    a = li.alias("a")
    b = li.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
    ).select(
        F.col("a.l_orderkey").alias("orderkey"),
        F.col("a.l_linenumber").alias("ln1"),
        F.col("b.l_linenumber").alias("ln2"),
        (F.col("a.l_extendedprice") + F.col("b.l_extendedprice")).alias("pair_price"),
    )


@register(
    "q_join_skew_salted",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join - the manual recipe for a hot key that overflows a
    single reducer (the case AQE's skew splitting cannot fix, e.g. one
    key larger than executor memory on the BUILD side of the pair).

    Recipe: the probe side (lineitem) gets a DETERMINISTIC salt in
    [0, S) hashed from a per-row unique key (orderkey+linenumber -
    never rand(), which would break re-runs and the oracle); the other
    side replicates each row S times, one per salt value. The join key
    becomes (orderkey, salt), so a hot orderkey's rows spread over S
    reducers instead of one. Results provably equal the unsalted join
    (each probe row still meets each matching build row exactly once);
    the oracle runs the plain join to prove it.

    Cost: S-fold replication of the salted-against side - so salt ONLY
    the hot keys in production (split the relation on a skewed-key
    list from stats, salt the hot slice, union with the plain join of
    the rest). S=8 here; size S to the hot key's row count divided by
    a healthy reducer's share.
    """
    salt_n = 8
    t = load(spark, sf_dir)
    o = t["orders"].withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1)))
    )
    li = t["lineitem"].withColumn(
        "salt",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(salt_n)).cast("int"),
    )
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
    )


@register(
    "q_join_fuzzy_levenshtein",
    oracle="""
    SELECT a.p_brand AS brand, a.p_partkey AS key1, b.p_partkey AS key2,
           a.p_name AS name1, b.p_name AS name2,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
      AND levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def q_join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) self-join: near-identical part names
    within a brand, Levenshtein distance <= 2.

    Scale shape - dictionary-level distance: edit distance is a
    function of the NAME pair, not the row pair, so distances are
    computed once over DISTINCT name pairs (a ~110x110 cross at this
    fixture, with the exact |len(a)-len(b)| lower-bound prune) and the
    tiny qualifying-pair table is then broadcast back against the
    parts. That turns 8M levenshtein calls into ~12k (measured 8x
    faster end-to-end at sf0.1), and the win grows with row count:
    string columns repeat, and any per-PAIR expensive predicate
    should run on the value dictionary, not the rows. The row-level
    join stays blocked on the equi key (p_brand) - candidates per
    block, never N^2 across the relation; at corpus scale the block
    key graduates to a cheap canopy (first token, soundex, length
    band) - same plan, finer blocks.
    """
    p = table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    names = p.select("p_name").distinct()
    na, nb = names.alias("na"), names.alias("nb")
    ndist = F.levenshtein(F.col("na.p_name"), F.col("nb.p_name"))
    name_pairs = (
        na.join(
            nb,
            (
                F.abs(
                    F.length(F.col("na.p_name")) - F.length(F.col("nb.p_name"))
                )
                <= 2
            )
            & (ndist <= 2),
        )
        .select(
            F.col("na.p_name").alias("name1"),
            F.col("nb.p_name").alias("name2"),
            ndist.alias("dist"),
        )
    )
    a, b = p.alias("a"), p.alias("b")
    return (
        a.join(F.broadcast(name_pairs), F.col("a.p_name") == F.col("name1"))
        .join(
            b,
            (F.col("b.p_brand") == F.col("a.p_brand"))
            & (F.col("b.p_name") == F.col("name2"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_brand").alias("brand"),
            F.col("a.p_partkey").alias("key1"),
            F.col("b.p_partkey").alias("key2"),
            "name1",
            "name2",
            "dist",
        )
    )


@register(
    "q_join_bloom_prefilter",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o
    WHERE o.o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join with an EXPLICIT Bloom-filter prefilter on the probe
    side: build a k=3 / m=2^16-bit Bloom bitmap from the (filtered)
    customer keys as a map<word_index, 64-bit word>, deliver it to the
    probe as an uncorrelated SCALAR SUBQUERY, and drop probe rows
    whose key misses ANY of the 3 bit positions. The semi join then
    removes Bloom false positives, so the output is byte-identical to
    the plain semi join (the oracle).

    The scalar-subquery formulation matters: an earlier
    crossJoin(broadcast(bitmap)) draft let Catalyst push the
    broadcast-semi join BELOW the cross join, applying the "prefilter"
    after the join it was meant to protect. As a subquery the Bloom
    test is a plain single-table predicate on orders, so it pushes to
    the scan, strictly below the semi join - plan-audited in PLANS.md
    (Filter above Scan, below BroadcastHashJoin LeftSemi).

    Scale rationale: at 100 TB the probe side dominates shuffle cost.
    A Bloom prefilter with selectivity s cuts the probe rows entering
    any exchange to ~s+FP of the total, for a bitmap cost of m/8 bytes
    (8 KiB here) evaluated once per executor - the same trick Spark's
    own runtime row-level filtering injects, written out explicitly so
    the mechanism (hash family, word packing, all-bits-set test) is
    visible and testable. All JVM-side: xxhash64/pmod/bit ops inside
    whole-stage codegen, no UDFs.
    """
    m_bits = 1 << 16  # 65,536 bits = 8 KiB bitmap
    n_hashes = 3
    load(spark, sf_dir)  # register temp views for the SQL text

    seg = "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
    pos_build = ", ".join(
        f"pmod(xxhash64(c_custkey, {i}), {m_bits})" for i in range(n_hashes)
    )
    tests = []
    for i in range(n_hashes):
        p = f"pmod(xxhash64(o_custkey, {i}), {m_bits})"
        word = f"element_at((SELECT m FROM bloom), cast({p} div 64 AS int))"
        tests.append(
            f"coalesce((shiftright({word}, cast({p} % 64 AS int)) & 1L) = 1L,"
            " false)"
        )
    return spark.sql(f"""
        WITH pos AS (
          SELECT explode(array({pos_build})) AS p FROM ({seg})
        ),
        words AS (
          SELECT cast(p div 64 AS int) AS w,
                 bit_or(shiftleft(1L, cast(p % 64 AS int))) AS bits
          FROM pos GROUP BY cast(p div 64 AS int)
        ),
        bloom AS (
          SELECT map_from_entries(collect_list(struct(w, bits))) AS m
          FROM words
        )
        SELECT o_orderpriority,
               count(*) AS n_orders,
               cast(sum(o_totalprice * 100) AS bigint) AS cents
        FROM orders
        WHERE {" AND ".join(tests)}
          AND o_custkey IN ({seg})
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """)


@register(
    "q_join_range_bucketed",
    oracle="""
    WITH err AS (
      SELECT event_id AS err_id, ts FROM events WHERE event_type = 'error'
    ),
    clk AS (
      SELECT ts AS tc FROM events WHERE event_type = 'click'
    )
    SELECT err_id,
           CAST(count(tc) AS BIGINT) AS n_clicks
    FROM err LEFT JOIN clk
      ON tc >= ts AND tc < ts + INTERVAL 30 MINUTE
    GROUP BY err_id
    ORDER BY err_id
    """,
)
def q_join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both-sides-large interval join done the scalable way: count the
    click events inside each error event's 30-minute follow window.

    A raw non-equi join (the oracle's formulation - fine for DuckDB at
    sf0.01) is O(|intervals| x |points|) on a cluster: Spark can only
    run it as a nested-loop join. The scale recipe is BUCKETIZATION:
    quantize time into interval-length buckets, explode each interval
    to the (at most 2) buckets it overlaps, equi-join on bucket, and
    re-check the exact range as a residual predicate. The join becomes
    a plain shuffle/broadcast HASH join whose volume is
    sum-per-bucket(intervals x points) - linear for any time-local
    workload - instead of |I| x |P|. Each (interval, point) match is
    found exactly once because a point lives in exactly one bucket.

    The left join back to the interval side keeps zero-count windows,
    matching the oracle's LEFT JOIN semantics.
    """
    w_us = 30 * 60 * 1_000_000  # window length == bucket width, in us
    e = table(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.unix_micros("ts").alias("t0"),
    )
    # Bucket index via integer `div`, never float-divide-then-cast:
    # double division can round across an integer boundary for large
    # epoch-micros, and trunc-toward-zero `div` applied identically on
    # both sides keeps every point in exactly one bucket by
    # construction (monotone, step <= w_us, endpoints enumerated).
    clk = e.filter(F.col("event_type") == "click").select(
        F.unix_micros("ts").alias("tc"),
        F.expr(f"unix_micros(ts) div {w_us}").alias("bucket"),
    )
    err_b = err.select(
        "err_id",
        "t0",
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"t0 div {w_us}"),
                    F.expr(f"(t0 + {w_us}) div {w_us}"),
                )
            )
        ).alias("bucket"),
    )
    hits = (
        err_b.join(clk, "bucket")
        .filter((F.col("tc") >= F.col("t0")) & (F.col("tc") < F.col("t0") + w_us))
        .groupBy("err_id")
        .agg(F.count("*").alias("n_clicks"))
    )
    return (
        err.join(hits, "err_id", "left")
        .select(
            "err_id",
            F.coalesce(F.col("n_clicks"), F.lit(0)).cast("bigint").alias("n_clicks"),
        )
        .orderBy("err_id")
    )


@register(
    "q_join_null_safe",
    oracle="""
    WITH c2 AS (
      SELECT nullif(c_mktsegment, 'BUILDING') AS seg, c_custkey
      FROM customer
    ),
    d AS (SELECT DISTINCT seg FROM c2)
    SELECT d.seg,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM c2 JOIN d ON c2.seg IS NOT DISTINCT FROM d.seg
    GROUP BY d.seg
    ORDER BY d.seg NULLS FIRST
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of silently dropping - the semantic
    that separates a correct dimension join over incomplete data from
    a plain equi join (which would lose every NULL-keyed row). The
    'BUILDING' segment is deterministically nulled to create the NULL
    key population; the NULL group must survive the join with its
    full count.

    Plan note: Spark executes EqualNullSafe as a hash join key (it is
    an equivalence relation), NOT a nested loop - same shuffle/
    broadcast shape as a plain equi join.
    """
    c = table(spark, sf_dir, "customer")
    c2 = c.select(
        F.expr("nullif(c_mktsegment, 'BUILDING')").alias("seg"), "c_custkey"
    )
    d = c2.select("seg").distinct().withColumnRenamed("seg", "d_seg")
    return (
        c2.join(F.broadcast(d), F.col("seg").eqNullSafe(F.col("d_seg")))
        .groupBy("d_seg")
        .agg(F.count("*").cast("bigint").alias("n_customers"))
        .select(F.col("d_seg").alias("seg"), "n_customers")
        .orderBy(F.col("seg").asc_nulls_first())
    )


ASOF_NEAREST_TOL_US = 3_600_000_000  # 1 hour


@register(
    "q_join_asof_nearest",
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS click_id, user_id, ts AS cts
      FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id, n.click_id, n.cts AS click_ts,
           CAST(n.adiff AS BIGINT) AS diff_us
    FROM p LEFT JOIN LATERAL (
      SELECT click_id, cts, abs(epoch_us(cts - p.ts)) AS adiff
      FROM c
      WHERE c.user_id = p.user_id
        AND abs(epoch_us(cts - p.ts)) <= {ASOF_NEAREST_TOL_US}
      ORDER BY adiff, cts, click_id DESC
      LIMIT 1
    ) n ON true
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join: each purchase matched to the closest click
    of the same user within +-1 hour, in EITHER direction (pandas
    merge_asof direction='nearest'); ties by absolute distance prefer
    the earlier (backward) click, then the larger click_id.

    Built as TWO passes of the one-shuffle asof_join utility -
    backward as-is, forward by negating the time axis (earliest
    click >= t under negation IS latest <= -t) - then a map-only
    pick of the nearer match. Cost: 2 x (one shuffle + one sort),
    never a candidate-pair range join; the oracle is the quadratic
    LATERAL formulation with the identical tie rule.
    """
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t_us")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.unix_micros("ts").alias("c_us"),
    )
    tol = F.lit(ASOF_NEAREST_TOL_US)
    back = asof_join(
        p, c, on="user_id", left_ts="t_us", right_ts="c_us",
        payload=["click_id"], tolerance=tol,
    ).select(
        "event_id",
        F.col("click_id").alias("b_click"),
        F.col("c_us_matched").alias("b_cus"),
    )
    fwd = asof_join(
        p.select("event_id", "user_id", (-F.col("t_us")).alias("nt_us")),
        c.select("user_id", "click_id", (-F.col("c_us")).alias("nc_us")),
        on="user_id", left_ts="nt_us", right_ts="nc_us",
        payload=["click_id"], tolerance=tol,
    ).select(
        "event_id",
        F.col("click_id").alias("f_click"),
        (-F.col("nc_us_matched")).alias("f_cus"),
    )
    j = p.join(back, "event_id").join(fwd, "event_id")
    b_diff = F.col("t_us") - F.col("b_cus")
    f_diff = F.col("f_cus") - F.col("t_us")
    take_back = F.col("b_cus").isNotNull() & (
        F.col("f_cus").isNull() | (b_diff <= f_diff)
    )
    click_id = F.when(take_back, F.col("b_click")).otherwise(F.col("f_click"))
    click_us = F.when(take_back, F.col("b_cus")).otherwise(F.col("f_cus"))
    diff = F.when(take_back, b_diff).otherwise(f_diff)
    return j.select(
        "event_id",
        "user_id",
        click_id.alias("click_id"),
        F.timestamp_micros(click_us).alias("click_ts"),
        diff.cast("bigint").alias("diff_us"),
    )


OVL_W_US = 21_600_000_000  # 6-hour busy-window buckets


@register(
    "q_join_interval_overlap",
    oracle=f"""
    WITH sess AS (
      SELECT user_id, session_id,
             min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
      FROM (
        SELECT user_id, ts, event_id,
               CAST(sum(CASE WHEN prev_us IS NULL
                              OR epoch_us(ts) - prev_us > 1800000000
                         THEN 1 ELSE 0 END) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS session_id
        FROM (
          SELECT user_id, ts, event_id,
                 lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
          FROM events))
      GROUP BY user_id, session_id
    ),
    buckets AS (
      SELECT epoch_us(ts) // {OVL_W_US} AS b,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    busy AS (
      SELECT b, n_events FROM buckets
      WHERE n_events > 1.2 * (SELECT avg(n_events) FROM buckets)
    )
    SELECT make_timestamp(busy.b * {OVL_W_US}) AS window_start,
           any_value(busy.n_events) AS n_busy_events,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT sess.user_id) AS BIGINT) AS n_users
    FROM busy JOIN sess
      ON sess.s_us < (busy.b + 1) * {OVL_W_US}
     AND busy.b * {OVL_W_US} <= sess.e_us
    GROUP BY busy.b
    """,
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval OVERLAP join (both sides are time ranges):
    per-user activity sessions (30-min-gap sessionization) joined to
    'busy' 6-hour windows (bucket event count > 1.2x the bucket
    average, an in-plan scale-free threshold) wherever the two ranges
    intersect - how many sessions/users were live during each busy
    period.

    Scale shape: the oracle's `s < we AND ws <= e` theta join is a
    nested loop at scale. Because the busy windows tile time in
    aligned W=6h buckets, a session [s, e] overlaps bucket b iff
    b IN [s div W, e div W] - so the engine EXPLODES each session
    into its covered bucket ids (sequence(); replication factor
    ~ session_dur/W + 1, tiny) and the overlap becomes an EQUI join
    on b with map-side partial aggregation. Same decomposition as
    q_join_range_bucketed but for interval-interval semantics, and
    the general alignment trick behind hypertable interval rollups.
    Integer `div` floor-division on epoch-micros on BOTH sides (the
    r5 negative-epoch bucket rule).
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    sess = (
        ev.withColumn(
            "is_new",
            F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts_us").alias("s_us"), F.max("ts_us").alias("e_us"))
    )
    buckets = ev.groupBy(
        F.expr(f"ts_us div {OVL_W_US}").alias("b")
    ).agg(F.count("*").alias("n_events"))
    busy = buckets.join(
        buckets.agg(F.avg("n_events").alias("avg_n"))
    ).filter(F.col("n_events") > 1.2 * F.col("avg_n")).select("b", "n_events")
    covered = sess.select(
        "user_id",
        F.explode(
            F.sequence(
                F.expr(f"s_us div {OVL_W_US}"), F.expr(f"e_us div {OVL_W_US}")
            )
        ).alias("b"),
    )
    return (
        covered.join(F.broadcast(busy), "b")
        .groupBy("b")
        .agg(
            F.first("n_events").alias("n_busy_events"),
            F.count("*").alias("n_sessions"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.timestamp_micros(F.col("b") * OVL_W_US).alias("window_start"),
            "n_busy_events",
            "n_sessions",
            "n_users",
        )
    )


_LATERAL_SQL = """
    SELECT c_custkey, c_mktsegment,
           o.o_orderkey,
           round(o.o_totalprice, 4) AS o_totalprice,
           o.rk
    FROM customer,
    LATERAL (SELECT o_orderkey, o_totalprice,
                    row_number() OVER (ORDER BY o_totalprice DESC,
                                       o_orderkey) AS rk
             FROM orders
             WHERE o_custkey = c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
    WHERE c_custkey <= 200
"""


@register(
    "q_join_lateral_topn",
    oracle=_LATERAL_SQL,
)
def q_join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: each customer's top-2 orders by price
    via a per-row subquery - the declarative form of top-N-per-group
    that arrives as a JOIN, not a window-then-filter (both engines
    run the SAME SQL text, EP3 style). Catalyst decorrelates the
    LATERAL LIMIT into a partitioned rank under the hood, so the
    declared per-row semantics execute as one shuffle + group
    limit - write the intent, let the optimizer pick the join
    strategy.

    Scale shape: decorrelation turns N per-customer probes into a
    single orders shuffle keyed on custkey with the rank pushed into
    it; the alternative interpretation (re-executing the subquery
    per outer row) would be N scans and is exactly what the rewrite
    avoids. Deterministic: price ties broken by orderkey inside the
    LATERAL's ORDER BY.
    """
    load(spark, sf_dir)  # registers the temp views for the SQL
    return spark.sql(_LATERAL_SQL)


@register(
    "q_join_asof_tolerance",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT max(v.ts) FROM events v
            WHERE v.user_id = p.user_id
              AND v.event_type = 'view'
              AND v.ts <= p.ts
              AND v.ts >= p.ts - INTERVAL 1 HOUR) AS last_view_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-staleness as-of join: each purchase matched to the
    user's latest view at or before it, but ONLY within a 1-hour
    tolerance - stale matches become NULL instead of silently
    attributing to hours-old context (pandas merge_asof
    tolerance= / feature-store point-in-time freshness semantics;
    compare q_join_asof, which accepts any age).

    Spark formulation: the SAME one-shuffle union-tag asof_join
    utility with its tolerance column bound - the staleness check is
    applied to the matched struct inside the window pass, so the
    plan cost is identical to the unbounded as-of (no extra join, no
    range-candidate blow-up) at any scale.
    """
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    return asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        payload=[],
        tolerance=F.expr("INTERVAL 1 HOURS"),
    ).withColumnRenamed("ts_matched", "last_view_ts")


GEO_EARTH_R_KM = 6371.0


@register(
    "q_join_geo_nearest",
    oracle=f"""
    WITH sites AS (
      SELECT n_nationkey AS site_id, n_name,
             CAST((n_nationkey * 7) % 140 - 70 AS DOUBLE) + 0.5 AS slat,
             CAST((n_nationkey * 37) % 360 - 180 AS DOUBLE) + 0.5 AS slon
      FROM nation
    ),
    cust AS (
      SELECT c_custkey,
             CAST((c_custkey * 31 + 17) % 160 - 80 AS DOUBLE) + 0.25 AS clat,
             CAST((c_custkey * 61 + 29) % 360 - 180 AS DOUBLE) + 0.25 AS clon
      FROM customer
    ),
    dists AS (
      SELECT c_custkey, site_id, n_name,
             round(2 * {GEO_EARTH_R_KM} * asin(sqrt(
               sin(radians(slat - clat) / 2) * sin(radians(slat - clat) / 2)
               + cos(radians(clat)) * cos(radians(slat))
                 * sin(radians(slon - clon) / 2)
                 * sin(radians(slon - clon) / 2))), 6) AS dist_km
      FROM cust CROSS JOIN sites
    ),
    nearest AS (
      SELECT c_custkey, site_id, n_name, dist_km,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY dist_km, site_id) AS rn
      FROM dists
    )
    SELECT CAST(site_id AS BIGINT) AS site_id, n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(avg(dist_km), 4) AS avg_dist_km
    FROM nearest WHERE rn = 1
    GROUP BY site_id, n_name
    """,
)
def q_join_geo_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo nearest-site assignment: every customer is assigned to the
    closest of 25 warehouse sites by exact haversine distance, then
    rolled up to site demand (count + mean distance) - the
    facility-assignment / catchment-area query. Coordinates are
    DERIVED deterministically from the keys (integer-modular spread
    onto the globe) since the schema carries none; a real deployment
    swaps in the stored lat/lon columns, the plan is unchanged.

    Determinism protocol: the argmin orders by the 6dp-ROUNDED
    distance with site_id as tie-break, so a last-ulp libm
    difference between engines cannot flip the assignment (it would
    need a true .5 boundary on the 6th decimal of an irrational -
    measure zero); site coordinates are pairwise distinct by
    construction (gcd(37,360) spread).

    Scale shape: the site table is a broadcast CROSS join (25 rows -
    bounded candidate set per customer), argmin is a WindowGroupLimit
    rank over 25 rows per key, then one two-phase site rollup. At
    100 TB with a LARGE site table, the cross join becomes a geohash
    prefix-bucket equi-join (each point probes its cell + 8
    neighbors) - same downstream argmin/rollup.
    """
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    # the +0.5 lands OUTSIDE the integer-modular cast, exactly as the
    # oracle writes it
    sites = n.select(
        F.col("n_nationkey").alias("site_id"),
        "n_name",
        (((F.col("n_nationkey") * 7) % 140 - 70).cast("double") + 0.5)
          .alias("slat"),
        (((F.col("n_nationkey") * 37) % 360 - 180).cast("double") + 0.5)
          .alias("slon"),
    )
    cust = c.select(
        "c_custkey",
        (((F.col("c_custkey") * 31 + 17) % 160 - 80).cast("double") + 0.25)
          .alias("clat"),
        (((F.col("c_custkey") * 61 + 29) % 360 - 180).cast("double") + 0.25)
          .alias("clon"),
    )
    dlat = F.radians(F.col("slat") - F.col("clat")) / 2
    dlon = F.radians(F.col("slon") - F.col("clon")) / 2
    hav = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.radians("clat")) * F.cos(F.radians("slat"))
        * F.sin(dlon) * F.sin(dlon)
    )
    dists = cust.crossJoin(F.broadcast(sites)).select(
        "c_custkey",
        "site_id",
        "n_name",
        F.round(2 * GEO_EARTH_R_KM * F.asin(F.sqrt(hav)), 6).alias("dist_km"),
    )
    w = Window.partitionBy("c_custkey").orderBy("dist_km", "site_id")
    nearest = dists.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return nearest.groupBy(
        F.col("site_id").cast("bigint").alias("site_id"), "n_name"
    ).agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.round(F.avg("dist_km"), 4).alias("avg_dist_km"),
    )


@register(
    "q_join_asof_forward",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT min(v.ts) FROM events v
            WHERE v.user_id = p.user_id
              AND v.event_type = 'view'
              AND v.ts >= p.ts) AS next_view_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each purchase matched to the user's
    EARLIEST view at or after it (pandas merge_asof
    direction='forward'; "what did they look at next") - the mirror
    of q_join_asof's backward match and the missing half of the
    as-of family (backward / nearest / tolerance / forward now all
    ship on the same engine).

    Spark formulation: the same reusable asof_join utility
    (operators/asof.py) scanned in DESCENDING ts order - every view
    later than a purchase precedes it in the scan, so the running
    last(ignorenulls) holds the earliest at-or-after view when the
    purchase row arrives; right rows sort before left at equal ts so
    ties count as "at or after", matching the oracle's >=. One
    shuffle + one per-user sort, no candidate pair blow-up;
    property-tested against a brute-force reference in
    tests/test_asof_property.py.
    """
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    return asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="ts",
        payload=[], direction="forward",
    ).withColumnRenamed("ts_matched", "next_view_ts")
