"""User-defined function surface (SURVEY §2.10): scalar Python UDF,
Arrow-vectorized pandas UDF, grouped-map applyInPandas, grouped-agg
pandas UDF, and a Python UDTF (Spark 4).

UDFs are the slow path (SURVEY preamble): everything here has a
built-in equivalent used as the oracle; the point of these keys is
the *surface*, and the oracle proves the UDF computes what it claims.
Pandas UDFs move data as Arrow batches (columnar, zero-copy-ish);
plain Python UDFs serialize row-at-a-time and are 10-100x slower -
documented here, benched in bench.py.

100 TB posture: pandas UDFs scale with partitions like any narrow
transformation; applyInPandas shuffles on the grouping key and the
per-group pandas frame must fit in worker memory - group by
high-cardinality keys only.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..loaders import table
from ..registry import register



@register(
    "udf_python_scalar",
    oracle="""
    SELECT doc_id,
           regexp_replace(lower(trim(text)), '[0-9]+', '#', 'g') AS normalized
    FROM documents
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF: text normalizer (lower, trim, digit
    runs -> '#'). ASCII-only operations so Python str semantics match
    the SQL oracle exactly."""

    digit_run = re.compile(r"[0-9]+")

    @F.udf(returnType=T.StringType(), useArrow=False)
    def normalize(s: str) -> str:
        return digit_run.sub("#", s.strip().lower())

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", normalize("text").alias("normalized"))


@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
    FROM embeddings
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas UDF: numpy batch L2 norm over the
    embedding column (float64 accumulation, rounded 4 dp - numpy's
    pairwise summation differs from sequential folds in the last ulp)."""

    @F.pandas_udf(T.DoubleType())
    def l2_norm(vecs: pd.Series) -> pd.Series:
        return vecs.map(
            lambda v: round(float(np.sqrt(np.sum(np.square(np.asarray(v, dtype=np.float64))))), 4)
        )

    e = table(spark, sf_dir, "embeddings")
    return e.select("vec_id", l2_norm("embedding").alias("l2_norm"))


@register(
    "udf_grouped_map",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
                 / (count(*) * 100.0) AS mean_value,
           round(max(value) - min(value), 4) AS value_range
    FROM events
    GROUP BY user_id
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-user event statistics computed in
    pandas (one group = one in-memory frame; shuffle on user_id)."""

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("mean_value", T.DoubleType()),
            T.StructField("value_range", T.DoubleType()),
        ]
    )

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].to_numpy(dtype=np.float64)
        # Exact-decimal mean: integer cents, ONE double division and
        # no rounding - bit-identical to the SQL oracle's division.
        cents = int(np.rint(v * 100).astype(np.int64).sum())
        mean = cents / (len(v) * 100.0)
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(v)],
                "mean_value": [mean],
                "value_range": [round(float(v.max() - v.min()), 4)],
            }
        )

    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").applyInPandas(stats, schema=schema)


@register(
    "udf_pandas_agg",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)
                    * CAST(json_extract_string(props, '$.k') AS INTEGER))
                AS DOUBLE)
                 / (CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
                         AS DOUBLE) * 100.0) AS weighted_value
    FROM events
    GROUP BY event_type
    """,
)
def udf_pandas_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via GROUPED_AGG pandas UDF: k-weighted mean of
    value (weights from the JSON props field, extracted JVM-side so
    only two numeric columns cross the Arrow boundary)."""

    @F.pandas_udf("double")
    def weighted_mean(v: pd.Series, w: pd.Series) -> float:
        # Series -> scalar type hints mark this as a GROUPED_AGG UDF.
        # Exact integer arithmetic (cents * weight), one division.
        cents = np.rint(v.to_numpy(dtype=np.float64) * 100).astype(np.int64)
        wt = w.to_numpy(dtype=np.int64)
        return float(int((cents * wt).sum()) / (float(int(wt.sum())) * 100.0))

    ev = table(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("int")
    )
    return ev.groupBy("event_type").agg(
        weighted_mean("value", "k").alias("weighted_value")
    )


@register(
    "udtf_python",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      WHERE doc_id < 100
    ),
    nums AS (SELECT range AS i FROM range(0, 512))
    SELECT doc_id, i AS pos, t[i + 1] AS token
    FROM toks, nums
    WHERE i < len(t)
    """,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): one input row -> many output rows
    (token, 0-based position). The oracle reproduces the same rows
    with a bounded index table."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, token: string")
    class Tokenize:
        def eval(self, text: str):  # noqa: D102
            for pos, tok in enumerate(text.lower().split(" ")):
                yield pos, tok

    spark.udtf.register("pudl_tokenize", Tokenize)
    load_view = table(spark, sf_dir, "documents")  # registers views
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM documents d, LATERAL pudl_tokenize(d.text) t
        WHERE d.doc_id < 100
        """
    )


@register(
    "udf_sql_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged,
           CASE WHEN l_quantity >= 30 THEN 'bulk' ELSE 'retail' END
             AS order_class
    FROM lineitem
    WHERE l_returnflag = 'R'
    """,
)
def udf_sql_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar functions (Spark 4 `CREATE FUNCTION ...
    RETURN expr`): the charged-amount and order-class business rules
    declared ONCE as catalog functions and reused by name. Unlike
    Python UDFs these are inlined by Catalyst at analysis time - the
    plan is identical to writing the expression inline (codegen,
    pushdown, no serialization boundary), which is why they are the
    FIRST choice for shared business logic at 100 TB; the oracle
    states the inlined expression directly. charged is per-row
    arithmetic, so it is deliberately UNROUNDED (identical IEEE ops
    both sides - the functions/exact.py rule; a 4-dp round tripped
    the HALF_UP/HALF_EVEN divergence on one true-.5 row at sf0.001).
    """
    table(spark, sf_dir, "lineitem")  # registers the view
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION pudl_charged("
        "p DOUBLE, d DOUBLE, t DOUBLE) RETURNS DOUBLE "
        "RETURN p * (1 - d) * (1 + t)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION pudl_order_class(q DOUBLE) "
        "RETURNS STRING "
        "RETURN CASE WHEN q >= 30 THEN 'bulk' ELSE 'retail' END"
    )
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               pudl_charged(l_extendedprice, l_discount, l_tax) AS charged,
               pudl_order_class(l_quantity) AS order_class
        FROM lineitem
        WHERE l_returnflag = 'R'
        """
    )


@register(
    "udf_sql_table",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 250000
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def udf_sql_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined TABLE function (Spark 4 `CREATE FUNCTION ...
    RETURNS TABLE`): the 'big orders' slice declared once as a
    parameterized catalog relation and consumed with plain FROM -
    the reusable-view-with-arguments pattern (what dbt macros /
    parameterized views compile to). Like SQL scalar functions the
    body INLINES at analysis time: the plan below the call is
    identical to writing the query by hand - pushdown through the
    function boundary, no materialization, no serialization - which
    is why this beats a Python data source for shared slices at
    100 TB. The oracle states the inlined query.
    """
    table(spark, sf_dir, "orders")
    table(spark, sf_dir, "customer")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION pudl_big_orders(thresh DOUBLE)
        RETURNS TABLE (o_custkey BIGINT, o_totalprice DOUBLE)
        RETURN SELECT o_custkey, o_totalprice FROM orders
               WHERE o_totalprice > thresh
        """
    )
    return spark.sql(
        """
        SELECT c.c_mktsegment,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(b.o_totalprice), 2) AS revenue
        FROM pudl_big_orders(250000.0) b
        JOIN customer c ON b.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
        """
    )


@register(
    "udtf_table_arg",
    oracle="""
    SELECT lang,
           CAST(sum(CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_long,
           CAST(sum(CASE WHEN n_chars < 500 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_short
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a TABLE argument (Spark 4 polymorphic table
    function): the UDTF consumes `TABLE(SELECT ...)` row-by-row and
    emits a classified stream, which SQL then aggregates - the
    newest UDF surface generation (beyond the scalar/grouped 3.x
    forms already covered by udf_* / udtf_python). The Python body
    is a trivial length gate ON PURPOSE: the operator exists to pin
    the TABLE-argument calling convention and its Arrow row
    transport, and the oracle proves the roundtrip against the pure
    SQL equivalent.

    Scale note: TABLE-arg UDTFs evaluate per-partition like any
    Python eval node; this is the declared-UDF surface, not a hot
    path (the SQL CASE twin in the oracle IS the production form).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="lang STRING, is_long INT")
    class LengthGate:
        def eval(self, row):
            yield str(row["lang"]), 1 if int(row["n_chars"]) >= 500 else 0

    spark.udtf.register("pudl_length_gate", LengthGate)
    table(spark, sf_dir, "documents")
    return spark.sql(
        """
        SELECT lang,
               CAST(sum(is_long) AS BIGINT) AS n_long,
               CAST(sum(1 - is_long) AS BIGINT) AS n_short
        FROM pudl_length_gate(TABLE(SELECT lang, n_chars FROM documents))
        GROUP BY lang
        ORDER BY lang
        """
    )
