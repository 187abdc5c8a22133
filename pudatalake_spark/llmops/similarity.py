"""Vector similarity search over the embeddings table (SURVEY §2.10):
brute-force cosine top-k, thresholded all-pairs within blocks, kNN
classification, and an LSH-bucketed approximate path.

Cosine is computed in float64 on both engines (embeddings are
float32 on disk; both sides cast before arithmetic), rounded to 6 dp,
and ranked by (rounded score DESC, vec_id) so ordering and top-k
cut-offs are deterministic and engine-independent.

100 TB posture:
- top-k for a bounded query set: broadcast the queries; candidates
  stream past them - no shuffle of the candidate table, O(|C|*|Q|)
  flops fully parallel, per-partition top-k heaps via window+filter.
- all-pairs threshold: NEVER the raw cross join - block first (here:
  the label column; generally an LSH bucket), join within blocks.
- approximate path (q_sim_ann_lsh): sign-bit LSH buckets from fixed
  projection dims - deterministic, oracle-able, and the bucket join
  touches ~1/2^b of the candidates per query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..loaders import spread, table
from ..registry import register
from ..session import superstep_checkpoint

COS_TAU = 0.3
TOP_K = 5
IVF_CENTROIDS = 8
IVF_NPROBE = 2
# q_sim_threshold_pairs GEMM tiling (r10): 2048-row blocks keep the
# per-task score tile at 2048^2 float64 = 32 MiB; the margin bounds
# numpy-vs-SQL-fold summation-order drift (O(1e-15) for 64-dim dots,
# so 1e-4 is ~11 decades of slack) making the prefilter lossless.
GEMM_BLOCK = 2048
GEMM_MARGIN = 1e-4


def _vd(col: str):
    """float32 array -> float64 array (match DuckDB's CAST-first)."""
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _with_norm(df: DataFrame) -> DataFrame:
    """Attach the L2 norm as a column, computed ONCE per row.

    Higher-order array functions are interpreted (no codegen), so a
    cosine written as dot(a,b)/(sqrt(dot(a,a))*sqrt(dot(b,b))) costs
    three array passes PER PAIR. sqrt(dot(v,v)) is a pure function of
    the row, so hoisting it to a column leaves one array pass per pair
    and keeps the arithmetic bit-identical to the oracle's formula
    (same IEEE ops on the same values, just not recomputed)."""
    return df.withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))


def _cos_pre(a_v, a_n, b_v, b_n):
    """Cosine from pre-computed norms: dot(a,b) / (|a| * |b|)."""
    return _dot(a_v, b_v) / (a_n * b_n)


def _cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


_DUCK_COS = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _duck_cos(a: str, b: str) -> str:
    return _DUCK_COS.format(a=a, b=b)


@register(
    "q_sim_cosine_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round({_duck_cos("q.v", "c.v")}, 6) AS cos_sim
      FROM q JOIN e c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, cand_id, cos_sim
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
)
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 query vectors:
    broadcast queries x streamed candidates, per-query top-k window."""
    e = _with_norm(
        spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
            "vec_id", _vd("embedding").alias("v")
        )
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.round(
                _cos_pre(F.col("qv"), F.col("qn"), F.col("v"), F.col("nrm")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "cand_id", "cos_sim")
    )


@register(
    "q_sim_threshold_pairs",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
    SELECT a.label AS label, a.vec_id AS vec1, b.vec_id AS vec2,
           round({_duck_cos("a.v", "b.v")}, 6) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round({_duck_cos("a.v", "b.v")}, 6) >= {COS_TAU}
    """,
)
def q_sim_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine >= 0.3 within the same label block (the
    blocked formulation of all-pairs similarity: label partitions the
    N^2 into 10 independent (N/10)^2 problems).

    Why this stays exact-quadratic-within-block instead of LSH-banded
    like q_dedup_embedding: sign-bit LSH recall for a cosine-0.3 pair
    is 1 - (1 - (1 - theta/pi)^r)^b with theta ~ 72.5 deg, i.e.
    ~0.6 per bit - strictly below 1 for ANY (r, b), so banding WOULD
    drop true pairs and break this operator's exact contract (the
    oracle hash-match). tau = 0.3 is simply too low an angle for
    provable LSH recall. Norm-prefix pruning is equally dead on dense
    embeddings (measured NEGATIVE, SCALING section 23: the corpus is
    per-vector isotropic, so the Cauchy-Schwarz bound prunes nothing).

    With pruning provably unavailable, the scale lever is ARITHMETIC
    THROUGHPUT, not pair count: the N^2-by-contract pairs are scored
    as blocked matrix products (filter-and-refine, r10):

    1. Each label's vectors are cut into position-ordered blocks of
       GEMM_BLOCK rows; block pairs (bi <= bj) are enumerated from the
       tiny (label, blk) spine (broadcast join) and each pair's two
       blocks meet in one applyInPandas task that computes the full
       cos matrix as a float64 GEMM - ~100x the throughput of the
       previous per-pair interpreted array-aggregate, same flop count.
    2. The GEMM keeps pairs with cos >= tau - GEMM_MARGIN. Summation
       order in a 64-term float64 dot differs between numpy and the
       SQL fold by O(1e-15), so GEMM_MARGIN = 1e-4 makes the
       prefilter provably lossless.
    3. Survivors (a vanishing fraction) are re-scored JVM-side with
       the same _cos_pre fold the oracle uses - the emitted cos_sim
       is bit-identical to the pre-r10 implementation, so the oracle
       contract is untouched by the numpy surface.

    At 100 TB the plan is shuffle-light: block replication is
    n_blocks-fold within a label (sqrt of the pair fan-out), each
    task's working set is 2 * GEMM_BLOCK * 64 doubles + the score
    tile, and the refine join is driven by the (rare) candidate set.
    The declared approximate alternative for tau >= 0.7 regimes
    remains q_sim_ann_lsh / q_dedup_embedding (SCALING sections 4, 7).
    """
    import numpy as np
    import pandas as pd

    e = _with_norm(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", _vd("embedding").alias("v")
        )
    )
    # Position-ordered blocks: within a label, block bi holds strictly
    # smaller vec_ids than block bj > bi (row_number over vec_id), so
    # cross-block tasks emit vec1 < vec2 without a per-pair compare.
    wb = Window.partitionBy("label").orderBy("vec_id")
    blocked = e.withColumn(
        "blk", ((F.row_number().over(wb) - F.lit(1)) / F.lit(GEMM_BLOCK)).cast("int")
    )
    blks = blocked.select("label", "blk").distinct()
    bx, by = blks.alias("bx"), blks.alias("by")
    pairs = (
        bx.join(
            F.broadcast(by),
            (F.col("bx.label") == F.col("by.label"))
            & (F.col("bx.blk") <= F.col("by.blk")),
        )
        .select(
            F.col("bx.label").alias("label"),
            F.col("bx.blk").alias("bi"),
            F.col("by.blk").alias("bj"),
        )
    )
    def _ship(pair_side: DataFrame, blk_col: str, side: int) -> DataFrame:
        p, r = pair_side.alias("p"), blocked.alias("r")
        return (
            F.broadcast(p)
            .join(
                r,
                (F.col("p.label") == F.col("r.label"))
                & (F.col(f"p.{blk_col}") == F.col("r.blk")),
            )
            .select(
                F.col("r.label").alias("label"), "p.bi", "p.bj",
                "r.vec_id", "r.v", "r.nrm", F.lit(side).alias("side"),
            )
        )

    side_a = _ship(pairs, "bi", 0)
    side_b = _ship(pairs.filter(F.col("bi") < F.col("bj")), "bj", 1)
    tau_pre = COS_TAU - GEMM_MARGIN

    def _gemm_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == 0].sort_values("vec_id")
        b = pdf[pdf["side"] == 1].sort_values("vec_id")
        av = np.vstack(a["v"].to_numpy())
        an = a["nrm"].to_numpy()
        aid = a["vec_id"].to_numpy()
        if len(b) == 0:  # diagonal tile: upper triangle of A x A
            cos = (av @ av.T) / np.outer(an, an)
            iu, ju = np.triu_indices(len(a), k=1)
            keep = cos[iu, ju] >= tau_pre
            v1, v2 = aid[iu[keep]], aid[ju[keep]]
        else:  # cross tile: every A id < every B id by construction
            bv = np.vstack(b["v"].to_numpy())
            cos = (av @ bv.T) / np.outer(an, b["nrm"].to_numpy())
            ii, jj = np.nonzero(cos >= tau_pre)
            v1, v2 = aid[ii], b["vec_id"].to_numpy()[jj]
        lbl = pdf["label"].iloc[0]
        return pd.DataFrame({"label": lbl, "vec1": v1, "vec2": v2})

    cand = (
        side_a.unionByName(side_b)
        .groupBy("label", "bi", "bj")
        .applyInPandas(_gemm_tile, schema="label int, vec1 bigint, vec2 bigint")
    )
    # Refine: recompute survivors with the oracle's own fold so the
    # emitted values are bit-identical to the pre-GEMM implementation.
    e1 = e.select(
        F.col("vec_id").alias("vec1"), F.col("v").alias("v1"), F.col("nrm").alias("n1")
    )
    e2 = e.select(
        F.col("vec_id").alias("vec2"), F.col("v").alias("v2"), F.col("nrm").alias("n2")
    )
    return (
        cand.join(e1, "vec1")
        .join(e2, "vec2")
        .select(
            "label", "vec1", "vec2",
            F.round(
                _cos_pre(F.col("v1"), F.col("n1"), F.col("v2"), F.col("n2")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= COS_TAU)
    )


@register(
    "q_sim_knn_label",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id, label, v FROM e WHERE vec_id < 20),
    c AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 20),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
             c.label AS cand_label, c.vec_id AS cand_id,
             round({_duck_cos("q.v", "c.v")}, 6) AS cos_sim
      FROM q JOIN c ON true
    ),
    top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
        FROM scored) WHERE rn <= {TOP_K}
    ),
    votes AS (
      SELECT query_id, true_label, cand_label, count(*) AS n_votes
      FROM top GROUP BY query_id, true_label, cand_label
    )
    SELECT query_id, true_label, cand_label AS pred_label, n_votes
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY n_votes DESC, cand_label) AS vr
          FROM votes)
    WHERE vr = 1
    """,
)
def q_sim_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-label classification of the first 20 vectors
    against the rest (ties: most votes, then smallest label)."""
    e = _with_norm(
        spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
            "vec_id", "label", _vd("embedding").alias("v")
        )
    )
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = e.filter(F.col("vec_id") >= 20)
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "true_label",
        F.col("label").alias("cand_label"),
        F.col("vec_id").alias("cand_id"),
        F.round(
            _cos_pre(F.col("qv"), F.col("qn"), F.col("v"), F.col("nrm")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    top = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= TOP_K
    )
    votes = top.groupBy("query_id", "true_label", "cand_label").agg(
        F.count("*").alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("cand_label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id", "true_label", F.col("cand_label").alias("pred_label"),
            "n_votes",
        )
    )


@register(
    "q_sim_ann_lsh",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END
              + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id, v, bucket FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round({_duck_cos("q.v", "c.v")}, 6) AS cos_sim
      FROM q JOIN e c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    )
    SELECT query_id, cand_id, cos_sim
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via sign-bit LSH: bucket = sign bits of dims
    1..3 (a fixed axis-projection hash for cosine); each query probes
    only its own bucket (~1/8 of candidates). Deterministic, so fully
    oracle-checkable - the IVF/era-of-scale pattern in miniature."""
    e = table(spark, sf_dir, "embeddings")
    bucket = (
        F.when(F.element_at("embedding", 1) > 0, 4).otherwise(0)
        + F.when(F.element_at("embedding", 2) > 0, 2).otherwise(0)
        + F.when(F.element_at("embedding", 3) > 0, 1).otherwise(0)
    )
    eb = _with_norm(
        spread(e, "vec_id").select(
            "vec_id", _vd("embedding").alias("v"), bucket.alias("bucket")
        )
    )
    q = eb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        eb.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.round(
                _cos_pre(F.col("qv"), F.col("qn"), F.col("v"), F.col("nrm")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "cand_id", "cos_sim")
    )


@register(
    "q_sim_ann_ivf",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {IVF_CENTROIDS}),
    aff0 AS (
      SELECT e.vec_id, e.v, c.cid,
             round({_duck_cos("e.v", "c.cv")}, 6) AS rcos
      FROM e JOIN c ON true
    ),
    aff AS (
      SELECT *, row_number() OVER (
               PARTITION BY vec_id ORDER BY rcos DESC, cid) AS ar
      FROM aff0
    ),
    cells AS (SELECT vec_id, v, cid FROM aff WHERE ar = 1),
    probes AS (SELECT vec_id AS query_id, v AS qv, cid
               FROM aff WHERE vec_id < 10 AND ar <= {IVF_NPROBE}),
    scored AS (
      SELECT p.query_id, s.vec_id AS cand_id,
             round({_duck_cos("p.qv", "s.v")}, 6) AS cos_sim
      FROM probes p JOIN cells s
        ON s.cid = p.cid AND s.vec_id <> p.query_id
    )
    SELECT query_id, cand_id, cos_sim
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via IVF (inverted-file) cells: a fixed coarse
    quantizer (centroids = vectors 0..7) partitions the corpus into
    nearest-centroid cells; each query probes only its nprobe=2
    closest cells, then exact cosine re-ranks within them.

    The quantizer is a deterministic function of the data (fixed
    centroid ids, rounded-cosine argmax with cid tie-break), so the
    DuckDB oracle runs the identical algorithm and results hash-match.

    100 TB posture: centroids come from an offline sample/k-means and
    are broadcast (KB-scale); cell assignment is a map-only pass over
    the corpus (8N cosines, no shuffle); the inverted lists are
    written partitioned by cell id so a query's nprobe probe is
    partition pruning + a broadcast of the (tiny) probe set - the
    search never shuffles the corpus. Recall/latency trades via
    n_centroids x nprobe exactly as in FAISS-style IVF-Flat.
    """
    e = _with_norm(
        spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
            "vec_id", _vd("embedding").alias("v")
        )
    )
    cents = e.filter(F.col("vec_id") < IVF_CENTROIDS).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    aff = e.join(F.broadcast(cents)).select(
        "vec_id",
        "v",
        "nrm",
        "cid",
        F.round(
            _cos_pre(F.col("v"), F.col("nrm"), F.col("cv"), F.col("cn")), 6
        ).alias("rcos"),
    )
    wa = Window.partitionBy("vec_id").orderBy(F.col("rcos").desc(), F.col("cid"))
    ranked = aff.withColumn("ar", F.row_number().over(wa))
    cells = ranked.filter(F.col("ar") == 1).select("vec_id", "v", "nrm", "cid")
    probes = (
        ranked.filter((F.col("vec_id") < 10) & (F.col("ar") <= IVF_NPROBE))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.col("cid").alias("pcid"),
        )
    )
    scored = cells.join(
        F.broadcast(probes),
        (F.col("cid") == F.col("pcid")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        F.round(
            _cos_pre(F.col("qv"), F.col("qn"), F.col("v"), F.col("nrm")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "cand_id", "cos_sim")
    )


@register(
    "q_embeddings_quantize",
    oracle="""
    WITH scaled AS (
      SELECT vec_id,
             len(embedding) AS dim,
             127.0 / list_max(list_transform(embedding,
                                             x -> abs(CAST(x AS DOUBLE))))
               AS scale,
             embedding
      FROM embeddings
      WHERE list_max(list_transform(embedding,
                                    x -> abs(CAST(x AS DOUBLE)))) > 0
    ),
    q AS (
      SELECT vec_id, dim, scale,
             list_transform(embedding,
               x -> greatest(-127, least(127,
                      CAST(round(CAST(x AS DOUBLE) * scale) AS BIGINT))))
               AS qvec,
             embedding
      FROM scaled
    )
    SELECT vec_id,
           CAST(dim AS BIGINT) AS dim,
           round(scale, 6) AS scale,
           CAST(list_sum(qvec) AS BIGINT) AS q_checksum,
           round(list_sum(
             list_transform(list_zip(embedding, qvec),
               p -> pow(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) / scale,
                        2))) / dim, 9) AS mse
    FROM q
    ORDER BY vec_id
    """,
)
def q_embeddings_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column (the standard
    4x vector-store compression): per-vector symmetric scale
    127/max|x|, quantized values round(x*scale) clamped to [-127,127],
    plus the reconstruction MSE - all computed JVM-side with array
    higher-order functions (transform/aggregate), no UDF.

    The oracle recomputes quantization in DuckDB list arithmetic; the
    integer checksum over the quantized vector is EXACT (both engines
    widen float32->double losslessly and round the same products), so
    a single off-by-one in any of the 64 dims of any vector breaks
    the hash match. MSE is rounded (float-sum tolerance per SURVEY
    §5.3); both engines fold the list in index order.

    Scale shape: embarrassingly parallel map over vectors - no
    shuffle, no state; at 100 TB this fuses into the scan and writes
    a column 4x narrower downstream.
    """
    e = table(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(xd, lambda x: F.abs(x)))
    scaled = e.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        (F.lit(127.0) / max_abs).alias("scale"),
        xd.alias("x"),
    ).filter(max_abs > 0)
    qvec = F.transform(
        F.col("x"),
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(x * F.col("scale")).cast("bigint")),
        ),
    )
    q = scaled.withColumn("qvec", qvec)
    err = F.zip_with(
        F.col("x"),
        F.col("qvec"),
        lambda x, qv: F.pow(x - qv.cast("double") / F.col("scale"), F.lit(2)),
    )
    return q.select(
        "vec_id",
        "dim",
        F.round("scale", 6).alias("scale"),
        F.aggregate(
            "qvec", F.lit(0).cast("bigint"), lambda acc, v: acc + v
        ).alias("q_checksum"),
        F.round(
            F.aggregate(err, F.lit(0.0), lambda acc, v: acc + v)
            / F.col("dim"),
            9,
        ).alias("mse"),
    ).orderBy("vec_id")


# Compose the recall oracle from the already-registered exact and ANN
# oracle SQL (single source of truth: a change to either pipeline's
# oracle flows into the recall oracle automatically).
from ..registry import ORACLES as _ORACLES  # noqa: E402

RECALL_K = 3


@register(
    "q_sim_recall_eval",
    oracle=f"""
    WITH exact3 AS (
      SELECT query_id, cand_id FROM (
        SELECT query_id, cand_id,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id) AS rn
        FROM ({_ORACLES["q_sim_cosine_topk"]})
      ) WHERE rn <= {RECALL_K}
    ),
    lsh3 AS (SELECT query_id, cand_id FROM ({_ORACLES["q_sim_ann_lsh"]})),
    ivf3 AS (SELECT query_id, cand_id FROM ({_ORACLES["q_sim_ann_ivf"]})),
    nq AS (SELECT count(DISTINCT query_id) AS n_queries FROM exact3),
    m AS (
      SELECT 'lsh' AS method, count(*) AS hits
      FROM lsh3 JOIN exact3 USING (query_id, cand_id)
      UNION ALL
      SELECT 'ivf', count(*)
      FROM ivf3 JOIN exact3 USING (query_id, cand_id)
    )
    SELECT method,
           CAST({RECALL_K} AS BIGINT) AS k,
           CAST(n_queries AS BIGINT) AS n_queries,
           CAST(hits AS DOUBLE) / ({RECALL_K} * n_queries) AS recall
    FROM m, nq
    """,
)
def q_sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of the two ANN paths against the exact
    brute-force top-k - the instrumentation that turns 'LSH/IVF trade
    recall for sub-quadratic cost' from an assertion into a number
    (recorded per-corpus in docs/SCALING.md). Reuses the registered
    q_sim_cosine_topk / q_sim_ann_lsh / q_sim_ann_ivf builders
    verbatim on BOTH sides (the oracle embeds their oracle SQL as
    derived tables), so the metric can never drift from the operators
    it measures.

    Scale shape: the expensive inputs are the measured pipelines
    themselves; the recall join is |queries| x k rows - negligible -
    and n_queries rides along as a broadcast 1-row aggregate (no
    driver-side action).
    """
    # The exact top-k frame feeds THREE consumers (n_queries + one
    # hits join per ANN method): checkpoint the bounded
    # |queries| x k frame so the brute-force pipeline runs once, not
    # per consumer (r14, the superstep pattern).
    exact3 = superstep_checkpoint(
        q_sim_cosine_topk(spark, sf_dir)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cos_sim").desc(), F.col("cand_id")
                )
            ),
        )
        .filter(F.col("rn") <= RECALL_K)
        .select("query_id", "cand_id")
    )
    nq = exact3.agg(F.count_distinct("query_id").alias("n_queries"))

    def hits(approx: DataFrame, name: str) -> DataFrame:
        return (
            approx.select("query_id", "cand_id")
            .join(exact3, ["query_id", "cand_id"])
            .agg(F.count("*").alias("hits"))
            .select(F.lit(name).alias("method"), "hits")
        )

    m = hits(q_sim_ann_lsh(spark, sf_dir), "lsh").unionByName(
        hits(q_sim_ann_ivf(spark, sf_dir), "ivf")
    )
    return m.crossJoin(nq).select(
        "method",
        F.lit(RECALL_K).cast("bigint").alias("k"),
        F.col("n_queries").cast("bigint").alias("n_queries"),
        # try_divide: NULL on an empty query set (DuckDB's x/0 is also
        # NULL, so the empty-relation sweep matches; ANSI / would raise)
        F.try_divide(
            F.col("hits").cast("double"), RECALL_K * F.col("n_queries")
        ).alias("recall"),
    )


@register(
    "q_sim_centroid",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    pos AS (
      -- parallel unnest zips the value list with its 1-based index
      -- (DuckDB 1.0 has no WITH ORDINALITY)
      SELECT vec_id, label, unnest(v) AS x,
             unnest(range(1, len(v) + 1)) AS pos
      FROM e
    ),
    cent AS (
      SELECT label, pos, avg(x) AS c
      FROM pos GROUP BY label, pos
    ),
    cvec AS (
      SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label
    )
    SELECT e.vec_id, e.label,
           round({_duck_cos("e.v", "cvec.cv")}, 6) AS cos_to_centroid,
           round({_duck_cos("e.v", "cvec.cv")}, 6) < 0.2 AS outlier
    FROM e JOIN cvec ON e.label = cvec.label
    """,
)
def q_sim_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality / outlier scoring: per-label mean vector
    (centroid), then every vector's cosine to its own centroid, with
    a low-similarity outlier flag - the mislabel/contamination miner
    for embedding datasets.

    Plan shape: centroids via posexplode -> (label, pos) avg -> one
    64-dim array re-assembled per label (array_agg sorted by pos) -
    a two-phase agg over dims x labels rows, NEVER a vector-x-vector
    pairwise pass; the 10 centroid rows broadcast back. DuckDB
    recomputes with unnest WITH ORDINALITY (1-based pos on both
    sides via posexplode pos + 1).
    """
    e = _with_norm(
        spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
            "vec_id", "label", _vd("embedding").alias("v")
        )
    )
    pos = e.select(
        "label", F.posexplode("v").alias("pos", "x")
    ).withColumn("pos", F.col("pos") + 1)
    cent = pos.groupBy("label", "pos").agg(F.avg("x").alias("c"))
    cvec = (
        cent.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("c")))
                ),
                lambda s: s.getField("c"),
            ).alias("cv")
        )
        .withColumn("cn", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
        .withColumnRenamed("label", "c_label")
    )
    cos = _cos_pre(F.col("v"), F.col("nrm"), F.col("cv"), F.col("cn"))
    return (
        e.join(F.broadcast(cvec), F.col("label") == F.col("c_label"))
        .select(
            "vec_id",
            "label",
            F.round(cos, 6).alias("cos_to_centroid"),
            (F.round(cos, 6) < 0.2).alias("outlier"),
        )
    )


@register(
    "q_feature_scale",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    pos AS (
      SELECT vec_id, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos
      FROM e
    ),
    stats AS (
      SELECT pos, avg(x) AS mu, stddev_pop(x) AS sigma
      FROM pos GROUP BY pos
    )
    SELECT s.pos, round(s.mu, 6) AS mu, round(s.sigma, 6) AS sigma,
           CAST(count(*) FILTER (WHERE abs(p.x - s.mu) > 3 * s.sigma)
                AS BIGINT) AS n_outliers
    FROM stats s JOIN pos p ON p.pos = s.pos
    GROUP BY s.pos, s.mu, s.sigma
    """,
)
def q_feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score scaling stats for the embedding matrix:
    mean and population stddev of every dimension plus how many
    vectors sit beyond 3 sigma there - the standardization step (and
    its sanity report) before distance-based models / quantization.
    The scaled vector itself is (x - mu) / sigma with these exact
    stats; the report is what is hash-checkable driver-side (array
    outputs are not canon-safe).

    Scale shape: posexplode -> (pos) two-phase agg over 64 x N rows
    -> the 64-row stats table broadcasts back onto the exploded rows
    for the outlier count. Never a driver-side covariance pass; at
    100 TB the explode streams and both aggs partial map-side.
    """
    e = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", _vd("embedding").alias("v")
    )
    pos = e.select(F.posexplode("v").alias("pos", "x")).withColumn(
        "pos", F.col("pos") + 1
    )
    stats = pos.groupBy("pos").agg(
        F.avg("x").alias("mu"), F.stddev_pop("x").alias("sigma")
    )
    return (
        pos.join(F.broadcast(stats).withColumnRenamed("pos", "s_pos"),
                 F.col("pos") == F.col("s_pos"))
        .groupBy("pos", "mu", "sigma")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("x") - F.col("mu")) > 3 * F.col("sigma"), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_outliers")
        )
        .select(
            "pos",
            F.round("mu", 6).alias("mu"),
            F.round("sigma", 6).alias("sigma"),
            "n_outliers",
        )
    )


MMR_QUERIES = 3          # bounded query block (vec_id 0..2)
MMR_POOL = 20            # relevance-ranked candidate pool per query
MMR_K = 5                # diversified picks per query
MMR_LAMBDA = 0.7         # relevance-vs-diversity trade-off


@register("q_sim_mmr")
def q_sim_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance retrieval: for each query vector,
    greedily pick K=5 of its top-20 cosine candidates maximizing
    lambda*rel(c) - (1-lambda)*max_sim(c, picked) - the diversified
    top-k that deduplicates near-identical hits at serving time.

    Greedy MMR is sequential in K by definition (pick i depends on
    picks < i), so it cannot be one SQL expression: the candidate
    POOL is built exactly like q_sim_cosine_topk (broadcast bounded
    query block x streamed candidates, per-query top-20 window), then
    the greedy loop runs in applyInPandas per query over its <= 20
    pooled vectors - bounded state, one task per query, arbitrarily
    many queries in parallel. No oracle by design (iterative
    argmax chain); pinned against an independent numpy reference in
    tests/test_correctness.py, and pool membership is oracle-covered
    via q_sim_cosine_topk's identical construction.

    Determinism: scores rounded to 6dp with vec_id tie-break inside
    the greedy argmax - same rule as every top-k cut in the registry.
    """
    import pandas as pd

    e = _with_norm(
        spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
            "vec_id", _vd("embedding").alias("v")
        )
    )
    q = e.filter(F.col("vec_id") < MMR_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cand = e.filter(F.col("vec_id") >= MMR_QUERIES)
    rel = F.round(
        _cos_pre(F.col("v"), F.col("nrm"), F.col("qv"), F.col("qn")), 6
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("vec_id")
    )
    pool = (
        cand.join(F.broadcast(q))
        .select("query_id", "vec_id", "v", rel.alias("rel"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= MMR_POOL)
        .drop("rk")
    )

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        vecs = np.array(pdf["v"].tolist(), dtype=np.float64)
        nrm = np.sqrt((vecs * vecs).sum(axis=1))
        rels = pdf["rel"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        order = np.lexsort((ids, -rels))  # rel desc, id asc
        vecs, nrm, rels, ids = vecs[order], nrm[order], rels[order], ids[order]
        picked: list[int] = []
        rows = []
        for rank in range(1, min(MMR_K, len(ids)) + 1):
            if picked:
                sims = (vecs @ vecs[picked].T) / np.outer(nrm, nrm[picked])
                max_sim = sims.max(axis=1)
            else:
                max_sim = np.zeros(len(ids))
            score = np.round(
                MMR_LAMBDA * rels - (1 - MMR_LAMBDA) * max_sim, 6
            )
            score[picked] = -np.inf
            # argmax with vec_id tie-break: ids are sorted ascending
            # within equal rel, and np.argmax takes the FIRST max, so
            # scanning in (score desc, id asc) order is the tie rule.
            best = int(np.lexsort((ids, -score))[0])
            picked.append(best)
            rows.append(
                (int(pdf["query_id"].iloc[0]), rank, int(ids[best]),
                 float(score[best]))
            )
        return pd.DataFrame(
            rows, columns=["query_id", "rank", "vec_id", "mmr_score"]
        )

    schema = "query_id long, rank int, vec_id long, mmr_score double"
    return pool.groupBy("query_id").applyInPandas(mmr, schema=schema)


PCA_ITERS = 3


@register("q_embeddings_pca_power")  # iterative float -> rows-only + pin
def q_embeddings_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the (uncentered) embedding
    matrix by POWER ITERATION, entirely in-plan: v <- normalize(
    A^T (A v)) for a fixed 3 (PCA_ITERS) supersteps from the uniform
    start - the Gram-matrix-free way to get the top component of a
    matrix that never fits one machine (quantization axes, whitening
    direction, drift monitoring). Output: per-dimension loading plus
    the Rayleigh singular value sigma = ||A v|| on every row.

    Rows-only by design (iterative float linear algebra has no SQL
    twin); tests/test_pipeline_props.py pins the result against
    numpy's power iteration from the same start to 1e-9, plus the
    Rayleigh-ascent bound sigma(v0) < sigma(v3) <= top singular
    value. (This corpus's near-isotropic spectrum converges slowly,
    so proximity to the exact SVD direction is deliberately not part
    of the contract - k is fixed, not convergence-driven.)

    Scale shape: each superstep is two narrow aggregates over the
    exploded (vec_id, pos, x) matrix - A v shuffles on vec_id,
    A^T (A v) shuffles on pos (64 groups) - with the 64-row state
    vector BROADCAST back each time; the matrix explode is
    deliberately NOT persisted (cheap fused scan vs cache-scan
    overhead; at 100 TB write the exploded matrix - or read the
    column - once per superstep from parquet).

    The 64-row STATE vector, however, is checkpointed per superstep
    (r14): each v_k references the matrix subtree twice, so the
    fully-declarative chain embedded the scan+explode subplan
    2^k-fold - 202 Exchange nodes in the static plan at k=3, and
    CATALYST ANALYSIS, not execution, dominated the fixture wall
    (the cc_min_label lesson at 64-row scale). A lazy localCheckpoint
    of each v truncates the tree to linear (6 Exchanges; A/B at
    sf0.1: 2.99s -> 2.20s median, byte-identical output, numpy pin
    unchanged). Same declared superstep-materialization class as
    pagerank/CC.
    """
    e = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", _vd("embedding").alias("v")
    )
    a = e.select(
        "vec_id", F.posexplode("v").alias("pos", "x")
    )
    dim = 64
    v = spark.range(dim).select(
        F.col("id").cast("int").alias("vpos"),
        F.lit(1.0 / dim ** 0.5).alias("w"),
    )
    for _ in range(PCA_ITERS):
        av = (
            a.join(F.broadcast(v), F.col("pos") == F.col("vpos"))
            .groupBy("vec_id")
            .agg(F.sum(F.col("x") * F.col("w")).alias("d"))
        )
        atav = (
            a.join(F.broadcast(av), "vec_id")
            .groupBy("pos")
            .agg(F.sum(F.col("x") * F.col("d")).alias("u"))
        )
        norm = atav.agg(F.sqrt(F.sum(F.col("u") * F.col("u"))).alias("nrm"))
        v = superstep_checkpoint(
            atav.crossJoin(norm).select(
                F.col("pos").alias("vpos"),
                (F.col("u") / F.col("nrm")).alias("w"),
            )
        )
    # sigma = ||A v|| at the final direction (Rayleigh singular value)
    av = (
        a.join(F.broadcast(v), F.col("pos") == F.col("vpos"))
        .groupBy("vec_id")
        .agg(F.sum(F.col("x") * F.col("w")).alias("d"))
    )
    sigma = av.agg(F.sqrt(F.sum(F.col("d") * F.col("d"))).alias("sigma"))
    return (
        v.crossJoin(sigma)
        .select(
            F.col("vpos").cast("bigint").alias("dim"),
            F.col("w").alias("loading"),
            "sigma",
        )
        .orderBy("dim")
    )


KNN_GRAPH_K = 5
KNN_GRAPH_BANDS = 6
# Probe depth (single-bit flips per band, ranked by hyperplane
# margin). 1 -> recall@5 0.966 @ 0.82 cand volume; 2 -> 0.996 @ 0.94
# (sf0.01 ladder, SCALING sec 21). r11 ships 2: the >=0.99 point
# costs only probe-side rows (index untouched) and the measured
# build-wall delta at 20k vecs is recorded in sec 21.
KNN_PROBES = 2
# Sign bits per band (r12, VERDICT r11 #3): each band hashes its own
# disjoint block of KNN_BITS_PER_BAND dims into a 2^bits-way bucket.
# 3 is the shipped fixture operating point (8 buckets/band); the
# docstring's "at true scale use more sign bits per band" dial is now
# a real constant - the 1M-vector feasibility probe (SCALING sec 21)
# runs bits=10 (1024 buckets/band), because at N=1M a 3-bit bucket is
# ~N/8 = 125k rows and the candidate volume stays quasi-quadratic.
# Requires KNN_GRAPH_BANDS * bits <= vector dim.
KNN_BITS_PER_BAND = 3
# r10 tiled candidate generation: probe-side / index-side rows per
# GEMM tile within a (band, bucket). 2048x4096 float64 score tiles
# are 64 MiB; at the fixture every bucket fits one tile.
KNN_TILE_Q = 2048
KNN_TILE_I = 4096
# Tile-cut slack (r11): the per-tile top-K cut keeps candidates by
# the raw numpy GEMM cosine; the authoritative ranking is the JVM
# fold's HALF_UP round(·, 6). 2e-6 spans one full 1e-6 rounding
# interval either side plus GEMM-vs-fold summation drift (~1e-15),
# making the prefilter lossless (same hazard/fix as GEMM_MARGIN for
# q_sim_threshold_pairs, scaled to the rounded-rank setting).
KNN_CUT_MARGIN = 2e-6


@register("q_sim_knn_graph")  # bucketed ANN self-join -> rows-only
def q_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-vectors kNN GRAPH: every vector's top-5 (KNN_GRAPH_K)
    neighbors among candidates sharing its sign-bit LSH bucket - the
    self-join ANN shape behind graph-based clustering, near-dup
    graph construction, and HNSW-style index bootstrapping. Unlike
    q_sim_ann_lsh (bounded query block probes the corpus), HERE
    every vector is a query, so the bucketed self-join is the only
    thing standing between this and an N^2 all-pairs.

    r10/r11: MULTI-PROBE (Lv et al. 2007) - each query probes its
    own bucket PLUS the buckets with its KNN_PROBES closest
    hyperplanes' sign bits flipped (margin-ranked single-bit flips);
    the index side stays one bucket per band. Near-boundary
    neighbors are exactly the ones plain sign-LSH loses, and
    flipping minimum-margin bits is the cheapest way to reach them.
    Measured recall@5 / candidate-volume ladder at sf0.01 (sf0.001
    within 0.01): 1 band 0.22; 4 bands 0.625; 6 bands 0.788 @ 0.55
    vol; RE-banding to 8 bands 0.877 @ 0.66; 6 bands + 1 probe
    0.966 @ 0.82; + 2 probes (r11 SHIPPED) 0.996 @ 0.94, for a
    measured ~20-25% build-wall premium at 20k vecs (SCALING sec
    21). Per unit of candidate volume, one probe buys ~2x the
    recall of two extra bands - and probes cost NO extra index
    storage, only probe-side rows.

    Rows-only by design (bucketed recall < 1 has no SQL twin);
    tests/test_pipeline_props.py measures recall@5
    against the exact numpy graph and pins a floor (measured value
    recorded there).

    Scale shape: candidates = equi self-join on the bucket id
    (bucket sizes ~N/8 here; at true scale KNN_BITS_PER_BAND is the
    dial that bounds buckets - multi-probe then matters MORE, because
    finer buckets lose more boundary neighbors, and the generalized
    probe ladder extends to any rank < bits without touching the
    index); exact cosine only on candidates; per-vector top-k via
    WindowGroupLimit inside the shuffle. Payload vectors join back
    once, pre-normed, AFTER pair dedup. The 1M-vector decade is
    MEASURED (r12, SCALING sec 21):
    bits=10 builds the full 5M-row graph in 611 s with peak bucket
    1,273 rows (no memory cliff anywhere) at recall@5 0.293 on this
    near-isotropic corpus, bits=8 in 762 s at recall 0.529 (4x the
    volume for +25% wall - a ~600 s fixed floor below ~1e11
    candidates), and the shipped bits=3 config projects to ~3.3 h at
    recall ~0.996 - at 1M the binding constraint is
    recall-vs-candidate-volume, not mechanics.

    r13 frontier resolution (SCALING sec 21): the corpus measured as
    iid isotropic (within-label cosine == between-label == ~0) - the
    case where recall MUST cost ~N^2 scores - so the 1M high-recall
    build ships two scale paths instead of a bigger candidate dial:
    knn_graph_exact_gemm (broadcast blocked GEMM, map-only, 1,333 s
    at 1M with recall 1.0 = 8.9x under the bits=3 projection) for
    structure-free corpora, and nn_descent_round refinement (seeded
    by this operator at coarse bits) for real low-intrinsic-dim
    corpora, where it converges in 1-3 supersteps (clustered-1M
    measurement in sec 21). This fixture key stays the banded
    multi-probe build - at 500-2k vectors it is already recall
    0.996.
    """
    e = table(spark, sf_dir, "embeddings")

    bits = KNN_BITS_PER_BAND
    # ADVICE r12: BANDS*BITS <= dim was comment-only. Under non-ANSI
    # SQL, element_at past the array end returns NULL, which silently
    # zeroes the high bits of out-of-range bands and collapses their
    # buckets - recall degrades with no error (easy to hit via the
    # bits=10 scale-probe monkeypatch, which needs dim >= 60). Assert
    # against the MINIMUM dim across the corpus (r14, ADVICE r13: a
    # ragged corpus with one short row would pass a first-row probe
    # and still zero that row's band bits), mirroring the band_flip
    # rank guard. Bounded driver action: 1 row, 1 int (a min agg, not
    # a scan-order head).
    head = e.agg(F.min(F.size("embedding")).alias("d")).head()
    dim = int(head["d"]) if head is not None and head["d"] is not None else 0
    need = KNN_GRAPH_BANDS * bits
    if dim and need > dim:
        raise ValueError(
            f"q_sim_knn_graph: KNN_GRAPH_BANDS*KNN_BITS_PER_BAND = "
            f"{KNN_GRAPH_BANDS}*{bits} = {need} exceeds the embedding "
            f"dim {dim}; bands past dim/bits would hash NULL "
            "coordinates into zeroed bits and collapse buckets"
        )

    def band_bucket(k: int):
        # band k hashes dims bits*k+1..bits*k+bits into a sign bucket
        # (bit j of the bucket = sign of the band's j-th dim).
        out = F.lit(0)
        for j in range(bits):
            out = out + F.when(
                F.element_at("v", bits * k + j + 1) > 0,
                1 << (bits - 1 - j),
            ).otherwise(0)
        return out

    def band_flip(k: int, rank: int = 0):
        # bit weight of the band's rank-th smallest-|coordinate| dim =
        # the rank-th closest hyperplane (Lv et al.'s margin-ranked
        # probe ladder); ties break to the lowest dim - array_sort on
        # (|coord|, dim, weight) structs is exactly that stable order,
        # and generalizes the r10/r11 3-dim branch form bit-for-bit
        # (same winner under every tie pattern) while extending the
        # ladder to any rank < bits (r12; the ADVICE r11 guard below
        # keeps an out-of-ladder KNN_PROBES loud).
        if rank >= bits:
            raise NotImplementedError(
                f"band_flip rank {rank}: the single-flip probe ladder "
                f"has exactly {bits} rungs (KNN_BITS_PER_BAND) - "
                "KNN_PROBES beyond that needs multi-bit flips, not "
                "duplicate probes"
            )
        margins = F.array_sort(
            F.array(
                *[
                    F.struct(
                        F.abs(
                            F.element_at("v", bits * k + j + 1)
                        ).alias("a"),
                        F.lit(j).alias("d"),
                        F.lit(1 << (bits - 1 - j)).alias("w"),
                    )
                    for j in range(bits)
                ]
            )
        )
        return F.element_at(margins, rank + 1)["w"]

    eb = _with_norm(
        spread(e, "vec_id").select("vec_id", _vd("embedding").alias("v"))
    )
    # Band table carries IDS ONLY (the q_dedup_embedding discipline,
    # dedup.py): payload vectors must not ride the banded self-join -
    # they would be replicated x bands on both sides - and the exact
    # cosine must run ONCE per distinct candidate pair, not once per
    # shared band. Dedup the (src, dst) pairs first, then join the
    # normed vectors back exactly once.
    banded = eb.select(
        "vec_id",
        F.posexplode(
            F.array(*[band_bucket(k) for k in range(KNN_GRAPH_BANDS)])
        ).alias("band", "bucket"),
    )
    # Probe side: own bucket + the min-margin single-bit flip. The
    # index side (b) stays 1 row per (vector, band); only the query
    # stream doubles - the multi-probe asymmetry.
    probes = eb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        bb.alias("bucket"),
                    )
                    for k in range(KNN_GRAPH_BANDS)
                    for bb in (
                        band_bucket(k),
                        *[
                            band_bucket(k).bitwiseXOR(band_flip(k, m))
                            for m in range(KNN_PROBES)
                        ],
                    )
                ]
            )
        ).alias("p"),
    ).select("vec_id", "p.band", "p.bucket")
    # r10: TILED per-bucket GEMM candidate generation. The previous
    # form materialized the banded equi self-join as PAIR ROWS and
    # scored each with the interpreted fold — ~0.8·N² pair rows at
    # measured candidate volumes (168.9 s at 20 k vecs; 200 k not
    # attemptable). Instead, each (band, bucket)'s probe and index
    # members meet in bounded GEMM tiles (KNN_TILE_Q × KNN_TILE_I)
    # that emit, per probe, every candidate whose raw cosine reaches
    # the tile's KNN_GRAPH_K-th value minus KNN_CUT_MARGIN
    # (np.partition cut, ties kept) — pair rows never materialize.
    # Output-equivalence to the
    # pair-join form is exact, not approximate: a global top-5
    # neighbor shares ≥1 bucket with its query; within that bucket it
    # ranks ≤5 by value among the bucket's candidates; tiles
    # partition the bucket's index side, so within its tile it still
    # ranks ≤5 and survives the cut (pinned by
    # tests/test_gemm_pairs.py-style equality in the knn recall test
    # and verified old-vs-new identical at sf0.001/sf0.01 when this
    # landed). Survivors are re-scored by the same JVM fold + window
    # tail as before, so the emitted rows are bit-identical.
    import numpy as np
    import pandas as pd

    wq = Window.partitionBy("band", "bucket").orderBy("vec_id")
    idx = banded.withColumn(
        "ic",
        ((F.row_number().over(wq) - F.lit(1)) / F.lit(KNN_TILE_I)).cast("int"),
    )
    qry = probes.withColumn(
        "qc",
        ((F.row_number().over(wq) - F.lit(1)) / F.lit(KNN_TILE_Q)).cast("int"),
    )
    ic_spine = idx.select("band", "bucket", "ic").distinct()
    qc_spine = qry.select("band", "bucket", "qc").distinct()
    payload = eb.select("vec_id", "v", "nrm")
    # payload joins the SLIM windowed frames first (one shuffle on
    # vec_id); the spine joins are broadcasts, so chunk replication
    # is map-side.
    q_ship = (
        qry.join(payload, "vec_id")
        .join(F.broadcast(ic_spine), ["band", "bucket"])
        .select(
            "band", "bucket", "qc", "ic", "vec_id", "v", "nrm",
            F.lit(0).alias("side"),
        )
    )
    i_ship = (
        idx.join(payload, "vec_id")
        .join(F.broadcast(qc_spine), ["band", "bucket"])
        .select(
            "band", "bucket", "qc", "ic", "vec_id", "v", "nrm",
            F.lit(1).alias("side"),
        )
    )
    k_cut = KNN_GRAPH_K

    def _knn_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf[pdf["side"] == 0]
        ix = pdf[pdf["side"] == 1]
        if len(q) == 0 or len(ix) == 0:
            return pd.DataFrame({"src": pd.Series(dtype="int64"),
                                 "dst": pd.Series(dtype="int64")})
        qv = np.vstack(q["v"].to_numpy())
        iv = np.vstack(ix["v"].to_numpy())
        qid = q["vec_id"].to_numpy()
        iid = ix["vec_id"].to_numpy()
        # Cut on the UNROUNDED GEMM cosine with slack, never on a
        # rounded value: the final ranking happens on the JVM fold's
        # HALF_UP round(·, 6), which can disagree with numpy's GEMM
        # (summation order, ~1e-15) and with numpy's half-even
        # rounding near a 1e-6 boundary. KNN_CUT_MARGIN = 2e-6 covers
        # a full rounding interval on each side plus the fold drift,
        # so every edge that ranks <=K under the JVM score survives
        # the tile cut; the JVM rescore + window discards the few
        # extra survivors, keeping the path exact.
        cos = (qv @ iv.T) / np.outer(q["nrm"].to_numpy(), ix["nrm"].to_numpy())
        cos[qid[:, None] == iid[None, :]] = -np.inf  # no self edges
        k = min(k_cut, cos.shape[1])
        kth = np.partition(cos, -k, axis=1)[:, -k]
        qq, ii = np.nonzero(cos >= kth[:, None] - KNN_CUT_MARGIN)
        keep = qid[qq] != iid[ii]
        return pd.DataFrame({"src": qid[qq][keep], "dst": iid[ii][keep]})

    cand = (
        q_ship.unionByName(i_ship)
        .groupBy("band", "bucket", "qc", "ic")
        .applyInPandas(_knn_tile, schema="src bigint, dst bigint")
        .distinct()
    )
    va = eb.select(
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"),
        F.col("nrm").alias("an"),
    )
    vb = eb.select(
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bn"),
    )
    scored = (
        cand.join(va, F.col("src") == F.col("a_id"))
        .join(vb, F.col("dst") == F.col("b_id"))
        .select(
            "src",
            "dst",
            F.round(
                _cos_pre(F.col("av"), F.col("an"), F.col("bv"), F.col("bn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cos_sim").desc(), F.col("dst")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_GRAPH_K)
        .select(
            "src", "dst", "cos_sim", F.col("rn").cast("bigint").alias("rank")
        )
    )


# ---------------------------------------------------------------
# NN-DESCENT refinement (Dong et al., WWW 2011) - the scale path for
# the kNN graph at the 1M+ decade (VERDICT r12 #1). r12 measured that
# at 1M vectors the LSH build's binding constraint is
# recall-vs-candidate-volume: bits=10 builds in 611 s at recall 0.293,
# bits=8 in 762 s at 0.529, and the high-recall bits=3 config projects
# to ~3.3 h. NN-descent inverts the trade: seed with the CHEAP
# low-recall LSH graph, then a few supersteps of
# neighbor-of-my-neighbor-is-my-neighbor expansion - each superstep is
# an equi-join (adjacency), a bounded per-pivot all-pairs exact
# re-score (groups of <= 2*NN_DESCENT_K+1 vectors, numpy GEMM inside
# applyInPandas), and a per-src top-k window. Measured numbers live in
# SCALING sec 21.
#
# The fixture-scale registered key (q_sim_knn_graph) is untouched:
# at 500-2k vectors the one-shot banded build already reaches recall
# 0.996 and descent would only add rounds. This is the documented
# "what you run at 1000 executors" twin, exercised by the probe tool
# and pinned at fixture scale by tests/test_nn_descent.py.

#: working degree DURING descent: every node keeps NN_DESCENT_K
#: neighbors while refining (not KNN_GRAPH_K) - a wider working set is
#: what lets neighbor-of-neighbor expansion escape the seed's blind
#: spots (Dong et al.'s K); the final output truncates back to k_out.
NN_DESCENT_K = 10


def nn_descent_round(
    payload: DataFrame, graph: DataFrame, k_descent: int = NN_DESCENT_K
) -> DataFrame:
    """ONE NN-descent superstep over a scored kNN graph.

    payload: (vec_id bigint, vec array<float>) - raw float32 vectors;
    graph:   (src, dst, cos_sim) - the current best-k' graph.
    Returns the merged graph re-truncated to k_descent per src,
    localCheckpointed (lineage stays O(1) across rounds).

    Shape per superstep (all volumes bounded by k', never N^2):
    - adjacency B[u] = top-k' out-neighbors + reverse-capped
      in-neighbors + u itself: <= 2k'+1 members per pivot;
    - every pivot group's members are all-pairs re-scored EXACTLY
      (float64 GEMM on <= (2k'+1)^2 pairs) inside applyInPandas -
      pair rows materialize only as the i<j triangle of a <=21-row
      group, never as a joined pair table;
    - merge: new pairs mirrored to both directions, groupBy (src,dst)
      max-dedup (absorbs re-scores and the seed's HALF_UP-vs-half-even
      1e-6 rounding splits), union with the carried graph, per-src
      top-k' window.
    The reverse cap (same k') bounds hub skew: a node that half the
    corpus points at contributes k' rows, not its in-degree.
    """
    import numpy as np
    import pandas as pd

    w_out = Window.partitionBy("src").orderBy(
        F.col("cos_sim").desc(), F.col("dst")
    )
    g = (
        graph.withColumn("rn", F.row_number().over(w_out))
        .filter(F.col("rn") <= k_descent)
        .select("src", "dst", "cos_sim")
    )
    fwd = g.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    w_rev = Window.partitionBy("dst").orderBy(
        F.col("cos_sim").desc(), F.col("src")
    )
    rev = (
        g.withColumn("rr", F.row_number().over(w_rev))
        .filter(F.col("rr") <= k_descent)
        .select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    slf = payload.select(
        F.col("vec_id").alias("u"), F.col("vec_id").alias("v")
    )
    # self-inclusion guarantees every CURRENT edge (u,v) is itself
    # exactly re-scored this round (pair (u,v) inside pivot group u),
    # so unscored seed edges (sentinel cos) get real scores in round 1.
    adj = fwd.unionByName(rev).unionByName(slf).distinct()
    member = adj.join(
        payload.select(F.col("vec_id").alias("v"), "vec"), "v"
    ).select("u", F.col("v").alias("vid"), "vec")

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {
                    "a": pd.Series(dtype="int64"),
                    "b": pd.Series(dtype="int64"),
                    "cos_sim": pd.Series(dtype="float64"),
                }
            )
        V = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
        ids = pdf["vid"].to_numpy()
        nr = np.linalg.norm(V, axis=1)
        C = (V @ V.T) / np.outer(nr, nr)
        iu, ju = np.triu_indices(m, k=1)
        keep = ids[iu] != ids[ju]
        return pd.DataFrame(
            {
                "a": ids[iu][keep].astype("int64"),
                "b": ids[ju][keep].astype("int64"),
                "cos_sim": np.round(C[iu, ju][keep], 6),
            }
        )

    new_pairs = member.groupBy("u").applyInPandas(
        _pairs, schema="a bigint, b bigint, cos_sim double"
    )
    mirrored = new_pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "cos_sim"
    ).unionByName(
        new_pairs.select(
            F.col("b").alias("src"), F.col("a").alias("dst"), "cos_sim"
        )
    )
    merged = (
        g.unionByName(mirrored)
        .groupBy("src", "dst")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    return superstep_checkpoint(
        merged.withColumn("rn", F.row_number().over(w_out))
        .filter(F.col("rn") <= k_descent)
        .select("src", "dst", "cos_sim"),
        eager=True,
    )


def knn_graph_nn_descent(
    spark: SparkSession,
    sf_dir: str,
    seed: DataFrame,
    rounds: int = 3,
    k_descent: int = NN_DESCENT_K,
    k_out: int = KNN_GRAPH_K,
) -> DataFrame:
    """Refine a (cheap, low-recall) seed kNN graph with NN-descent
    supersteps and truncate to the fixture key's (src, dst, cos_sim,
    rank) shape. seed needs (src, dst, cos_sim) - e.g. the bits=8/10
    LSH build from q_sim_knn_graph at scale, or nn_descent_random_seed
    for a from-scratch build."""
    payload = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", F.col("embedding").alias("vec")
    )
    graph = seed.select("src", "dst", "cos_sim")
    for _ in range(rounds):
        graph = nn_descent_round(payload, graph, k_descent)
    w = Window.partitionBy("src").orderBy(
        F.col("cos_sim").desc(), F.col("dst")
    )
    return (
        graph.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k_out)
        .select(
            "src", "dst", "cos_sim",
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


def knn_graph_exact_gemm(
    spark: SparkSession,
    sf_dir: str,
    k: int = KNN_GRAPH_K,
    col_chunk: int = 16384,
    rerank_m: int = 16,
) -> DataFrame:
    """EXACT kNN graph via broadcast blocked GEMM - the right tool
    when the corpus has no exploitable structure (r13 measurement:
    the sec-21 gaussian corpus has within-label mean cosine ==
    between-label == ~0, i.e. iid isotropic 64-dim - the
    information-theoretic worst case where EVERY sublinear ANN
    degrades to quasi-quadratic candidate volume; SCALING sec 21).
    On such a corpus honest recall >= 0.95 costs ~N^2 scores no
    matter the index, so spend them at BLAS speed with zero shuffle:

    - the full normalized corpus (float32, N x dim = 256 MB at 1M)
      is a Spark BROADCAST; query rows stream through mapInPandas
      in Arrow batches - a MAP-ONLY plan, no join, no shuffle of
      scores or candidates;
    - each batch GEMMs against the corpus in col_chunk column tiles
      (batch x 16384 fp32 scores = bounded task memory), keeping a
      running per-query top-rerank_m by fp32 score;
    - the rerank_m survivors are re-scored in float64 and the top-k
      emitted, so fp32 rank inversions within ~1e-7 cannot cost an
      edge (same two-stage discipline as the PQ re-rank).

    Scale ceiling: broadcast holds to ~10M x 64 (2.5 GB); past that,
    shard the corpus side into B broadcast-sized column shards, run
    this map-only pass per shard, and merge the B per-query top-m
    lists with one window - still no pairwise shuffle. For corpora
    WITH structure (real embeddings: low intrinsic dim), seed cheap
    LSH + nn_descent_round instead - measured on the clustered 1M
    probe corpus in SCALING sec 21.
    """
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    # Corpus read driver-side ONCE for the broadcast (bounded by the
    # broadcast budget itself: N x dim float32; 256 MB at 1M x 64 -
    # the documented ceiling, not an accident).
    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    b_ids = t["vec_id"].to_numpy().astype(np.int64)
    V = np.asarray(
        t["embedding"].combine_chunks().flatten(), dtype=np.float32
    ).reshape(len(b_ids), -1)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((b_ids, Vn))
    n_chunk = col_chunk
    # +1 survivor slot: the self column is NOT masked chunk-side (an
    # O(batch x N) id-compare as costly as the GEMM itself); self
    # ranks first by cos=1 and is dropped at the float64 rerank.
    m_keep = max(rerank_m, k + 1) + 1

    def _topk(batches):
        ids_b, Vb = bc.value
        nb = Vb.shape[0]
        for pdf in batches:
            qid = pdf["vec_id"].to_numpy().astype(np.int64)
            Q = np.vstack(pdf["vec"].to_numpy()).astype(np.float32)
            Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
            nq = len(qid)
            rows = np.arange(nq)[:, None]
            # Per-row selection is the hot loop, NOT the GEMM
            # (measured: argpartition on a 7813 x 16384 chunk 4.35 s
            # vs 0.52 s for its GEMM). So partition ONLY the first
            # chunk to seed a per-row threshold, then each later
            # chunk just sparse-extracts scores above it (one
            # vectorized compare + nonzero, ~0.1 s). The lazy (never
            # re-raised) threshold admits ~m_keep*nb/n_chunk
            # candidates per row over the whole pass - a bounded
            # ~170 MB pool at 1M, compacted once at the end.
            cand_q: list = []
            cand_j: list = []
            cand_s: list = []
            thr = None
            for lo in range(0, nb, n_chunk):
                hi = min(lo + n_chunk, nb)
                S = Qn @ Vb[lo:hi].T
                if thr is None:
                    m = min(m_keep, S.shape[1])
                    part = np.argpartition(S, -m, axis=1)[:, -m:]
                    cand_q.append(np.repeat(np.arange(nq), m))
                    cand_j.append((part + lo).ravel())
                    cand_s.append(S[rows, part].ravel())
                    thr = np.partition(S, -m, axis=1)[:, -m]
                else:
                    # KNN_CUT_MARGIN band below the threshold keeps
                    # fp32 ties (e.g. duplicate vectors) and rounding-
                    # boundary neighbors extractable, same discipline
                    # as the tiled fixture path.
                    qq, jj = np.nonzero(S > thr[:, None] - KNN_CUT_MARGIN)
                    cand_q.append(qq)
                    cand_j.append(jj + lo)
                    cand_s.append(S[qq, jj])
            aq = np.concatenate(cand_q)
            aj = np.concatenate(cand_j)
            asc = np.concatenate(cand_s)
            # compact: top-m_keep per row from the pooled candidates.
            # aj is the LAST lexsort key-but-one (r14, ADVICE r13):
            # fp32-tied candidates (exact duplicates all at cos 1.0,
            # common in dedup corpora) must truncate to the LOWEST
            # corpus indices deterministically, or a pool-order-
            # arbitrary subset reaches the float64 re-rank and the
            # emitted dst ids can violate the (cos desc, dst asc)
            # contract vs the numpy oracle.
            order = np.lexsort((aj, -asc, aq))
            aq, aj = aq[order], aj[order]
            starts = np.searchsorted(aq, np.arange(nq))
            ends = np.searchsorted(aq, np.arange(nq) + 1)
            # float64 re-rank of the fp32 survivors, exact output
            out_src, out_dst, out_cos, out_rank = [], [], [], []
            Q64 = Q.astype(np.float64)
            Q64 /= np.linalg.norm(Q64, axis=1, keepdims=True)
            for r in range(nq):
                js = aj[starts[r]: min(ends[r], starts[r] + m_keep)]
                js = js[ids_b[js] != qid[r]]
                C64 = Vb[js].astype(np.float64)
                C64 /= np.linalg.norm(C64, axis=1, keepdims=True)
                cos = C64 @ Q64[r]
                sel = np.lexsort((ids_b[js], -cos))[:k]
                out_src.extend([qid[r]] * len(sel))
                out_dst.extend(ids_b[js][sel])
                out_cos.extend(np.round(cos[sel], 6))
                out_rank.extend(range(1, len(sel) + 1))
            yield pd.DataFrame(
                {
                    "src": pd.Series(out_src, dtype="int64"),
                    "dst": pd.Series(out_dst, dtype="int64"),
                    "cos_sim": pd.Series(out_cos, dtype="float64"),
                    "rank": pd.Series(out_rank, dtype="int64"),
                }
            )

    # A 256 MB single parquet file arrives as ~2 input splits;
    # mapInPandas parallelism = input partitions, so fan the query
    # stream out explicitly (slim rows; one bounded shuffle beats a
    # 16x-undersubscribed GEMM).
    n_parts = max(spark.sparkContext.defaultParallelism * 4, 32)
    q = (
        spread(table(spark, sf_dir, "embeddings"), "vec_id")
        .select("vec_id", F.col("embedding").alias("vec"))
        .repartition(n_parts)
    )
    return q.mapInPandas(
        _topk, schema="src bigint, dst bigint, cos_sim double, rank bigint"
    )


def nn_descent_random_seed(
    spark: SparkSession, sf_dir: str, k: int = NN_DESCENT_K
) -> DataFrame:
    """Deterministic pseudo-random seed graph: k hash-derived
    neighbors per node with sentinel cos_sim = -2.0 (below any real
    cosine, so round-1 exact scores displace every seed edge that
    does not earn its place). The classic NN-descent init when no
    cheap ANN seed exists; converges in O(log N)-ish rounds vs 2-3
    from an LSH seed. Bounded driver action: 1 count (the id-space
    size for the hash modulus)."""
    ids = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id"
    )
    n = ids.count()
    w = Window.orderBy("vec_id")
    # dense 0..n-1 position spine so hash targets map to real ids even
    # under non-contiguous vec_id spaces. Single-partition window is
    # acceptable here: the spine is (id, pos) pairs only - the same
    # bounded-spine exemption as the distributed-rank keys - and the
    # seed is built once.
    pos = ids.withColumn("pos", F.row_number().over(w) - 1)
    tgt = pos.select(F.col("pos").alias("tpos"), F.col("vec_id").alias("dst"))
    hashed = pos.select(
        F.col("vec_id").alias("src"),
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64("vec_id", F.lit(j)), F.lit(n))
                    for j in range(k)
                ]
            )
        ).alias("tpos"),
    )
    return (
        hashed.join(tgt, "tpos")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", F.lit(-2.0).alias("cos_sim"))
        .distinct()
    )


HARD_NEG_K = 3


@register(
    "q_sim_hard_negatives",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id, label, v FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, CAST(q.label AS BIGINT) AS query_label,
             c.vec_id AS neg_id, CAST(c.label AS BIGINT) AS neg_label,
             round({_duck_cos("q.v", "c.v")}, 6) AS cos_sim
      FROM q JOIN e c ON c.label <> q.label
    )
    SELECT query_id, query_label, neg_id, neg_label, cos_sim
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neg_id) AS rn
          FROM scored)
    WHERE rn <= {HARD_NEG_K}
    """,
)
def q_sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive training: for each query
    vector, the top-3 most-similar vectors with a DIFFERENT label -
    the highest-loss negatives a triplet/contrastive objective wants,
    and the standard mining pass over a labeled embedding corpus.

    Scale shape: identical to q_sim_cosine_topk (broadcast bounded
    query block, candidates stream past it, hoisted norms, top-k via
    rank window) with the label inequality fused into the join
    condition so same-label candidates are dropped BEFORE any
    arithmetic. For all-vectors mining swap the broadcast block for
    q_sim_knn_graph's banded self-join and add the label filter to
    its band join; per-label candidate caps bound skew when one label
    dominates.
    """
    e = _with_norm(
        spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
            "vec_id", F.col("label").cast("bigint").alias("label"),
            _vd("embedding").alias("v"),
        )
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.round(
                _cos_pre(F.col("qv"), F.col("qn"), F.col("v"), F.col("nrm")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neg_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= HARD_NEG_K)
        .select("query_id", "query_label", "neg_id", "neg_label", "cos_sim")
    )


KMEANS_K = 8
KMEANS_ITERS = 2


def _sqdist(a, b):
    """Squared euclidean distance between two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@register("q_sim_kmeans_lloyd")  # iterative float -> rows-only + pin
def q_sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-MEANS (Lloyd) over the embedding corpus, entirely in-plan:
    k=8 centroids seeded from vec_id 0..7, exactly 2 assignment/
    update supersteps, reporting per-cluster size and inertia - the
    embedding-space structure probe (and the exact algorithm behind
    q_sim_ann_ivf's coarse quantizer, here LEARNED instead of fixed).

    Rows-only by design (iterative float linear algebra has no SQL
    twin); tests/test_pipeline_props.py re-runs the identical
    algorithm (same seeding, same min-(dist, cid) tie-break) in numpy
    and pins sizes and 4dp inertia row-for-row.

    Scale shape: each superstep broadcasts the k x 64 centroid table
    (tiny at any corpus size), assignment is a map-side
    min-over-struct per vector (no shuffle), and the centroid update
    is the posexplode -> (cluster, dim) avg -> re-assemble two-phase
    agg from q_sim_centroid - so one superstep costs ONE bounded
    shuffle of dims x k partials. Fixed iteration count keeps the
    chain declarative (the q_graph_pagerank rule); convergence-driven
    variants materialize supersteps via localCheckpoint like the CC
    loop.
    """
    e = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", _vd("embedding").alias("v")
    )
    cents = e.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    for _ in range(KMEANS_ITERS):
        assigned = (
            e.join(F.broadcast(cents))
            .select(
                "vec_id",
                "v",
                F.struct(
                    _sqdist(F.col("v"), F.col("cv")).alias("d"),
                    F.col("cid").alias("cid"),
                ).alias("dc"),
            )
            .groupBy("vec_id")
            .agg(F.min("dc").alias("best"), F.first("v").alias("v"))
            .select("vec_id", "v", F.col("best.cid").alias("cid"))
        )
        pos = assigned.select(
            "cid", F.posexplode("v").alias("pos", "x")
        )
        cents = (
            pos.groupBy("cid", "pos")
            .agg(F.avg("x").alias("c"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("c")))
                    ),
                    lambda s: s.getField("c"),
                ).alias("cv")
            )
        )
    final = (
        e.join(F.broadcast(cents))
        .select(
            "vec_id",
            F.struct(
                _sqdist(F.col("v"), F.col("cv")).alias("d"),
                F.col("cid").alias("cid"),
            ).alias("dc"),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("best"))
        .select(
            F.col("best.cid").alias("cluster_id"),
            F.col("best.d").alias("d"),
        )
    )
    return (
        final.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.sum("d"), 4).alias("inertia"),
        )
        .orderBy("cluster_id")
    )


@register(
    "q_sim_silhouette",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    pos AS (
      SELECT vec_id, label, unnest(v) AS x,
             unnest(range(1, len(v) + 1)) AS pos
      FROM e
    ),
    cent AS (SELECT label, pos, avg(x) AS c FROM pos GROUP BY label, pos),
    cvec AS (
      SELECT label AS c_label, list(c ORDER BY pos) AS cv
      FROM cent GROUP BY label
    ),
    dists AS (
      SELECT e.vec_id, e.label, c.c_label,
             1.0 - {_duck_cos("e.v", "c.cv")} AS d
      FROM e CROSS JOIN cvec c
    ),
    ab AS (
      SELECT vec_id, label,
             min(CASE WHEN label = c_label THEN d END) AS a,
             min(CASE WHEN label <> c_label THEN d END) AS b
      FROM dists GROUP BY vec_id, label
    ),
    si AS (
      SELECT label,
             CAST(round((b - a) / greatest(a, b) * 1000000, 0) AS BIGINT)
                 AS s_i,
             CAST(round(a * 1000000, 0) AS BIGINT) AS a_i,
             CAST(round(b * 1000000, 0) AS BIGINT) AS b_i
      FROM ab
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(s_i) AS DOUBLE) / (count(*) * 1000000.0)
               AS mean_silhouette,
           CAST(sum(a_i) AS DOUBLE) / (count(*) * 1000000.0) AS mean_intra,
           CAST(sum(b_i) AS DOUBLE) / (count(*) * 1000000.0) AS mean_inter
    FROM si GROUP BY label ORDER BY label
    """,
)
def q_sim_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label SIMPLIFIED silhouette over cosine distance: for
    every vector, a = distance to its own label centroid, b = the
    nearest OTHER centroid, s = (b-a)/max(a,b); reported as the
    per-label mean with intra/inter diagnostics - the clustering /
    labeling quality score (simplified = centroid-based, the
    standard O(n*k) variant; the O(n^2) pairwise silhouette is
    exactly what this formulation exists to avoid).

    Float protocol: per-row silhouettes are irrational
    (cosine-derived - engine-identical by the q_sim_centroid
    argument), so they quantize to integer MICRO-units per row and
    aggregate exactly (functions/exact.py discipline: integer sums
    are order-independent, then ONE identical division; no
    engine-side rounding of short-decimal rationals).

    Scale shape: centroids via the posexplode (label, dim) two-phase
    agg - never pairwise; the k-row centroid table broadcasts into a
    nested-loop cross against the streamed vectors (k=|labels|~10
    rows); per-vector min/agg collapses before the |labels|-row
    rollup. O(n*k*dim) work, one shuffle.
    """
    e = _with_norm(
        spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
            "vec_id", "label", _vd("embedding").alias("v")
        )
    )
    pos = e.select("label", F.posexplode("v").alias("pos", "x")).withColumn(
        "pos", F.col("pos") + 1
    )
    cent = pos.groupBy("label", "pos").agg(F.avg("x").alias("c"))
    cvec = (
        cent.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("c")))),
                lambda s: s.getField("c"),
            ).alias("cv")
        )
        .withColumn("cn", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
        .withColumnRenamed("label", "c_label")
    )
    d = F.lit(1.0) - _cos_pre(F.col("v"), F.col("nrm"), F.col("cv"), F.col("cn"))
    ab = (
        e.crossJoin(F.broadcast(cvec))
        .select("vec_id", "label", F.col("c_label"), d.alias("d"))
        .groupBy("vec_id", "label")
        .agg(
            F.min(F.when(F.col("label") == F.col("c_label"), F.col("d"))).alias("a"),
            F.min(F.when(F.col("label") != F.col("c_label"), F.col("d"))).alias("b"),
        )
    )
    to_i = lambda c: F.round(c * 1000000, 0).cast("long")  # noqa: E731
    si = ab.select(
        "label",
        to_i(
            (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
        ).alias("s_i"),
        to_i(F.col("a")).alias("a_i"),
        to_i(F.col("b")).alias("b_i"),
    )
    div = F.count("*") * F.lit(1000000.0)
    return (
        si.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            (F.sum("s_i").cast("double") / div).alias("mean_silhouette"),
            (F.sum("a_i").cast("double") / div).alias("mean_intra"),
            (F.sum("b_i").cast("double") / div).alias("mean_inter"),
        )
        .orderBy("label")
    )


PQ_SUBS = 32     # subspaces (64 dims -> 32 x 2)
PQ_SUBDIM = 2
PQ_K = 256       # centroids per subspace (8-bit codes, FAISS PQ32x8)
PQ_TRAIN_ITERS = 2   # Lloyd supersteps (fixed count = deterministic)
# Train on a bounded deterministic sample (vec_id < cap), the FAISS
# convention: codebook quality needs samples-per-centroid, not the
# corpus - so the 3x N*K*SUBS assignment volume collapses to ONE
# full-corpus encode pass + capped training passes (measured 206 s ->
# 69 s at 20k vecs, SCALING sec 22). Every fixture corpus is smaller
# than the cap, so the fixture codebook (and the oracle hash) is
# unchanged - the cap only engages at scale.
PQ_TRAIN_CAP = 4096
PQ_QUERIES = 10
PQ_TOPK = 3
# r13 two-stage re-rank (VERDICT r12 #2): probe the LUT for the top
# PQ_RERANK candidates per query, then exact-re-rank ONLY those
# against the raw (micro-int) vectors and emit the top PQ_TOPK by
# exact distance. Recall@3 is then P(true top-3 inside the ADC
# top-PQ_RERANK) instead of P(ADC ranks them top-3): measured
# 0.77/0.90/0.80 -> 1.0/1.0/1.0 at sf0.001/0.01/0.1 with 3*k = 9.
# The re-rank volume is QUERIES x RERANK rows - a broadcast-joined
# map pass over the (already-materialized) subvector stream, O(1)
# vs corpus size.
PQ_RERANK = 3 * PQ_TOPK

# r10 measured note (SCALING §22): training the OLD 8x8-dim / K=16
# config does NOT lift recall (0.20 untrained -> 0.10-0.23 trained at
# 0-8 Lloyd iters) - at that resolution quantization error swamps the
# neighbor gaps on this corpus (top-1..5 d2 within 12% of each other).
# The binding constraint is cells-per-vector, so the trained config is
# 32 subspaces x 2 dims x 256 centroids (classic 8-bit codes): recall@3
# = 0.77 / 0.90 / 0.80 at sf0.001 / 0.01 / 0.1. 2-dim subspaces also
# drop the interpreted HOF fold for pure codegen int64 arithmetic.

# DuckDB fragment: exact-int64 floor(sum / n) via subtract-positive-mod
# (numerator becomes exactly divisible, so any division semantics
# agree; Spark side uses (s - pmod(s, n)) div n).
_DUCK_FDIV = "(({s} - ((({s}) % ({n}) + ({n})) % ({n}))) // ({n}))"


def _pq_oracle() -> str:
    """DuckDB twin of the trained-PQ pipeline: same seeding, same
    fixed Lloyd supersteps (unrolled as chained CTEs), same exact
    int64 arithmetic, so the learned codebook is bit-identical."""
    d2 = (
        "(t.x1 - c.c1) * (t.x1 - c.c1)"
        " + (t.x2 - c.c2) * (t.x2 - c.c2)"
    )
    parts = [
        f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    subs AS (
      SELECT vec_id, s.s,
             CAST(round(v[s.s * {PQ_SUBDIM} + 1] * 1000000, 0)
                  AS BIGINT) AS x1,
             CAST(round(v[s.s * {PQ_SUBDIM} + 2] * 1000000, 0)
                  AS BIGINT) AS x2
      FROM e CROSS JOIN (SELECT unnest(range({PQ_SUBS})) AS s) s
    ),
    cb0 AS (SELECT s, vec_id AS code, x1 AS c1, x2 AS c2 FROM subs
            WHERE vec_id < {PQ_K})"""
    ]
    for i in range(PQ_TRAIN_ITERS):
        parts.append(f""",
    a{i} AS (
      SELECT vec_id, s, x1, x2, code FROM (
        SELECT t.vec_id, t.s, t.x1, t.x2, c.code,
               row_number() OVER (PARTITION BY t.vec_id, t.s
                 ORDER BY {d2}, c.code) AS rn
        FROM (SELECT * FROM subs WHERE vec_id < {PQ_TRAIN_CAP}) t
        JOIN cb{i} c ON t.s = c.s) WHERE rn = 1
    ),
    u{i} AS (
      SELECT s, code, sum(x1) AS s1, sum(x2) AS s2,
             count(*) AS n FROM a{i} GROUP BY s, code
    ),
    cb{i + 1} AS (
      SELECT c.s, c.code,
             COALESCE({_DUCK_FDIV.format(s="u.s1", n="u.n")}, c.c1) AS c1,
             COALESCE({_DUCK_FDIV.format(s="u.s2", n="u.n")}, c.c2) AS c2
      FROM cb{i} c LEFT JOIN u{i} u ON c.s = u.s AND c.code = u.code
    )""")
    fin = PQ_TRAIN_ITERS
    parts.append(f""",
    codes AS (
      SELECT vec_id, s, code FROM (
        SELECT t.vec_id, t.s, c.code,
               row_number() OVER (PARTITION BY t.vec_id, t.s
                 ORDER BY {d2}, c.code) AS rn
        FROM subs t JOIN cb{fin} c ON t.s = c.s) WHERE rn = 1
    ),
    qlut AS (
      SELECT t.vec_id AS query_id, t.s, c.code, {d2} AS d2m
      FROM subs t JOIN cb{fin} c ON t.s = c.s
      WHERE t.vec_id < {PQ_QUERIES}
    ),
    adc AS (
      SELECT l.query_id, x.vec_id AS cand_id,
             CAST(sum(l.d2m) AS BIGINT) AS micro
      FROM codes x JOIN qlut l ON x.s = l.s AND x.code = l.code
      WHERE x.vec_id <> l.query_id
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT query_id, cand_id, micro
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY micro, cand_id) AS rn
            FROM adc)
      WHERE rn <= {PQ_RERANK}
    ),
    -- r13 two-stage: exact int64 L2 on the RERANK survivors only,
    -- computed off the same micro-int subvector stream (32 x 2 dims
    -- = the full 64), so both engines share one exact arithmetic.
    exact AS (
      SELECT c.query_id, c.cand_id, c.micro,
             CAST(sum((q.x1 - x.x1) * (q.x1 - x.x1)
                      + (q.x2 - x.x2) * (q.x2 - x.x2)) AS BIGINT)
               AS exact_micro
      FROM cand c
      JOIN subs q ON q.vec_id = c.query_id
      JOIN subs x ON x.vec_id = c.cand_id AND x.s = q.s
      GROUP BY 1, 2, 3
    )
    SELECT query_id, cand_id,
           CAST(micro AS DOUBLE) / 1000000000000 AS adc_dist,
           CAST(exact_micro AS DOUBLE) / 1000000000000 AS exact_dist
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY exact_micro, cand_id) AS rn
          FROM exact)
    WHERE rn <= {PQ_TOPK}
    ORDER BY query_id, exact_dist, cand_id
    """)
    return "".join(parts)


@register("q_sim_pq_adc", oracle=_pq_oracle())
def q_sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jegou et al. 2011, the FAISS IVF-PQ building block), with a
    TRAINED codebook: split each 64-dim vector into 32 subspaces of
    2 dims, learn a 256-entry codebook per subspace with 2 Lloyd
    supersteps (q_sim_kmeans_lloyd's machinery, seeded from vectors
    0..255), encode every corpus vector as 32 one-byte codes, then
    answer queries WITHOUT touching raw corpus vectors - each query
    precomputes a 32x256 lookup table of sub-distances to every
    centroid, and a candidate's distance is just 32 LUT adds.
    Training reads only a bounded deterministic sample (vec_id <
    PQ_TRAIN_CAP = 4096, the FAISS train-on-a-sample convention) -
    a no-op at fixture sizes, the difference between 3x and 1x
    full-corpus assignment passes at scale (206 s -> 69 s measured
    at 20k vectors, SCALING sec 22).

    Determinism protocol (tightened vs the r9 float version): vector
    coordinates are snapped to int64 MICRO-units FIRST, so every
    later step - sub-distance (x1-c1)^2+(x2-c2)^2, argmin + code
    tie-break, centroid update floor(sum/n) via the
    subtract-positive-mod construction, and the ADC sum - is exact
    order-independent int64 in both engines; the reported distance
    is ONE trailing division. Empty clusters keep their previous
    centroid (left join + coalesce) in both engines.

    r13 TWO-STAGE RE-RANK (VERDICT r12 #2): the LUT scan now feeds a
    top-PQ_RERANK (3k) candidate list per query; those survivors are
    exact-re-ranked against the raw micro-int vectors (same exact
    int64 arithmetic, computed off the materialized subvector
    stream) and the top-k by exact distance is emitted with BOTH
    distances. Measured recall@3 vs exact L2: 1.0/1.0/1.0 at
    sf0.001/0.01/0.1 (raw ADC top-3 was 0.77/0.90/0.80; pinned
    floor now 0.95) - the re-rank converts "ADC must RANK the true
    neighbors top-3" into "ADC must only SURFACE them in the
    top-9". Pinned against an independent numpy PQ in tests (the
    r9 untrained 8x8/K=16 codebook measured 0.20, and TRAINING THAT
    CONFIG DOES NOT HELP - 0.10-0.23 across 0-8 Lloyd iters, see
    SCALING §22).

    100 TB posture - the reason PQ exists: the corpus is stored as
    N x 32 BYTES (8x smaller than float32), the per-query LUT is
    8192 ints broadcast to every partition, and the probe scan is a
    map-only integer-add pass with NO shuffle of vectors. Training
    touches only the 32x256 codebook: each superstep is one
    broadcast join + one map-side-combinable (s, code) agg of 3
    int64 partials - the q_sim_kmeans_lloyd shape. Fixed iteration
    count keeps the chain declarative (the q_graph_pagerank rule);
    at cluster scale each superstep's codebook would localCheckpoint.
    2-dim subspaces keep the distance arithmetic in whole-stage
    codegen (no interpreted array fold).

    Local-engine cost (r10 follow-up, SCALING sec 22): the first
    trained version ran 11 s at the sf0.1 fixture - stage metrics
    showed ~80-100 s CPU per assign pass on 16.4M expanded rows.
    Three compounding causes, each fixed: Generate fused into the
    expansion-join codegen loop (the dominant one - see the subs
    checkpoint note below), min(struct) planning Sort+SortAggregate
    with the d2 arithmetic evaluated interpreted per expanded row,
    and a 4-column grouping key missing the codegen fast hash map.
    Fixed total: 3.5 s steady (3.2x).

    r11 GEMM-tiled encode (VERDICT r10 #1): even codegen-fused, the
    argmin expansion materializes N*SUBS*K arithmetic ROWS per assign
    pass (16.4M at the sf0.1 fixture, 1.64B at 200k vectors - the
    census-worst key, 585 s). The assign now runs as a mapInPandas
    pass over the N*SUBS subvector stream: each Arrow batch meets the
    driver-held codebook in one float64 GEMM per subspace (the
    blocked-GEMM pattern of q_sim_threshold_pairs / q_sim_knn_graph),
    argmin picks the code, and the x256 expansion never becomes rows.
    EXACTNESS IS PRESERVED, NOT APPROXIMATED - no margin/rescore step
    is needed here because every quantity is an INTEGER that float64
    represents exactly: |coords| are micro-unit ints < 2^21 (guarded
    at 2e7 per batch), so x*x, x@c, c*c <= ~8e14 and d2 <= ~3.2e15
    all stay below 2^53; float64 adds/FMAs of exactly-representable
    integers with in-range results are exact regardless of summation
    order, so the numpy argmin equals the JVM int64 argmin bit-for-
    bit, and np.argmin's first-minimum equals the (d2, code)-
    ascending tie-break because codes are column-ordered ascending.
    Training itself moves to the DRIVER: the sample is capped at
    PQ_TRAIN_CAP * PQ_SUBS rows (~4 MB, CONSTANT at any corpus size),
    so one bounded collect feeds 2 numpy Lloyd supersteps (~34M
    flops/pass) with the identical exact-int64 semantics - float64
    GEMM argmin, int64 np.add.at sums, floor division (numpy // IS
    floor, the value the subtract-positive-mod construction pins),
    empty clusters keep their centroid. Measured at the sf0.1
    fixture: the former seed-collect + 2 Spark training jobs (7.3 s
    of serialized fixed cost) collapse into one job; the learned
    codebook and the oracle hash are bit-identical to the join form
    at both SFs (and pinned by the numpy-PQ test).

    100 TB note for the driver-side phase: one collect of a
    CAP-bounded sample (the sklearn-fit-on-sample posture) - not a
    data collect; the full-corpus encode and the ADC probe scan are
    the only O(N) passes and both remain distributed.
    """
    e = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", _vd("embedding").alias("v")
    )
    mi = lambda i: F.round(F.col("v")[i] * 1000000, 0).cast("bigint")  # noqa: E731
    subs = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        mi(s * PQ_SUBDIM).alias("x1"),
                        mi(s * PQ_SUBDIM + 1).alias("x2"),
                    )
                    for s in range(PQ_SUBS)
                ]
            )
        ).alias("p"),
    ).select("vec_id", "p.s", "p.x1", "p.x2")
    # Materialize the exploded sub-vector table ONCE. Two reasons,
    # both measured (r10, SCALING sec 22): (1) subs feeds FOUR
    # consumers (codebook seed, train passes, corpus encode, query
    # LUT) - without a boundary each re-derives the explode; (2) far
    # bigger, when the Generate(explode of 32 structs) stays FUSED
    # into the same whole-stage-codegen loop as the x256 expansion
    # join, every joined row re-walks the generator output (~5 us/row,
    # ~80 s CPU per assign pass at 16.4M rows); a materialization
    # boundary makes the join probe read flat int rows (measured
    # 2.6 s -> 0.3 s per pass on the same synthetic shape). The frame
    # is 32 ints per vector - strictly smaller than the raw float
    # corpus it replaces in every downstream pass. Eager: the collect
    # below reads subs anyway, and a lazy checkpoint would run its job
    # at the call on some core counts and not others.
    subs = superstep_checkpoint(subs, eager=True)

    import numpy as np
    import pandas as pd

    # ONE bounded collect feeds the whole training phase: the sample
    # is capped at PQ_TRAIN_CAP * PQ_SUBS rows (<= 131k rows / ~4 MB)
    # at ANY corpus size - a constant, like the graph keys' 1-row K
    # picks, not a data collect. Training then runs driver-side in
    # numpy (2 Lloyd supersteps over a (<=4096, 32, 2) sample against
    # a (32, 256, 2) codebook is ~34M flops/pass - model fitting on a
    # capped sample, the sklearn-on-sample posture), which collapses
    # the former seed-collect + per-superstep jobs into one job and
    # leaves exactly ONE distributed pass over the corpus: the encode.
    sample = (
        subs.filter(F.col("vec_id") < PQ_TRAIN_CAP)
        .select("vec_id", "s", "x1", "x2")
        .toPandas()  # Arrow transfer - 131k rows in one batch hop
    )
    t_vid = sample["vec_id"].to_numpy(dtype=np.int64)
    t_s = sample["s"].to_numpy(dtype=np.int64)
    t_x = sample[["x1", "x2"]].to_numpy(dtype=np.int64)
    if len(sample) and int(np.abs(t_x).max()) >= 2 * 10**7:
        raise ValueError(
            "PQ coordinate outside the exact-float64 envelope "
            "(|micro units| >= 2e7)"
        )

    # Seed: codebook entry `code` of subspace s = vector `code`'s
    # subvector (vec_id < PQ_K), column-ordered code-ascending so
    # argmin's first-minimum IS the (d2, code)-ascending tie-break.
    code_ids = sorted(set(t_vid[t_vid < PQ_K].tolist()))
    if not code_ids:
        # zero-row corpus (or none of the seed ids present): no
        # codebook can exist, so the answer is the empty frame with
        # the contract schema - matches the oracle, which also
        # produces no rows.
        return spark.createDataFrame(
            [],
            "query_id bigint, cand_id bigint, adc_dist double, "
            "exact_dist double",
        )
    code_pos = {c: i for i, c in enumerate(code_ids)}
    cids = np.asarray(code_ids, dtype=np.int64)
    C = np.zeros((PQ_SUBS, len(code_ids), 2), dtype=np.int64)
    seed_mask = t_vid < PQ_K
    C[t_s[seed_mask], [code_pos[v] for v in t_vid[seed_mask]]] = t_x[seed_mask]

    def _argmin_codes(xs: "np.ndarray", Cf: "np.ndarray",
                      c_sq: "np.ndarray") -> "np.ndarray":
        # xs: (B, 2) int64-valued float64, one subspace; returns the
        # argmin codebook POSITION per row. Exact by the integer-in-
        # float64 argument in the operator docstring.
        d2 = (
            (xs * xs).sum(axis=1)[:, None]
            - 2.0 * (xs @ Cf.T)
            + c_sq[None, :]
        )
        return np.argmin(d2, axis=1)

    # Driver-side Lloyd supersteps on the capped sample: identical
    # exact-int64 semantics to the SQL oracle - float64 GEMM argmin
    # (exact, see docstring), int64 np.add.at sums, floor division
    # (numpy int64 // IS floor, the value the subtract-positive-mod
    # construction pins), empty clusters keep their centroid.
    for _ in range(PQ_TRAIN_ITERS):
        Cf = C.astype(np.float64)
        c_sq = (Cf * Cf).sum(axis=2)
        s1 = np.zeros_like(C)                       # (S, K, 2) int64
        n = np.zeros(C.shape[:2], dtype=np.int64)   # (S, K)
        for sub in range(PQ_SUBS):
            m = t_s == sub
            pos = _argmin_codes(t_x[m].astype(np.float64), Cf[sub], c_sq[sub])
            np.add.at(s1[sub], pos, t_x[m])
            np.add.at(n[sub], pos, 1)
        upd = n > 0
        C = C.copy()
        C[upd] = s1[upd] // n[upd][:, None]

    def _gemm_assign(frame: DataFrame, cbook) -> DataFrame:
        # One distributed pass over the (vec_id, s, x1, x2) stream:
        # per Arrow batch, one float64 GEMM per subspace against the
        # frozen codebook, argmin -> code. Exact by the integer-in-
        # float64 argument in the operator docstring; the guard
        # enforces its envelope. Columns ordered code-ascending so
        # np.argmin's first-min IS the (d2, code) tie-break.
        Cf = cbook.astype(np.float64)        # (S, K, 2)
        c_sq = (Cf * Cf).sum(axis=2)         # (S, K), exact <= ~8e14
        ids = cids

        def fn(it):
            for pdf in it:
                if not len(pdf):
                    continue
                x = pdf[["x1", "x2"]].to_numpy(dtype=np.float64)
                if np.abs(x).max() >= 2.0e7:
                    raise ValueError(
                        "PQ coordinate outside the exact-float64 "
                        "envelope (|micro units| >= 2e7)"
                    )
                svals = pdf["s"].to_numpy()
                pos = np.empty(len(pdf), dtype=np.int64)
                for sub in np.unique(svals):
                    m = svals == sub
                    d2 = (
                        (x[m] * x[m]).sum(axis=1)[:, None]
                        - 2.0 * (x[m] @ Cf[sub].T)
                        + c_sq[sub][None, :]
                    )
                    pos[m] = np.argmin(d2, axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "s": pdf["s"].to_numpy(),
                        "x1": pdf["x1"].to_numpy(),
                        "x2": pdf["x2"].to_numpy(),
                        "code": ids[pos].astype(np.int32),
                    }
                )

        return frame.select("vec_id", "s", "x1", "x2").mapInPandas(
            fn, schema="vec_id bigint, s int, x1 bigint, x2 bigint, code int"
        )

    codes = _gemm_assign(subs, C).select("vec_id", "s", "code")
    # The final codebook goes back to a (broadcast-small) Spark frame
    # only for the query LUT, which needs ALL 256 sub-distances per
    # (query, s), not an argmin - that expansion is QUERIES*SUBS*K
    # = 81,920 rows, join-shaped, and stays JVM-side.
    cb = spark.createDataFrame(
        [
            (int(s), int(cids[p]), int(C[s, p, 0]), int(C[s, p, 1]))
            for s in range(PQ_SUBS)
            for p in range(len(code_ids))
        ],
        "cs int, code int, c1 bigint, c2 bigint",
    )

    def _d2():
        dx = F.col("x1") - F.col("c1")
        dy = F.col("x2") - F.col("c2")
        return dx * dx + dy * dy
    qlut = (
        subs.filter(F.col("vec_id") < PQ_QUERIES)
        .join(F.broadcast(cb), F.col("s") == F.col("cs"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("s").alias("ls"),
            F.col("code").alias("lcode"),
            _d2().alias("d2m"),
        )
    )
    adc = (
        codes.join(
            F.broadcast(qlut),
            (F.col("s") == F.col("ls"))
            & (F.col("code") == F.col("lcode"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(F.sum("d2m").cast("bigint").alias("micro"))
    )
    w = Window.partitionBy("query_id").orderBy("micro", "cand_id")
    cand = (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_RERANK)
        .select("query_id", "cand_id", "micro")
    )
    # r13 two-stage re-rank (VERDICT r12 #2): the QUERIES x RERANK
    # survivor list broadcasts (bounded, corpus-size-independent)
    # against the materialized subvector stream - a map-only exact
    # int64 L2 pass over RERANK*SUBS rows per query; no raw-vector
    # shuffle, and the ADC scan above is untouched. Recall@3 vs
    # exact L2 lifts from 0.77/0.90/0.80 to 1.0 at all three SFs
    # (pinned in tests/test_pipeline_props.py).
    qsub = subs.filter(F.col("vec_id") < PQ_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("s").alias("qs"),
        F.col("x1").alias("qx1"),
        F.col("x2").alias("qx2"),
    )
    cq = cand.join(qsub, "query_id")
    dxx = (F.col("x1") - F.col("qx1")) * (F.col("x1") - F.col("qx1")) + (
        F.col("x2") - F.col("qx2")
    ) * (F.col("x2") - F.col("qx2"))
    ex = (
        subs.join(
            F.broadcast(cq),
            (F.col("vec_id") == F.col("cand_id")) & (F.col("s") == F.col("qs")),
        )
        .groupBy("query_id", "cand_id", "micro")
        .agg(F.sum(dxx).cast("bigint").alias("exact_micro"))
    )
    w2 = Window.partitionBy("query_id").orderBy("exact_micro", "cand_id")
    return (
        ex.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= PQ_TOPK)
        .select(
            "query_id",
            "cand_id",
            (F.col("micro").cast("double") / 1000000000000).alias("adc_dist"),
            (F.col("exact_micro").cast("double") / 1000000000000).alias(
                "exact_dist"
            ),
        )
        .orderBy("query_id", "exact_dist", "cand_id")
    )


@register(
    "q_sim_embedding_drift",
    oracle="""
    WITH e AS (
      SELECT vec_id, vec_id % 2 AS snap,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    dims AS (
      -- parallel unnest (DuckDB 1.0 has no WITH ORDINALITY)
      SELECT snap, unnest(range(0, len(v))) AS dim, unnest(v) AS x
      FROM e
    ),
    cent AS (
      SELECT CAST(dim AS BIGINT) AS dim,
             round(avg(CASE WHEN snap = 0 THEN x END), 6) AS c_old,
             round(avg(CASE WHEN snap = 1 THEN x END), 6) AS c_new
      FROM dims GROUP BY dim
    ),
    g AS (
      SELECT sum(c_old * c_new) AS dot,
             sqrt(sum(c_old * c_old)) AS na,
             sqrt(sum(c_new * c_new)) AS nb,
             sqrt(sum((c_new - c_old) * (c_new - c_old))) AS l2
      FROM cent
    )
    SELECT c.dim, c.c_old, c.c_new,
           round(abs(c.c_new - c.c_old), 6) AS abs_shift,
           round(g.dot / (g.na * g.nb), 6) AS centroid_cosine,
           round(g.l2, 6) AS centroid_l2
    FROM cent c CROSS JOIN g
    ORDER BY c.dim
    """,
)
def q_sim_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: split the corpus into an OLD
    and NEW snapshot (vec_id parity standing in for two model/data
    epochs), compute each snapshot's centroid per dimension, and
    report the per-dim shift plus the two global drift numbers -
    centroid cosine (direction drift) and centroid L2 (magnitude
    drift) - the cheap first-line alarm every vector-store
    re-embedding pipeline checks BEFORE recall degrades
    (q_stats_psi for scalar features; this is its vector-space
    sibling, and per-dim rows localize WHICH dimensions moved).

    Determinism: the q_sim_centroid protocol - per-(snapshot, dim)
    averages via posexplode two-phase agg, rounded 6dp, then all
    global sums run over the 64 ROUNDED per-dim values (the only
    order surface, under the same 6dp output round).

    Scale shape: one posexplode pass -> (dim) conditional avg agg
    (64-row result; map-side combinable) -> 1-row global broadcast
    back onto the dim frame. 100 TB: identical - drift cost is one
    scan regardless of corpus size, and per-label drift just widens
    the group key.
    """
    e = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        (F.col("vec_id") % 2).alias("snap"),
        _vd("embedding").alias("v"),
    )
    dims = e.select(
        "snap", F.posexplode("v").alias("pos0", "x")
    ).select("snap", F.col("pos0").cast("bigint").alias("dim"), "x")
    cent = dims.groupBy("dim").agg(
        F.round(
            F.avg(F.when(F.col("snap") == 0, F.col("x"))), 6
        ).alias("c_old"),
        F.round(
            F.avg(F.when(F.col("snap") == 1, F.col("x"))), 6
        ).alias("c_new"),
    )
    g = cent.agg(
        F.sum(F.col("c_old") * F.col("c_new")).alias("dot"),
        F.sqrt(F.sum(F.col("c_old") * F.col("c_old"))).alias("na"),
        F.sqrt(F.sum(F.col("c_new") * F.col("c_new"))).alias("nb"),
        F.sqrt(
            F.sum(
                (F.col("c_new") - F.col("c_old"))
                * (F.col("c_new") - F.col("c_old"))
            )
        ).alias("l2"),
    )
    return (
        cent.crossJoin(g)
        .select(
            "dim",
            "c_old",
            "c_new",
            F.round(F.abs(F.col("c_new") - F.col("c_old")), 6).alias(
                "abs_shift"
            ),
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "centroid_cosine"
            ),
            F.round("l2", 6).alias("centroid_l2"),
        )
        .orderBy("dim")
    )


NDCG_K = 5


@register(
    "q_sim_ndcg",
    oracle=f"""
    WITH ranked AS (
      SELECT query_id, cand_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, cand_id) AS pos
      FROM ({{cos}})
    ),
    lab AS (SELECT vec_id, label FROM embeddings),
    rel AS (
      SELECT r.query_id, r.pos,
             CASE WHEN lc.label = lq.label THEN 1 ELSE 0 END AS rel
      FROM ranked r
      JOIN lab lc ON r.cand_id = lc.vec_id
      JOIN lab lq ON r.query_id = lq.vec_id
      WHERE r.pos <= {NDCG_K}
    ),
    dcg AS (
      SELECT query_id,
             sum(rel / log2(pos + 1.0)) AS dcg,
             CAST(sum(rel) AS BIGINT) AS n_rel
      FROM rel GROUP BY query_id
    ),
    ideal AS (
      SELECT query_id,
             sum(rel / log2(ipos + 1.0)) AS idcg
      FROM (SELECT query_id, rel,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY rel DESC, pos) AS ipos
            FROM rel)
      GROUP BY query_id
    ),
    per_q AS (
      SELECT d.query_id, d.n_rel,
             round(d.dcg, 6) AS dcg,
             round(CASE WHEN i.idcg > 0 THEN d.dcg / i.idcg
                        ELSE 0.0 END, 6) AS ndcg
      FROM dcg d JOIN ideal i ON d.query_id = i.query_id
    ),
    mean AS (SELECT round(avg(ndcg), 6) AS mean_ndcg FROM per_q)
    SELECT p.query_id, p.n_rel, p.dcg, p.ndcg, m.mean_ndcg
    FROM per_q p CROSS JOIN mean m ORDER BY p.query_id
    """.format(cos=_ORACLES["q_sim_cosine_topk"]),
)
def q_sim_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@5 of the cosine retrieval against label relevance: each
    of the 10 queries' top-5 cosine neighbors is graded rel=1 when
    its label matches the query's; DCG discounts by log2(pos+1) and
    normalizes by the ideal ordering - the POSITION-AWARE ranking
    metric that completes the eval family (q_sim_recall_eval says
    whether the right items are IN the list; nDCG says whether they
    are at the TOP, which is what a RAG context window actually
    consumes). Per-query rows plus the mean.

    Determinism: the ranking inherits q_sim_cosine_topk's
    rounded-cosine order; relevance is an integer label equality;
    log2 is the libm surface behind the 6dp round; the ideal
    reordering sorts the SAME integer rel values (pos tie-break),
    so both engines build identical permutations.

    Scale shape: the ranking is the existing broadcast-queries scan;
    grading is two broadcast label joins; DCG/IDCG are 5-row-per-
    query window/agg arithmetic. 100 TB: the eval rides whatever
    ranking it grades - its own cost is the label join.
    """
    e = _with_norm(
        spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
            "vec_id", _vd("embedding").alias("v")
        )
    )
    lab = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "label"
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.round(
                _cos_pre(F.col("qv"), F.col("qn"), F.col("v"), F.col("nrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "cand_id"
    )
    ranked = (
        scored.withColumn("pos", F.row_number().over(wq))
        .filter(F.col("pos") <= NDCG_K)
    )
    rel = (
        ranked.join(
            F.broadcast(lab.withColumnRenamed("vec_id", "cid")),
            F.col("cand_id") == F.col("cid"),
        )
        .withColumnRenamed("label", "cl")
        .join(
            F.broadcast(
                lab.withColumnRenamed("vec_id", "qid").withColumnRenamed(
                    "label", "ql"
                )
            ),
            F.col("query_id") == F.col("qid"),
        )
        .select(
            "query_id",
            "pos",
            F.when(F.col("cl") == F.col("ql"), 1).otherwise(0).alias("rel"),
        )
    )
    dcg = rel.groupBy("query_id").agg(
        F.sum(F.col("rel") / F.log2(F.col("pos") + 1.0)).alias("dcg"),
        F.sum("rel").cast("bigint").alias("n_rel"),
    )
    # Ideal DCG in CLOSED FORM (r14): relevance is binary here, so
    # the ideal reordering is just the n_rel relevant items at
    # positions 1..n_rel - idcg = sum_{i=1..n_rel} 1/log2(i+1), a
    # pure expression of n_rel. The previous Window(rel desc, pos) +
    # agg + join re-ran the whole scoring subtree a second time for
    # an arithmetic identity (mathematically equal: sorting the same
    # 0/1 multiset). per_q then feeds mean + output, so the bounded
    # |queries|-row frame is checkpointed to run scoring ONCE
    # (A/B at sf0.1: 1.08s -> 0.9s median, oracle hash-match).
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.col("n_rel").cast("int")),
        F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double") + 1.0),
    )
    per_q = superstep_checkpoint(
        dcg.select(
            "query_id",
            "n_rel",
            F.round("dcg", 6).alias("dcg"),
            F.round(
                F.when(
                    F.col("n_rel") > 0, F.col("dcg") / idcg
                ).otherwise(0.0),
                6,
            ).alias("ndcg"),
        )
    )
    mean = per_q.agg(F.round(F.avg("ndcg"), 6).alias("mean_ndcg"))
    return (
        per_q.crossJoin(mean).orderBy("query_id")
    )


@register(
    "q_sim_cluster_nmi",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, v AS cv FROM e
          WHERE vec_id < {IVF_CENTROIDS}),
    aff AS (
      SELECT e.vec_id, e.label, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round({_duck_cos("e.v", "c.cv")}, 6) DESC,
                        c.cid) AS ar
      FROM e JOIN c ON true
    ),
    assign AS (SELECT vec_id, label, cid FROM aff WHERE ar = 1),
    cell AS (
      SELECT cid, CAST(label AS BIGINT) AS label,
             CAST(count(*) AS BIGINT) AS n
      FROM assign GROUP BY cid, label
    ),
    nc AS (SELECT cid, CAST(sum(n) AS BIGINT) AS n_c FROM cell
           GROUP BY cid),
    nl AS (SELECT label, CAST(sum(n) AS BIGINT) AS n_l FROM cell
           GROUP BY label),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cell),
    mi AS (
      SELECT sum((CAST(x.n AS DOUBLE) / t.nn)
                 * ln((CAST(x.n AS DOUBLE) * t.nn)
                      / (CAST(c.n_c AS DOUBLE) * l.n_l))) AS i
      FROM cell x JOIN nc c ON x.cid = c.cid
      JOIN nl l ON x.label = l.label CROSS JOIN tot t
    ),
    hc AS (SELECT -sum((CAST(n_c AS DOUBLE) / nn)
                       * ln(CAST(n_c AS DOUBLE) / nn)) AS h
           FROM nc CROSS JOIN tot),
    hl AS (SELECT -sum((CAST(n_l AS DOUBLE) / nn)
                       * ln(CAST(n_l AS DOUBLE) / nn)) AS h
           FROM nl CROSS JOIN tot)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM nc) AS n_cells,
           (SELECT CAST(count(*) AS BIGINT) FROM nl) AS n_labels,
           round(mi.i, 6) AS mutual_info,
           round(hc.h, 6) AS h_cells,
           round(hl.h, 6) AS h_labels,
           round(mi.i / sqrt(hc.h * hl.h), 6) AS nmi
    FROM mi CROSS JOIN hc CROSS JOIN hl
    """,
)
def q_sim_cluster_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized mutual information between the IVF cell
    assignment (q_sim_ann_ivf's deterministic coarse quantizer) and
    the ground-truth labels: NMI = I(C;L)/sqrt(H(C)H(L)) - the
    standard external clustering-quality score (0 = cells ignore
    labels, 1 = cells ARE the labels), completing the eval family
    (q_sim_silhouette is the internal geometric score; NMI is the
    label-agreement score, and it is what you tune n_centroids
    against).

    Exactness: the assignment inherits the IVF rounded-argmax
    protocol; all contingency counts/marginals are exact int64; MI
    and the entropies are bounded-frame ln sums behind the 6dp
    round (PSI rule); NMI is one division of rounded-protocol
    values.

    Scale shape: assignment is the broadcast-centroid map pass;
    contingency is a |cells| x |labels| two-phase agg; everything
    after runs on the bounded frame. 100 TB: identical.
    """
    e = _with_norm(
        spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
            "vec_id", _vd("embedding").alias("v"), "label"
        )
    )
    cents = e.filter(F.col("vec_id") < IVF_CENTROIDS).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    wa = Window.partitionBy("vec_id").orderBy(
        F.col("rcos").desc(), F.col("cid")
    )
    assign = (
        e.join(F.broadcast(cents))
        .select(
            "vec_id",
            "label",
            "cid",
            F.round(
                _cos_pre(F.col("v"), F.col("nrm"), F.col("cv"), F.col("cn")),
                6,
            ).alias("rcos"),
        )
        .withColumn("ar", F.row_number().over(wa))
        .filter(F.col("ar") == 1)
    )
    # The bounded |cells| x |labels| contingency frame feeds FOUR
    # consumers (nc, nl, tot, mi) - un-materialized, each re-ran the
    # full broadcast-centroid assignment + argmax window (20 Window
    # nodes in the static plan). One lazy localCheckpoint runs the
    # assignment once (r14, the superstep pattern).
    cell = superstep_checkpoint(
        assign.groupBy(
            "cid", F.col("label").cast("bigint").alias("label")
        ).agg(F.count("*").cast("bigint").alias("n"))
    )
    nc = cell.groupBy("cid").agg(F.sum("n").cast("bigint").alias("n_c"))
    nl = cell.groupBy("label").agg(
        F.sum("n").cast("bigint").alias("n_l")
    )
    tot = cell.agg(F.sum("n").cast("bigint").alias("nn"))
    mi = (
        cell.join(F.broadcast(nc), "cid")
        .join(F.broadcast(nl), "label")
        .crossJoin(tot)
        .agg(
            F.sum(
                (F.col("n").cast("double") / F.col("nn"))
                * F.log(
                    (F.col("n").cast("double") * F.col("nn"))
                    / (F.col("n_c").cast("double") * F.col("n_l"))
                )
            ).alias("i")
        )
    )
    hc = (
        nc.crossJoin(tot)
        .agg(
            (-F.sum(
                (F.col("n_c").cast("double") / F.col("nn"))
                * F.log(F.col("n_c").cast("double") / F.col("nn"))
            )).alias("h")
        )
    )
    hl = (
        nl.crossJoin(tot)
        .agg(
            (-F.sum(
                (F.col("n_l").cast("double") / F.col("nn"))
                * F.log(F.col("n_l").cast("double") / F.col("nn"))
            )).alias("h")
        )
    )
    n_cells = nc.agg(F.count("*").cast("bigint").alias("n_cells"))
    n_labels = nl.agg(F.count("*").cast("bigint").alias("n_labels"))
    return (
        n_cells.crossJoin(n_labels)
        .crossJoin(mi)
        .crossJoin(hc.withColumnRenamed("h", "hch"))
        .crossJoin(hl.withColumnRenamed("h", "hlh"))
        .select(
            "n_cells",
            "n_labels",
            F.round("i", 6).alias("mutual_info"),
            F.round("hch", 6).alias("h_cells"),
            F.round("hlh", 6).alias("h_labels"),
            F.round(
                F.col("i") / F.sqrt(F.col("hch") * F.col("hlh")), 6
            ).alias("nmi"),
        )
    )


MRL_DIMS = (16, 32)  # truncation ladder vs the full 64
MRL_K = 5


def _trunc_rank_sql(dim: int) -> str:
    """Top-5-per-query cosine ranking on the first `dim` dims."""
    return f"""
      SELECT query_id, cand_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(
                   list_dot_product(list_slice(q.v, 1, {dim}),
                                    list_slice(c.v, 1, {dim}))
                   / (sqrt(list_dot_product(list_slice(q.v, 1, {dim}),
                                            list_slice(q.v, 1, {dim})))
                      * sqrt(list_dot_product(list_slice(c.v, 1, {dim}),
                                              list_slice(c.v, 1, {dim})))),
                   6) DESC, c.vec_id) AS rn
        FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
      ) WHERE rn <= {MRL_K}
    """


@register(
    "q_sim_dim_truncation",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    full64 AS ({_trunc_rank_sql(64)}),
    d16 AS ({_trunc_rank_sql(16)}),
    d32 AS ({_trunc_rank_sql(32)}),
    m AS (
      SELECT 16 AS dim, count(*) AS hits
      FROM d16 JOIN full64 USING (query_id, cand_id)
      UNION ALL
      SELECT 32, count(*)
      FROM d32 JOIN full64 USING (query_id, cand_id)
    ),
    nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries
           FROM full64)
    SELECT CAST(m.dim AS BIGINT) AS dim, nq.n_queries,
           CAST(m.hits AS BIGINT) AS hits,
           CAST(m.hits AS DOUBLE)
             / nullif({MRL_K} * nq.n_queries, 0) AS recall_at_{MRL_K}
    FROM m CROSS JOIN nq ORDER BY dim
    """,
)
def q_sim_dim_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation: cosine
    top-5 retrieval using only the FIRST 16 / 32 dimensions, scored
    by recall against the full-64 ranking - the measurement behind
    the MRL serving pattern (store full vectors once, answer most
    queries from a prefix at 2-4x less compute/memory, rerank the
    shortlist with full dims). These embeddings are not
    MRL-trained, so the measured recall IS the point: it quantifies
    what naive truncation costs, which is exactly the check run
    before enabling prefix serving on any embedding set.

    Determinism: each ranking uses the rounded-cosine
    (6dp, cand-id tie-break) protocol on list_slice prefixes -
    identical trees in both engines; hits/recall are exact
    int ratios.

    Scale shape: both rankings are the broadcast-10-queries scan
    shape (prefix slicing is free per row); the overlap join is two
    50-row lists. 100 TB: the prefix scan reads 4x fewer vector
    bytes - the entire economics being measured.
    """
    base = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", _vd("embedding").alias("v")
    )

    def rank_at(dim):
        e = base.select(
            "vec_id", F.slice("v", 1, dim).alias("pv")
        ).withColumn(
            "nrm", F.sqrt(_dot(F.col("pv"), F.col("pv")))
        )
        q = e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("pv").alias("qv"),
            F.col("nrm").alias("qn"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cs").desc(), "cand_id"
        )
        return (
            e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("cand_id"),
                F.round(
                    _cos_pre(
                        F.col("qv"), F.col("qn"), F.col("pv"), F.col("nrm")
                    ),
                    6,
                ).alias("cs"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= MRL_K)
            .select("query_id", "cand_id")
        )

    # The full-64 ranking feeds THREE consumers (n_queries + one
    # hits join per truncation dim): checkpoint the bounded
    # |queries| x k frame so the full ranking runs once (r14).
    full = superstep_checkpoint(rank_at(64))
    nq = full.agg(
        F.count_distinct(F.col("query_id")).cast("bigint").alias(
            "n_queries"
        )
    )
    out = None
    for dim in MRL_DIMS:
        hits = (
            rank_at(dim)
            .join(full, ["query_id", "cand_id"])
            .agg(F.count("*").cast("bigint").alias("hits"))
        )
        row = (
            hits.crossJoin(nq)
            .select(
                F.lit(dim).cast("bigint").alias("dim"),
                "n_queries",
                "hits",
                (
                    F.col("hits").cast("double")
                    / F.nullif(
                        MRL_K * F.col("n_queries"), F.lit(0)
                    )
                ).alias(f"recall_at_{MRL_K}"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("dim")


@register(
    "q_sim_isotropy",
    oracle="""
    WITH e AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    dims AS (
      SELECT unnest(range(0, len(v))) AS dim, unnest(v) AS x FROM e
    ),
    pd AS (
      SELECT CAST(dim AS BIGINT) AS dim,
             round(avg(x * x) - avg(x) * avg(x), 6) AS var_d
      FROM dims GROUP BY dim
    ),
    g AS (
      SELECT count(*) AS d, sum(var_d) AS s1,
             sum(var_d * var_d) AS s2,
             max(var_d) AS vmax, min(var_d) AS vmin
      FROM pd
    )
    SELECT CAST(d AS BIGINT) AS n_dims,
           round(s1 / d, 6) AS mean_var,
           round(vmax, 6) AS max_var, round(vmin, 6) AS min_var,
           round(sqrt(greatest(d * s2 - s1 * s1, 0.0)) / s1, 6)
               AS cv_of_vars,
           round(1.0 - sqrt(greatest(d * s2 - s1 * s1, 0.0))
                       / (s1 * sqrt(CAST(greatest(d - 1, 0) AS DOUBLE))),
                 6) AS isotropy_score
    FROM g
    """,
)
def q_sim_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy diagnostic: the per-dimension
    variance spectrum summarized as its coefficient of variation
    and an IsoScore-style [0,1] uniformity (1 = all dims carry
    equal variance; 0 = one dim dominates) - anisotropic embedding
    spaces are exactly where raw cosine similarity degrades (the
    "narrow cone" pathology), so this is the health check run
    BEFORE trusting q_sim_cosine_topk rankings or choosing
    whitening/q_embeddings_pca_power post-processing.

    Determinism: per-dim variances via the q_sim_embedding_drift
    protocol (posexplode avg aggs, 6dp-rounded); all global sums
    run over the 64 ROUNDED values behind 6dp output rounds; the
    score normalizes the variance-spectrum sd by its max possible
    (s1*sqrt(d-1), attained by the one-hot spectrum).

    Scale shape: one posexplode pass -> 64-row two-phase agg ->
    1-row arithmetic; cost is one scan at any corpus size.
    """
    e = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        _vd("embedding").alias("v")
    )
    dims = e.select(F.posexplode("v").alias("pos0", "x")).select(
        F.col("pos0").cast("bigint").alias("dim"), "x"
    )
    pd_ = dims.groupBy("dim").agg(
        F.round(
            F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x"), 6
        ).alias("var_d")
    )
    g = pd_.agg(
        F.count("*").alias("d"),
        F.sum("var_d").alias("s1"),
        F.sum(F.col("var_d") * F.col("var_d")).alias("s2"),
        F.max("var_d").alias("vmax"),
        F.min("var_d").alias("vmin"),
    )
    d, s1, s2 = F.col("d"), F.col("s1"), F.col("s2")
    return g.select(
        d.cast("bigint").alias("n_dims"),
        F.round(s1 / d, 6).alias("mean_var"),
        F.round("vmax", 6).alias("max_var"),
        F.round("vmin", 6).alias("min_var"),
        F.round(
            F.sqrt(F.greatest(d * s2 - s1 * s1, F.lit(0.0))) / s1, 6
        ).alias("cv_of_vars"),
        F.round(
            1.0
            - F.sqrt(F.greatest(d * s2 - s1 * s1, F.lit(0.0)))
            / (s1 * F.sqrt(F.greatest(d - 1, F.lit(0)).cast("double"))),
            6,
        ).alias("isotropy_score"),
    )


DIV_SAMPLE_K = 128           # fixed sample size (scale-free cost)
DIV_HASH_A = 2654435761      # affine sampling hash (oracle-able in
DIV_HASH_B = 1013904223      # plain integer arithmetic, no xxhash)
DIV_HASH_P = 1_000_000_007
DIV_NEAR_T = 800_000         # micro-cosine near-dup threshold (0.8)


@register(
    "q_sim_pairwise_diversity",
    oracle=f"""
    WITH h AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             (vec_id * {DIV_HASH_A} + {DIV_HASH_B}) % {DIV_HASH_P} AS hk
      FROM embeddings
    ),
    s AS (SELECT vec_id, v FROM h ORDER BY hk, vec_id
          LIMIT {DIV_SAMPLE_K}),
    pairs AS (
      SELECT CAST(round(1000000 * ({_duck_cos("a.v", "b.v")}), 0)
                  AS BIGINT) AS micro
      FROM s a JOIN s b ON a.vec_id < b.vec_id
    )
    SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_sampled,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(sum(micro) AS DOUBLE) / (1000000.0 * count(*)), 6)
               AS mean_cos,
           round(CAST(sum(CASE WHEN micro >= {DIV_NEAR_T}
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS near_dup_share
    FROM pairs
    """,
)
def q_sim_pairwise_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus EMBEDDING DIVERSITY on a fixed deterministic sample:
    mean pairwise cosine and the share of pairs above 0.8 among the
    {DIV_SAMPLE_K} vectors with the smallest affine-hash keys - the
    one-number "is this corpus collapsing onto itself" monitor a
    training-mix owner tracks per snapshot (mean cosine creeping up
    = duplication or topical collapse; q_sim_isotropy measures the
    GEOMETRY of the space, this measures the SPREAD of the data in
    it; q_dedup_embedding finds the individual culprits).

    Determinism: the sample is the bottom-{DIV_SAMPLE_K} by an
    affine hash of vec_id (pure integer arithmetic, oracle-able -
    no xxhash in DuckDB), tie-broken by vec_id; per-pair cosines
    quantize to integer MICRO-units before aggregation (the
    silhouette protocol) so the means are summation-order-free; the
    two reported ratios are single IEEE divisions behind 6dp.

    Scale shape: the sample pick is a TakeOrderedAndProject (never
    a full sort); pairwise work is {DIV_SAMPLE_K} choose 2 ~ 8k
    pairs over a broadcast self-join - a FIXED cost regardless of
    corpus size (the whole point: diversity monitoring must not
    scale with N); one 1-row agg closes. 100 TB: identical.
    """
    e = spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        _vd("embedding").alias("v"),
        (
            (F.col("vec_id") * DIV_HASH_A + DIV_HASH_B) % DIV_HASH_P
        ).alias("hk"),
    )
    s = e.orderBy("hk", "vec_id").limit(DIV_SAMPLE_K).select("vec_id", "v")
    a = s.select(F.col("vec_id").alias("ida"), F.col("v").alias("va"))
    b = s.select(F.col("vec_id").alias("idb"), F.col("v").alias("vb"))
    pairs = a.join(
        F.broadcast(b), F.col("ida") < F.col("idb")
    ).select(
        F.round(1e6 * _cosine(F.col("va"), F.col("vb")), 0)
        .cast("bigint")
        .alias("micro")
    )
    # Aggregate pairs FIRST (a global agg emits its 1 row even over
    # zero pairs), THEN attach the sample count - the other order
    # turns an empty corpus into n_sampled NULL vs the oracle's 0
    # (caught by the empty-relation sweep).
    n_s = s.agg(F.count("*").cast("bigint").alias("n_sampled"))
    pagg = pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(
            F.sum("micro").cast("double") / (1e6 * F.count("*")), 6
        ).alias("mean_cos"),
        F.round(
            F.sum(
                F.when(F.col("micro") >= DIV_NEAR_T, 1).otherwise(0)
            ).cast("double")
            / F.count("*"),
            6,
        ).alias("near_dup_share"),
    )
    return n_s.crossJoin(F.broadcast(pagg)).select(
        "n_sampled", "n_pairs", "mean_cos", "near_dup_share"
    )
