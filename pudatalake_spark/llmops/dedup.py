"""Deduplication operators (SURVEY §2.10, BASELINE.json:6): exact
hash dedup, exact n-gram Jaccard near-dup, deterministic MinHash+LSH,
SimHash.

Fixture target: documents plants 25 near-dup pairs sharing a 40-char
prefix (FIXTURES.md); 5-char shingle Jaccard >= 0.5 isolates exactly
those pairs (verified at build time), so JACCARD_TAU = 0.5.

100 TB posture:
- exact dedup: hash + one shuffle on the 256-bit digest; group sizes
  are tiny so no skew.
- exact Jaccard: inverted-index join (shingle -> docs) so candidate
  generation is |pairs sharing a shingle|, not N^2; at corpus scale,
  cap the hottest shingles (stopword-like shingles create quadratic
  buckets - drop shingles with df > threshold, which cannot create
  false negatives for tau >= 0.5 if capped sensibly).
- MinHash+LSH: the production path - 64 mins, 8 bands x 8 rows;
  candidates only within equal band buckets, verified by exact
  Jaccard, so the output is a subset of the exact pairs. Its oracle
  is the exact pair list: a banding miss fails the oracle check like
  any other wrong answer. All hashes are seeded xxhash64 ->
  deterministic, re-runnable. pyspark.ml's MinHashLSH uses random
  per-fit coefficients, so this hand-rolled variant is preferred for
  reproducible pipelines.
- SimHash: 64-bit signature per doc, hamming<=K candidates; here the
  full quadratic check is avoided by joining on 4x16-bit sub-bands
  (pigeonhole: hamming<=3 implies one equal sub-band).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..loaders import broadcast_below, cached, scan_bytes, spread, table
from ..registry import register
from ..session import superstep_checkpoint
from .similarity import _cos_pre, _with_norm

JACCARD_TAU = 0.5
SHINGLE_LEN = 5
N_HASHES = 64
N_BANDS = 8  # 8 rows per band
_P31 = 2147483647  # Mersenne prime 2^31 - 1: modulus of the affine family


@register(
    "q_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, content_hash
    FROM (SELECT doc_id, sha256(lower(trim(text))) AS content_hash
          FROM documents)
    GROUP BY content_hash
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized-content SHA-256; keeps the smallest
    doc_id per hash group (deterministic survivor choice).

    min-per-group instead of a row_number window: the partial
    aggregate collapses each map partition to one row per digest
    BEFORE the shuffle, so only (hash, min_id) pairs move - a window
    would shuffle and sort every full row. 2x faster at sf0.1 and the
    gap widens with data (at 100 TB the shuffle carries digests, not
    documents)."""
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    hashed = d.select(
        "doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash")
    )
    return (
        hashed.groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "content_hash")
    )


def _hashed_shingles_col():
    """Distinct xxhash64'd character 5-gram shingles.

    Hash-then-distinct, never distinct-then-hash: deduping int64
    hashes is 5x faster than deduping the 5-char strings first
    (measured at sf0.1: 3.2s -> 0.66s for the full shingle phase),
    and the resulting set is identical up to xxhash64 collisions
    (P ~ |shingles|^2 / 2^64 per doc - negligible).

    Text shorter than SHINGLE_LEN yields an EMPTY set: without the
    guard, F.sequence(1, length-4) counts DOWN for short strings and
    substr on non-positive positions fabricates junk shingles that
    the DuckDB oracle comprehension (range() -> empty) never sees."""
    t = F.lower(F.col("text"))
    return F.when(F.length(t) < SHINGLE_LEN, F.array().cast("array<bigint>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - (SHINGLE_LEN - 1)),
                lambda i: F.xxhash64(t.substr(i, F.lit(SHINGLE_LEN))),
            )
        )
    )


HOT_DF_FRAC = 0.2  # a shingle in > 20% of all docs is stopword-like
HOT_DF_MIN = 32  # never cap in tiny corpora
HOT_DICT_MAX = 256  # hottest shingles kept in the bitmap dictionary
_MASK_WORDS = HOT_DICT_MAX // 64  # 4 bigint words per doc


def _mask_word(w: int):
    """Bitmap word w of a doc's hot-shingle set: OR of bit (idx - 64w)
    over the doc's hot dictionary indices that land in this word."""
    lo, hi = w * 64, (w + 1) * 64
    bit = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(idx - {lo} AS INT))"
    )
    return F.bit_or(
        F.when((F.col("idx") >= lo) & (F.col("idx") < hi), bit).otherwise(
            F.lit(0).cast("bigint")
        )
    ).alias(f"m{w}")


def near_jaccard_pairs(
    docs: DataFrame, tau: float = JACCARD_TAU, pair_cond=None
) -> DataFrame:
    """Exact pairs with character-5-gram Jaccard >= tau over a
    (doc_id, text) frame - the df-capped inverted-index plan.

    ``pair_cond`` (r8): optional pair-predicate PUSHDOWN - a callable
    ``(doc1_col, doc2_col) -> Column`` conjoined into BOTH candidate
    joins (the rare inverted-index self-join and the hot-dominated
    broadcast enumeration), so pairs the caller will discard are
    never counted, masked, or verified. Exact by construction: the
    predicate depends only on the pair identity, so filtering before
    the Jaccard computation equals filtering after it.
    q_dedup_cross_corpus pushes its opposite-parity predicate here,
    halving candidate volume instead of post-filtering.

    Hot-shingle df-cap (the dedup.py header's promised scale
    mitigation): a shingle with document frequency df > D
    (D = max(32, 0.2 * n_docs), computed IN-PLAN from a broadcast
    1-row count, no driver action) contributes df^2 rows to the
    inverted-index self-join - the hottest shingles alone are 81% of
    the join volume on this corpus (sf0.1: 1539M -> 292M joined rows
    after the cap; measured via the DuckDB df-distribution scan). The
    plan:

      1. instances (doc, shingle, n_sh); per-shingle df; the hottest
         qualifying shingles (ranked df DESC, capped at
         HOT_DICT_MAX=256 so the dictionary is ALWAYS broadcastable
         and per-doc hot sets always fit 4 bigint bitmap words)
         become the HOT dictionary with a stable index 0..255; a
         broadcast LEFT join tags every instance (idx NULL = rare) -
         no shuffle to classify.
      2. candidate pairs + rare-intersection counts from the
         rare-only self-join (one counting aggregate, no candidate
         materialization).
      3. per-doc HOT sets are 4 bigint bitmap words; per candidate
         pair, |hot(A) intersect hot(B)| = sum of bit_count(ma & mb)
         - whole-stage-codegen integer ops (the array_intersect
         formulation this replaced cost 5.3s of the sf0.1 runtime on
         8.5M candidates), so inter = rare_inter + hot_inter is
         EXACT.
      4. hot-dominated fallback: a pair sharing NO rare shingle has
         A intersect B inside the hot dictionary, and J >= tau with
         the size filter |B| >= tau|A| forces hot_cnt >= tau * n_sh
         for BOTH docs (|A^B| >= tau/(1+tau)*(|A|+|B|) >= tau*|A|).
         Those docs are enumerated (degenerate stopword-soup; 44 of
         500 docs at sf0.01, 508 of 5000 at sf0.1) and cross-paired
         via a broadcast nested-loop join, so the cap introduces NO
         false negatives at ANY threshold - the probe test plants
         hot-only duplicates to prove it. Exactness survives the
         rank cut too: qualifying shingles beyond the 256 hottest
         simply stay rare and are counted by the exact rare join.

    Size-ratio prune is free and exact: J >= tau and
    |A^B| <= min(|A|,|B|) imply min >= tau*max. The sub-quadratic
    scale path remains q_dedup_near_minhash; this operator is the
    exact complement with its quadratic-bucket killer removed.
    """
    # Hashed-int64 shingles: same Jaccard as string shingles up to
    # xxhash64 collisions (negligible), 5x cheaper to build and the
    # inverted-index join keys become fixed-width ints.
    #
    # Instance build is explode -> substring -> xxhash64 -> groupBy
    # distinct, NOT array_distinct(transform(...)): higher-order
    # functions are interpreted per element (no whole-stage codegen),
    # and the HOF shingle build alone was MEASURED at ~10s of the
    # ~15s sf0.1 runtime (r6). The flat form keeps every expression
    # codegen'd; the (doc_id, shingle) distinct is one shuffle whose
    # map-side partial agg already collapses in-doc duplicates
    # (docs are pre-partitioned by doc_id via spread()).
    t = F.lower(F.col("text"))
    pos = docs.select(
        "doc_id",
        t.alias("t"),
        F.explode(
            # Empty sequence guard: F.sequence counts DOWN when stop <
            # start, and substr on non-positive positions fabricates
            # junk shingles the oracle's range() never produces.
            F.when(
                F.length(t) >= SHINGLE_LEN,
                F.sequence(F.lit(1), F.length(t) - (SHINGLE_LEN - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    )
    # Cached: the distinct instance table feeds three branches (set
    # sizes, the df dictionary, the flagged stream) and exchange
    # reuse does not recognize the diamond.
    inst0 = cached(
        pos.select(
            "doc_id",
            F.xxhash64(
                F.expr(f"substring(t, i, {SHINGLE_LEN})")
            ).alias("shingle"),
        ).distinct()
    )
    # Per-doc set size rides back onto the instances via a doc-keyed
    # agg join; AQE broadcasts it while |docs| is small and falls back
    # to a shuffle join at corpus scale - no hint needed either way.
    ns = inst0.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inst = inst0.join(ns, "doc_id").select("doc_id", "n_sh", "shingle")
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    # Hot dictionary: qualifying shingles ranked hottest-first. The
    # single-partition window is safe at ANY corpus size: shingles
    # with df > 0.2*N number at most sum(df)/(0.2*N) = 5x the mean
    # per-doc shingle count, independent of N.
    from pyspark.sql import Window

    hotdict = (
        inst0.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .join(n_docs)
        .filter(
            F.col("df")
            > F.greatest(F.lit(HOT_DF_MIN), F.lit(HOT_DF_FRAC) * F.col("n_docs"))
        )
        .withColumn(
            "idx",
            F.row_number().over(
                Window.orderBy(F.col("df").desc(), F.col("shingle"))
            )
            - 1,
        )
        .filter(F.col("idx") < HOT_DICT_MAX)
        .select("shingle", "idx")
    )
    # Broadcast tag (<= 256 rows by construction - broadcastable at
    # any corpus size; idx NULL = rare). Persisted: the rare stream
    # and the mask build both read it, and exchange reuse does not
    # recognize the diamond. Evictable default storage level; the
    # session-long cache lifecycle is documented in loaders.cached.
    flagged = cached(inst.join(F.broadcast(hotdict), "shingle", "left"))
    rare = flagged.filter(F.col("idx").isNull())
    masks = (
        flagged.filter(F.col("idx").isNotNull())
        .groupBy("doc_id")
        .agg(
            *[_mask_word(w) for w in range(_MASK_WORDS)],
            F.count("*").alias("hot_cnt"),
        )
    )
    a, b = rare.alias("a"), rare.alias("b")
    rare_cond = (
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.n_sh") >= tau * F.col("b.n_sh"))
        & (F.col("b.n_sh") >= tau * F.col("a.n_sh"))
    )
    if pair_cond is not None:
        rare_cond = rare_cond & pair_cond(
            F.col("a.doc_id"), F.col("b.doc_id")
        )
    rare_pairs = (
        a.join(b, rare_cond)
        .groupBy(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.col("a.n_sh").alias("n1"),
            F.col("b.n_sh").alias("n2"),
        )
        .agg(F.count("*").alias("rare_inter"))
        # Candidate PREFILTER (r15, guide §2.3 - shuffle/process fewer
        # rows): a pair can only reach J >= tau if
        # inter >= tau/(1+tau) * (n1+n2), and inter is bounded by
        # rare_inter + HOT_DICT_MAX (the hot dictionary holds at most
        # 256 shingles, so hot_inter <= 256). Dropping pairs that
        # cannot clear the bound here - BEFORE the union+max dedup agg
        # and the two mask joins - is EXACT: a dropped pair has
        # true jac < tau (true negative), and if the same pair
        # re-enters via hd_pairs its rare_inter=0 UNDERCOUNTS inter,
        # which only lowers the computed jaccard (i/(S-i) is monotone
        # in i), so it still fails the final jac >= tau filter.
        # Measured at sf0.1: candidates reaching the dedup agg + mask
        # joins drop from ~8.5M to the hundreds that can actually
        # qualify. The 1e-6 slack keeps float rounding of tau*(n1+n2)
        # from ever dropping a boundary pair the exact rational would
        # keep (slack only ADMITS pairs; the exact jac filter below
        # remains the decider).
        .filter(
            (1.0 + tau) * (F.col("rare_inter") + HOT_DICT_MAX)
            >= tau * (F.col("n1") + F.col("n2")) - 1e-6
        )
    )
    # Hot-dominated docs: the only docs that can reach J >= tau with
    # zero rare overlap (proof in the docstring). Small by
    # construction of the cap, so the pair enumeration broadcasts.
    hd = (
        ns.join(masks.select("doc_id", "hot_cnt"), "doc_id")
        .filter(F.col("hot_cnt") >= tau * F.col("n_sh"))
        .select("doc_id", "n_sh")
    )
    ha, hb = hd.alias("ha"), hd.alias("hb")
    hd_cond = (
        (F.col("ha.doc_id") < F.col("hb.doc_id"))
        & (F.col("ha.n_sh") >= tau * F.col("hb.n_sh"))
        & (F.col("hb.n_sh") >= tau * F.col("ha.n_sh"))
    )
    if pair_cond is not None:
        hd_cond = hd_cond & pair_cond(
            F.col("ha.doc_id"), F.col("hb.doc_id")
        )
    hd_pairs = ha.join(
        F.broadcast(hb),
        hd_cond,
    ).select(
        F.col("ha.doc_id").alias("doc1"),
        F.col("hb.doc_id").alias("doc2"),
        F.col("ha.n_sh").alias("n1"),
        F.col("hb.n_sh").alias("n2"),
        F.lit(0).cast("bigint").alias("rare_inter"),
    )
    cand = (
        rare_pairs.unionByName(hd_pairs)
        .groupBy("doc1", "doc2", "n1", "n2")
        .agg(F.max("rare_inter").alias("rare_inter"))
    )
    zero = F.lit(0).cast("bigint")
    h1 = masks.select(
        F.col("doc_id").alias("doc1"),
        *[F.col(f"m{w}").alias(f"am{w}") for w in range(_MASK_WORDS)],
    )
    h2 = masks.select(
        F.col("doc_id").alias("doc2"),
        *[F.col(f"m{w}").alias(f"bm{w}") for w in range(_MASK_WORDS)],
    )
    # Popcount of the ANDed bitmap words: pure codegen'd integer ops
    # per pair (docs with no hot shingles coalesce to all-zero words).
    hot_inter = sum(
        F.bit_count(
            F.coalesce(F.col(f"am{w}"), zero).bitwiseAND(
                F.coalesce(F.col(f"bm{w}"), zero)
            )
        )
        for w in range(_MASK_WORDS)
    )
    inter = F.col("rare_inter") + hot_inter
    jac = inter.cast("double") / (F.col("n1") + F.col("n2") - inter)
    return (
        cand.join(h1, "doc1", "left")
        .join(h2, "doc2", "left")
        .filter(jac >= tau)
        .select("doc1", "doc2", jac.alias("jaccard"))
    )


# Shared oracle fragment: exact Jaccard>=tau pairs via an
# INVERTED-INDEX join (unnest shingles -> equi-join on shingle ->
# count per pair), the same plan shape the Spark side uses. The r4
# formulation - all-pairs list_intersect, computed 4x per pair - cost
# 22-30s at sf0.01 and 69-78s inside q_dedup_groups (VERDICT r4 "next
# round" #1: a driver key-rotation onto those oracles risked timing
# out the round). This shape is 1.1s / 3.2s with byte-identical
# output (verified both ways at sf0.01). Shingles are hashed with
# DuckDB's 64-bit hash() before the join - fixed-width join keys,
# same Jaccard up to negligible collisions (mirrors the Spark side's
# xxhash64 argument); the length-ratio prune (J>=tau forces
# min(n)>=tau*max(n)) drops pairs before the division.
def _pair_oracle_ctes(pair_pred: str = "") -> str:
    """The shared exact-Jaccard pair CTEs, optionally with an extra
    pair predicate pushed INTO the inverted-index self-join (the SQL
    twin of near_jaccard_pairs' ``pair_cond`` pushdown, r8):
    conjunctive on pair identity, so semantics are unchanged while
    DuckDB never counts the pairs the caller would discard."""
    return f"""
    sh AS (
      SELECT doc_id,
             list_distinct([hash(substr(lower(text), i + 1, {SHINGLE_LEN}))
                            FOR i IN range(0, length(text) - {SHINGLE_LEN - 1})]) AS s
      FROM documents
    ),
    n AS (SELECT doc_id, len(s) AS n FROM sh),
    inst AS (SELECT doc_id, unnest(s) AS g FROM sh),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      FROM inst a JOIN inst b
        ON a.g = b.g AND a.doc_id < b.doc_id {pair_pred}
      GROUP BY 1, 2
    ),
    pr AS (
      SELECT d1, d2, i::DOUBLE / (na.n + nb.n - i) AS jaccard
      FROM inter JOIN n na ON na.doc_id = d1 JOIN n nb ON nb.doc_id = d2
      WHERE na.n >= {JACCARD_TAU} * nb.n AND nb.n >= {JACCARD_TAU} * na.n
        AND i::DOUBLE / (na.n + nb.n - i) >= {JACCARD_TAU}
    )"""


_PAIR_ORACLE_CTES = _pair_oracle_ctes()


@register(
    "q_dedup_near_jaccard",
    oracle=f"""
    WITH {_PAIR_ORACLE_CTES}
    SELECT d1 AS doc1, d2 AS doc2, jaccard FROM pr
    """,
)
def q_dedup_near_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs by character-5-gram Jaccard >= 0.5 over
    the documents table - see near_jaccard_pairs for the df-capped
    inverted-index plan."""
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    return near_jaccard_pairs(d, JACCARD_TAU)


def _sampled_instances(docs: DataFrame) -> DataFrame:
    """Flat (doc_id, h) feed of the deterministic 1-in-4 sample of
    the hashed shingle space - explode -> substring -> xxhash64 ->
    sample filter, whole-stage codegen end to end (r15, guide §4.1:
    prefer built-ins over interpreted higher-order functions). May
    contain in-doc duplicates: min() is duplicate-insensitive, so
    the signature aggregate downstream sees the same per-doc value
    SET as the old array_distinct'd arrays and produces identical
    signatures. The empty-sequence guard mirrors
    ``_hashed_shingles_col`` (F.sequence counts DOWN for short
    strings; substr on non-positive positions fabricates junk)."""
    t = F.lower(F.col("text"))
    pos = docs.select(
        "doc_id",
        t.alias("t"),
        F.explode(
            F.when(
                F.length(t) >= SHINGLE_LEN,
                F.sequence(F.lit(1), F.length(t) - (SHINGLE_LEN - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    )
    return pos.select(
        "doc_id",
        F.xxhash64(F.expr(f"substring(t, i, {SHINGLE_LEN})")).alias("h"),
    ).filter(F.col("h").bitwiseAND(F.lit(3)) == 0)


def _banded_signatures(ex: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) banded minhash signatures from a flat
    (doc_id, h) sampled shingle-instance feed.

    Affine minhash family g_i(x) = (a_i * h2(x) + h1(x)) mod p,
    p = 2^31 - 1: the classic permutation-approximation (same form
    as datasketch/Mahout), built from TWO xxhash64 calls per shingle
    plus integer arithmetic instead of N_HASHES independent hash
    calls - ~3x faster at sf0.1. a_i = xxhash64(i) >> 33 is a
    CONSTANT per column, folded by Catalyst. All operands are
    right-shifted to 31 bits so a_i * h2 + h1 < 2^62 never
    overflows ANSI bigint arithmetic. (A plain h1 + i*h2 without
    the mod does NOT work: with i small the argmin is dominated by
    h1, correlating all signature positions and collapsing the
    banding to a single effective hash - measured as a 2.6x
    candidate blow-up before this form replaced it.) The groupBy has
    64 codegen'd min aggs; partial aggregation collapses each
    partition to one row per doc before the shuffle (and the scan is
    pre-partitioned by doc_id via spread(), so partial agg is final
    size)."""
    h1 = F.shiftrightunsigned(F.col("h"), 33)
    h2 = F.shiftrightunsigned(F.xxhash64(F.col("h")), 33)
    sig = ex.select("doc_id", h1.alias("h1"), h2.alias("h2")).groupBy(
        "doc_id"
    ).agg(
        *[
            F.min(
                F.pmod(
                    F.shiftrightunsigned(F.xxhash64(F.lit(i)), 33)
                    * F.col("h2")
                    + F.col("h1"),
                    F.lit(_P31),
                )
            ).alias(f"m{i}")
            for i in range(N_HASHES)
        ]
    )
    rows_per_band = N_HASHES // N_BANDS
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.col(f"m{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ]
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )


def minhash_verified_pairs(
    docs: DataFrame, tau: float = JACCARD_TAU, pair_cond=None
) -> DataFrame:
    """Deterministic MinHash + LSH banding near-dup detection.

    ``pair_cond`` (r10): optional pair-predicate PUSHDOWN into the
    band-bucket self-join, mirroring near_jaccard_pairs' parameter -
    ``(doc1_col, doc2_col) -> Column`` conjoined into the candidate
    join so pairs the caller will discard are never deduped or
    verified. q_dedup_cross_corpus pushes its opposite-parity
    predicate here on large corpora, which turns the self-join into
    the build/probe shape: one side of every surviving band match is
    the reference corpus, the other the new batch.

    Signature: 64 mins of an affine hash family over a deterministic
    1-in-4 sample of the hashed shingle space (seeded, deterministic,
    re-runnable; ``_banded_signatures``). Banding: 8 bands of 8 rows;
    docs sharing any band bucket become candidates; candidates are
    verified with EXACT Jaccard >= 0.5 on the FULL shingle sets, so
    the output has no false positives.

    Banding tuning (8 bands x 8 rows, vs the looser 8x4): this corpus
    carries a dense mass of mid-similarity pairs (J 0.3-0.45) that
    4-row bands admit with P up to ~19%, flooding the verify stage
    with ~171k candidates at sf0.1. 8-row bands drop that to 297
    candidates (576x fewer) with identical verified output (256
    pairs; all planted near-dups found at every SF). The cost is
    recall near the tau=0.5 threshold (P(candidate) = 1-(1-J^8)^8 is
    a sharp S-curve centered ~0.75); this operator targets
    high-similarity duplicates (planted dups sit at J ~0.9, where the
    miss probability is ~1% worst case and 0 observed). At 100 TB the
    candidate count - not the signature cost - is what breaks LSH
    dedup, so the tight banding is exactly the scale posture.

    Plan shape (r15, guide §1.2 measured-first restructure): the r14
    form built per-doc DISTINCT shingle ARRAYS up front
    (``_hashed_shingles_col`` - an interpreted transform +
    array_distinct per doc), CACHED them, and both exploded the
    arrays into the signature aggregate and joined them into the
    verify - profiled at sf0.1 the cached array build alone was
    ~1.9 s of the key's ~2.4 s (the cache write of 5000 x ~2k-element
    bigint arrays dominates; compute is ~0.5 s). Neither consumer
    needs full-corpus arrays:

      1. the signature feed takes the FLAT (doc_id, h) instance
         stream (``_sampled_instances`` - codegen end to end, no
         arrays, no distinct: min() is duplicate-insensitive, so the
         per-doc value set - and therefore every signature - is
         IDENTICAL to the array form's);
      2. the exact-Jaccard verify builds hashed-shingle sets ONLY for
         docs that appear in a candidate pair (a semi join on the
         band output - |cand docs| << |corpus| by the banding design;
         guide §2.3 "project before the exchange" applied to rows).

    The ``banded`` table is persisted (it feeds both sides of the
    band self-join and exchange reuse does not recognize the
    diamond); the candidate sets frame is persisted (it feeds both
    verify sides). Jaccard on hashed shingles equals Jaccard on
    shingles up to xxhash64 collisions (P ~ n^2/2^64 per pair -
    negligible).

    Contract: the output is a subset of ``near_jaccard_pairs(docs,
    tau)``; it equals that list exactly when banding recall is 1.0.
    """
    banded = cached(_banded_signatures(_sampled_instances(docs)))
    a = banded.alias("a")
    b = banded.alias("b")
    join_cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if pair_cond is not None:
        join_cond = join_cond & pair_cond(F.col("a.doc_id"), F.col("b.doc_id"))
    cand = cached(
        a.join(b, join_cond)
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
    )
    # Exact-Jaccard verification on full hashed shingle sets, built
    # ONLY for candidate docs: the semi join keeps the interpreted
    # per-doc array build proportional to the candidate count, not
    # the corpus (the banding design bounds |cand| ~ linear). cand is
    # persisted - it has three consumers (the verify join and both
    # endpoints of the doc-id restriction) and each reference
    # would otherwise replan the band self-join + distinct (measured:
    # the uncached form tripled the subtree, 37 vs 16 static-plan
    # Exchanges). The sets frame is persisted: both verify sides read
    # it and exchange reuse does not recognize the diamond. No
    # broadcast hint on either join with cand: its size depends on the
    # data (band skew grows it), so AQE picks the strategy from the
    # runtime size; at fixture scale it broadcasts.
    cand_docs = cand.select(
        F.explode(F.array("doc1", "doc2")).alias("doc_id")
    )
    sets = cached(
        docs.join(cand_docs, "doc_id", "semi").select(
            "doc_id",
            _hashed_shingles_col().alias("s"),
        ).select("doc_id", "s", F.size("s").alias("n_sh"))
    )
    verified = (
        sets.select(F.col("doc_id").alias("doc1"), F.col("s").alias("s1"), F.col("n_sh").alias("n1"))
        .join(cand, "doc1")
        .join(
            # Small side here is the cand-sized left; at local SF AQE
            # broadcasts, at 100 TB it shuffles on doc2 - both correct.
            sets.select(F.col("doc_id").alias("doc2"), F.col("s").alias("s2"), F.col("n_sh").alias("n2")),
            "doc2",
        )
        .withColumn("inter", F.size(F.array_intersect("s1", "s2")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= tau)
    )
    # UNROUNDED jaccard (r9): i/(n1+n2-i) is the same rational in
    # both engines, so the exact-pair oracle matches bit-for-bit (the
    # near_jaccard convention); a round(·, 6) here would diverge from
    # the oracle's 9-dp canonicalization on values like 13/14.
    return verified.select("doc1", "doc2", "jaccard")


def minhash_signature_frames(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The BUILD side of the minhash build/probe split, factored out
    (r13, VERDICT r12 #6) so the streaming decontamination gate can
    persist it once as the reference signature store: returns
    (hashed-shingle sets (doc_id, s), banded signatures (doc_id,
    band, bucket)) - both ``cached()`` (sh feeds both the store write
    and the banded derivation; each returned frame is also typically
    consumed more than once by the caller). The next registered build
    releases them; a caller that signs many inputs within one build
    (a foreachBatch probe, one pair per micro-batch) signs each inside
    a ``registry.scope()``, which frees the pair at its end.

    This builder keeps FULL-corpus shingle arrays because the store
    contract needs them (any future probe candidate may verify
    against any reference doc); the in-corpus batch path
    (minhash_verified_pairs) deliberately does NOT route through
    here - it needs sets only for candidate docs (r15).

    Signature path works on a deterministic 1-in-4 sample of the
    SHINGLE SPACE (h & 3 == 0): the sampled sets' Jaccard is an
    unbiased estimate of the full-set Jaccard (the filter is a
    uniform function of the shingle hash, identical for every doc),
    so banding behaves the same while the explode + aggregate see
    4x fewer rows. Standard minhash subsampling; the exact-Jaccard
    verify still uses the FULL sets, so no false positives can be
    introduced. Signatures come from ``_banded_signatures`` (shared
    with minhash_verified_pairs - identical values on the exploded
    arrays and on the flat instance feed, since min() is
    duplicate-insensitive)."""
    sh = cached(docs.select("doc_id", _hashed_shingles_col().alias("s")))
    ex = sh.select(
        "doc_id",
        F.explode(
            F.filter("s", lambda h: h.bitwiseAND(F.lit(3)) == 0)
        ).alias("h"),
    )
    banded = cached(_banded_signatures(ex))
    return sh, banded


def cross_corpus_probe(
    b_sh: DataFrame,
    b_banded: DataFrame,
    ref_sh: DataFrame,
    ref_banded: DataFrame,
    tau: float = JACCARD_TAU,
) -> DataFrame:
    """The PROBE side of the build/probe split (r13, VERDICT r12 #6):
    a (micro-)batch's banded signatures probe the persisted reference
    band store; surviving candidates are exact-Jaccard verified on
    the two sides' full hashed-shingle sets. Emits (batch_doc,
    ref_doc, jaccard) verified pairs - the caller takes the per-doc
    argmax. The sides are disjoint corpora, so no doc_id< dedup is
    needed; a batch doc and ref doc sharing ANY band bucket becomes
    one candidate.

    Scale posture: this is the production ingest gate - the
    reference store is signed ONCE per corpus version (build), each
    arriving batch signs only ITS docs and equi-joins the band
    store; per-batch cost is O(batch) signing + band-bucket join +
    bounded verify, independent of how the reference grew. No
    broadcast hint on ``cand``: under band skew it grows with the
    reference store, so AQE picks the join from its runtime size."""
    cand = (
        b_banded.alias("a")
        .join(
            ref_banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("a.doc_id").alias("batch_doc"),
            F.col("b.doc_id").alias("ref_doc"),
        )
        .distinct()
    )
    return (
        b_sh.select(
            F.col("doc_id").alias("batch_doc"),
            F.col("s").alias("s1"),
            F.size("s").alias("n1"),
        )
        .join(cand, "batch_doc")
        .join(
            ref_sh.select(
                F.col("doc_id").alias("ref_doc"),
                F.col("s").alias("s2"),
                F.size("s").alias("n2"),
            ),
            "ref_doc",
        )
        .withColumn("inter", F.size(F.array_intersect("s1", "s2")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= tau)
        .select("batch_doc", "ref_doc", "jaccard")
    )


@register(
    "q_dedup_near_minhash",
    oracle=f"""
    WITH {_PAIR_ORACLE_CTES}
    SELECT d1 AS doc1, d2 AS doc2, jaccard FROM pr
    """,
)
def q_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs over the documents table - see
    minhash_verified_pairs for the banding + exact-verify plan.

    The oracle is the exact-Jaccard pair list (shared CTEs with
    q_dedup_near_jaccard), not a SQL re-implementation of the minhash
    pipeline. The verify stage makes the output a subset of the exact
    pairs, so a match means banding recall is 1.0 on the fixture, and
    a banding miss fails the oracle check with a short row count.
    Seeded hashes on a fixed corpus give one answer; recall has been
    1.0 at every SF (true-pair J: min 0.93 at sf0.01, 0.83 at sf0.1).
    A testdata regeneration with a new seed could drop a true pair
    near tau (8x8-banding miss odds at J 0.83 are ~1.3e-1 if the
    hashes were random); the sweep then reports the key as FAIL.
    Oracle cost: 1.9 s at sf0.01, 104 s at sf0.1.
    """
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    return minhash_verified_pairs(d, JACCARD_TAU)


@register("q_dedup_simhash")  # hash-valued -> rows-only check
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: 64-bit signature = sign of the
    per-bit sum of +-1 votes from each token's xxhash64; pairs with
    hamming distance <= 3 found via 4x16-bit sub-band blocking
    (pigeonhole guarantees no candidate is missed)."""
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    votes = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit"),
        F.xxhash64("token").alias("h"),
    ).withColumn(
        "vote",
        F.when(F.expr("(shiftright(h, bit) & 1) = 1"), 1).otherwise(-1),
    )
    sig = (
        votes.groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("v"))
        .withColumn("bitval", F.when(F.col("v") > 0, 1).otherwise(0))
        .groupBy("doc_id")
        .agg(
            # Reassemble the 64-bit signature: sum of bitval << bit
            # (bit 63 wraps to the sign bit; partial sums stay in range).
            F.sum(F.expr("shiftleft(CAST(bitval AS BIGINT), bit)")).alias(
                "simhash"
            )
        )
    )
    return hamming_pairs_64(sig, "doc_id", "simhash", max_hamming=3)


def hamming_pairs_64(
    sig: DataFrame, id_col: str, hash_col: str, max_hamming: int = 3
) -> DataFrame:
    """All id pairs whose 64-bit signatures differ in <= max_hamming
    bits, via 4x16-bit sub-band pigeonhole blocking: hamming <= 3
    forces at least one of the four bands equal, so an equi join on
    (band, chunk) finds every qualifying pair without the quadratic
    scan, and bit_count on the XOR verifies exactly. Shared by
    q_dedup_simhash (text SimHash) and q_multimodal_phash_dedup
    (image perceptual hash) - the banding is signature-agnostic.

    max_hamming must stay <= 3 for 4 bands (pigeonhole bound); a
    larger radius needs more/narrower bands.
    """
    if max_hamming > 3:  # not assert: must survive python -O
        raise ValueError(
            f"max_hamming={max_hamming}: 4x16 banding only guarantees "
            "recall for hamming <= 3; use more/narrower bands"
        )
    bands = sig.select(
        F.col(id_col).alias("__id"),
        F.col(hash_col).alias("__h"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(hash_col), k * 16).bitwiseAND(0xFFFF)
                    for k in range(4)
                ]
            )
        ).alias("band", "chunk"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("doc1"),
            F.col("b.__id").alias("doc2"),
            F.col("a.__h").alias("h1"),
            F.col("b.__h").alias("h2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc1", "doc2", "hamming")
    )


EMB_DEDUP_TAU = 0.4
EMB_BANDS = 8
EMB_BITS = 8  # sign bits per band; 8 bands x 8 bits cover all 64 dims

# Corpus-size ceiling for force-broadcasting q_dedup_embedding's
# derived sets (candidate pairs, verified removal list) - both grow
# with the corpus (SemDeDup-style corpora flag 30-50% of vectors), so
# the hint is only safe while the embeddings scan itself is provably
# small (metadata stat; VERDICT r13 #1). 256 MiB of fp32x64 vectors
# is ~1M rows -> worst-case removal set ~8 MB of bigints, far under
# the session broadcast threshold.
EMB_BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def _emb_band_key(b: int):
    """Band key b: integer from the sign bits of dims 8b..8b+7."""
    expr = F.lit(0)
    for i in range(EMB_BITS):
        expr = expr + F.when(
            F.element_at("embedding", b * EMB_BITS + i + 1) > 0, 2**i
        ).otherwise(0)
    return expr


def _emb_band_key_sql(b: int) -> str:
    return " + ".join(
        f"CASE WHEN embedding[{b * EMB_BITS + i + 1}] > 0 THEN {2**i} ELSE 0 END"
        for i in range(EMB_BITS)
    )


@register(
    "q_dedup_embedding",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             {", ".join(f"({_emb_band_key_sql(b)}) AS b{b}" for b in range(EMB_BANDS))}
      FROM embeddings
    ),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
                 {", ".join(f"b{b}" for b in range(EMB_BANDS))} FROM e),
    cand AS (
      SELECT DISTINCT a.vec_id AS keep_id, b.vec_id AS dup_id
      FROM n a JOIN n b
        ON a.vec_id < b.vec_id
       AND ({" OR ".join(f"a.b{b} = b.b{b}" for b in range(EMB_BANDS))})
      WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {EMB_DEDUP_TAU}
    )
    SELECT vec_id FROM e
    WHERE vec_id NOT IN (SELECT dup_id FROM cand)
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup removal over the embeddings table:
    survivors after dropping every vector that has a smaller-id
    neighbor with cosine >= 0.4 (dominated-removal dedup - a single
    deterministic anti-join, unlike iterative greedy clustering).

    Candidates come from sign-bit LSH banding: band k is the 8-bit
    integer of sign bits of dims 8k..8k+7 (8 bands cover all 64 dims);
    two vectors are candidates iff they collide in >= 1 band. The
    banding is a fixed deterministic function of the vector, so the
    DuckDB oracle runs the SAME algorithm and results hash-match
    exactly. Candidates are verified with the exact cosine before any
    removal, so banding only bounds recall (a cos>=0.4 pair disagreeing
    on every one of the 8 sign-bytes is the miss case).

    100 TB posture: the band self-join shuffles on (band, bucket) -
    ~N/256 vectors per bucket per band - never an N^2 cross join.
    This is the q_sim_ann_lsh pattern applied to dedup; at production
    scale raise bands/bits to tighten recall at the same cost shape.

    Broadcast switch (r14, VERDICT r13 #1): the candidate-pair set
    and the verified removal set are both DATA-DEPENDENT - SemDeDup
    -style corpora flag 30-50% of all vectors, so neither is
    broadcastable unconditionally. Both hints ride broadcast_below
    keyed on the embeddings scan's metadata bytes: fixture-scale
    corpora keep today's broadcast plans; larger/unknowable corpora
    drop the hints and the verify join + anti join plan shuffled on
    vec_id (AQE can still re-broadcast from REAL runtime sizes).
    Output identical either way (forced-shuffle branch pinned).
    """
    e = cached(_with_norm(
        spread(table(spark, sf_dir, "embeddings"), "vec_id").select(
            "vec_id",
            "embedding",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    ))
    banded = e.select(
        "vec_id",
        F.posexplode(
            F.array(*[_emb_band_key(b) for b in range(EMB_BANDS)])
        ).alias("band", "bucket"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("keep_id"), F.col("b.vec_id").alias("dup_id"))
        .distinct()
    )
    ea = e.select(F.col("vec_id").alias("keep_id"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    eb = e.select(F.col("vec_id").alias("dup_id"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    emb_src = table(spark, sf_dir, "embeddings")
    dups = (
        ea.join(broadcast_below(cand, emb_src, EMB_BROADCAST_MAX_BYTES),
                "keep_id")
        .join(eb, "dup_id")
        .filter(_cos_pre(F.col("va"), F.col("na"), F.col("vb"), F.col("nb")) >= EMB_DEDUP_TAU)
        .select("dup_id")
        .distinct()
    )
    return (
        e.select("vec_id")
        .join(broadcast_below(dups, emb_src, EMB_BROADCAST_MAX_BYTES),
              F.col("vec_id") == F.col("dup_id"), "left_anti")
    )


CC_MAX_ROUNDS = 20  # fixpoint backstop: covers diameter <= 2^21 - 1


def cc_min_label(
    nodes: DataFrame, pairs: DataFrame, rounds: int = CC_MAX_ROUNDS
) -> DataFrame:
    """Connected components by min-label propagation with pointer
    jumping - the pairs->groups half of dedup (public two-phase CC /
    Hash-to-Min family, expressed as DataFrame joins).

    ``nodes``: one ``u`` column (bigint ids). ``pairs``: undirected
    edges as (doc1, doc2). Returns (u, lbl) where lbl is the smallest
    node id reachable from u.

    Each round does (1) neighbor-min - every node takes the smallest
    label in its closed neighborhood - then (2) pointer jump -
    lbl[u] <- lbl[lbl[u]] - then a FIXPOINT CHECK: labels only ever
    decrease, so a round that changes nothing is a global fixpoint
    and the loop exits. Near-dup graphs converge in 2-3 rounds
    (clusters are duplicates of a common ancestor - diameter a few
    hops); the `rounds` cap is a backstop, not the convergence
    mechanism, and R rounds provably cover any diameter
    <= 2^(R+1) - 1 (probe test pins a 100-node chain).

    Supersteps are MATERIALIZED: each round ends in a localCheckpoint
    that truncates lineage. This is load-bearing, not a cache hint -
    each round references the previous labels ~4 times, so a lazy
    formulation holds ~4^R copies of the edge subplan in one logical
    tree and CATALYST ANALYSIS, not execution, dominates (measured:
    the lazy R=6 build never finished at sf0.01; checkpointed it is
    sub-second per round). Iterative graph algorithms are the one
    operator family whose builders inherently run jobs (same declared
    class as the sink/layout operators); at cluster scale set
    ``spark.pudatalake.checkpoint.dir`` so every superstep uses
    reliable ``checkpoint()`` and survives executor loss
    (session.superstep_checkpoint; equivalence pinned in
    tests/test_reliable_checkpoint.py, recipe in docs/SCALING.md §19).

    ONE job per round (r12, VERDICT r11 #4 - the q_graph_kcore
    discipline applied to CC): labels are MONOTONE non-increasing per
    node (each round takes least() of the old label and neighbor/jump
    labels), so "no label changed" <=> "sum(lbl) unchanged" - the
    convergence check collapses from a node-frame self-join + filter
    + count JOB into one exact decimal(38,0) sum AGG, and running
    that agg on the LAZY checkpoint makes one job do both the
    superstep materialization and the fixpoint check (the old shape
    paid an eager-checkpoint job PLUS a join-count job per round).
    The sum is decimal(38,0), which cannot wrap below ~1e19 rows of
    max-bigint labels (far beyond practical scale; a wrapped bigint
    sum could collide across distinct label vectors much earlier).
    Past that bound a non-ANSI decimal overflow returns NULL, so the
    fixpoint guard below treats a NULL sum as NOT converged rather
    than letting None == None read as convergence (ADVICE r12).
    Output is unchanged: same supersteps, same exit round (measured
    byte-identical at sf0.001/0.01/0.1; x10 wall in SCALING §20).

    100 TB shape: labels are (id, id) pairs - the narrowest possible
    iterate; each round is two equi-joins + one map-side-combinable
    min-agg, all shuffle-partitioned on u.
    """
    p = cached(pairs.select("doc1", "doc2"))
    edges = p.select(
        F.col("doc1").alias("u"), F.col("doc2").alias("v")
    ).unionByName(
        p.select(F.col("doc2").alias("u"), F.col("doc1").alias("v"))
    )
    labels = superstep_checkpoint(
        nodes.select("u", F.col("u").alias("lbl")), eager=True
    )

    def _lbl_sum(frame):
        # Exact fixpoint signature: monotone labels => the sum moves
        # iff any label moved. 1-value driver action per round
        # (BOUNDED_DRIVER_ACTIONS), replacing the old join+count job.
        return frame.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = _lbl_sum(labels)
    for _ in range(rounds):
        nbr = (
            edges.join(
                labels.select(F.col("u").alias("v"), F.col("lbl").alias("vlbl")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vlbl").alias("nlbl"))
        )
        # least() skips NULLs, so isolated nodes keep their own label.
        stepped = labels.join(nbr, "u", "left").select(
            "u", F.least("lbl", "nlbl").alias("lbl")
        )
        jump = stepped.select(
            F.col("u").alias("ju"), F.col("lbl").alias("jlbl")
        )
        # LAZY checkpoint: the sum agg below is the round's single
        # job - it materializes the checkpoint blocks and reads the
        # fixpoint signature off them in one pass.
        new_labels = superstep_checkpoint(
            stepped.join(jump, stepped["lbl"] == jump["ju"], "left")
            .select("u", F.least("lbl", "jlbl").alias("lbl")),
            eager=False,
        )
        new_sum = _lbl_sum(new_labels)
        labels = new_labels
        # NULL-guard: a decimal overflow (non-ANSI) yields None; treat
        # it as non-converged so overflow can never read as a fixpoint.
        if new_sum is not None and new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


@register(
    "q_dedup_groups",
    oracle=f"""
    WITH RECURSIVE {_PAIR_ORACLE_CTES},
    -- AS MATERIALIZED is load-bearing (r8, VERDICT r7 #3): without
    -- it DuckDB re-inlines e - and the whole shingle/inverted-index
    -- pair pipeline behind it - into EVERY recursion step, turning a
    -- 50-row closure into ~3s of repeated pair computation (measured
    -- 4.6s -> 1.45s at sf0.01).
    e AS MATERIALIZED
      (SELECT d1 AS u, d2 AS v FROM pr UNION SELECT d2, d1 FROM pr),
    reach(u, v) AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
    ),
    lbl AS (
      SELECT u, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    )
    SELECT d.doc_id,
           CAST(coalesce(l.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
           coalesce(l.cluster_id, d.doc_id) = d.doc_id AS is_canonical
    FROM documents d LEFT JOIN lbl l ON d.doc_id = l.u
    """,
)
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: the pairs->groups completion of dedup. Edge
    set = MinHash-candidate pairs verified with EXACT Jaccard >= 0.5
    (minhash_verified_pairs); connected components via cc_min_label;
    every document gets a cluster_id (the smallest doc_id in its
    component - singletons label themselves) and an is_canonical
    survivor flag. This is the form a training pipeline consumes: keep
    is_canonical, drop the rest, and the kept set contains exactly one
    representative per duplicate cluster (transitively - A~B~C
    collapses even when A!~C, which pairwise output cannot express).

    Edge-set choice (the 100 TB decision): the minhash path generates
    candidates from band buckets and verifies each with the exact
    Jaccard on full shingle sets, so its edges are a SUBSET of the
    exact-pair graph with zero false positives; on this corpus the two
    edge sets are IDENTICAL (tests/test_correctness.py's
    minhash-vs-exact gate plus the sf0.01 probe in
    test_dedup_probes.py), so the oracle - a DuckDB recursive-CTE
    closure over the exact pairs - is unchanged. The exact
    inverted-index join it replaced is super-linear in corpus size
    (all-pairs semantics); banding keeps candidates ~linear, which is
    the only clustering shape that survives 100 TB. Measured at sf0.1:
    20.1s (exact edges) -> ~7s (minhash edges), same output."""
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    pairs = cached(minhash_verified_pairs(d, JACCARD_TAU).select("doc1", "doc2"))
    nodes = d.select(F.col("doc_id").alias("u"))
    lbl = cc_min_label(nodes, pairs)
    return lbl.select(
        F.col("u").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("u") == F.col("lbl")).alias("is_canonical"),
    )


# Exact-vs-probe switch for cross-corpus dedup: ~4 MiB of documents
# parquet is ~35k docs at this corpus's density - above it the exact
# index's sum(df^2) join volume is disk-bound on a 32-core box (the
# measured 50k-doc wall, SCALING sec 20), below it exact is both
# feasible and the stronger contract. Module-level so tests force the
# probe branch by patching it.
CROSS_EXACT_MAX_BYTES = 4 * 1024 * 1024


@register(
    "q_dedup_cross_corpus",
    oracle=f"""
    WITH {_pair_oracle_ctes("AND (a.doc_id % 2) <> (b.doc_id % 2)")},
    cross_pairs AS (
      SELECT CASE WHEN d1 % 2 = 0 THEN d1 ELSE d2 END AS ref_doc,
             CASE WHEN d1 % 2 = 0 THEN d2 ELSE d1 END AS batch_doc,
             jaccard
      FROM pr
    )
    SELECT batch_doc, ref_doc, jaccard
    FROM (SELECT *, row_number() OVER (
            PARTITION BY batch_doc
            ORDER BY jaccard DESC, ref_doc) AS rn
          FROM cross_pairs)
    WHERE rn = 1
    ORDER BY batch_doc
    """,
)
def q_dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus decontamination: flag every NEW-BATCH document
    (odd doc_id, standing in for a fresh crawl) whose 5-gram
    Jaccard >= 0.5 against any REFERENCE document (even doc_id, the
    already-ingested training set), reporting the best-matching
    reference - the one-directional dedup every ingest pipeline
    runs BEFORE q_dedup_* ever sees the merged corpus (in-corpus
    dedup deduplicates the union; this prevents the union from
    re-absorbing what the training set already contains). Removal =
    anti-join the batch against this list; the survivors are the
    publishable delta.

    Plan switch (r10, VERDICT r9 #3): below CROSS_EXACT_MAX_BYTES of
    corpus (a pure-metadata stat, no build-time action) this rides
    near_jaccard_pairs' df-capped EXACT inverted index (same plan,
    same hot-dictionary exactness argument); above it - or when the
    size is unknowable - the EXECUTING path is the minhash-banded
    build/probe split (minhash_verified_pairs with the parity
    predicate pushed into the band join: the reference side's
    signatures are the precomputed index, the batch side probes its
    band buckets, and only surviving cross-parity candidates get the
    exact-Jaccard verify). Both branches verify candidates with the
    exact Jaccard on full shingle sets, and on every corpus measured
    (sf0.001/0.01/0.1 and the 10x synthetic) the minhash candidates
    contain every true pair, so the two branches produce the SAME
    verified-pair output (the q_dedup_groups edge-set argument;
    forced-probe parity is pinned in tests/test_dedup_probes.py).
    Why the switch exists, measured (SCALING sec 20): the exact
    index's join volume is sum(df^2) ~ n^2 - at the 50k-doc corpus it
    needs >80 GB of shuffle spill and disk-dies on this box, while
    the probe path finishes in ~13s. Opposite-parity predicate is
    PUSHED DOWN into the candidate joins of both branches (r8): half
    the candidate pairs are never counted/verified instead of being
    discarded after the exact Jaccard.

    The argmax reference per batch doc breaks jaccard ties on the
    smaller ref id. At 100 TB the reference signature table is
    precomputed once per corpus version and only the batch is signed
    per ingest - the fixture expresses that split as the parity
    predicate inside one job. The PRODUCTION form of that split is
    the r13 streaming twin s_dedup_cross_corpus (streams.py): the
    reference store persists as parquet (minhash_signature_frames)
    and each arriving micro-batch probes it via foreachBatch
    (cross_corpus_probe), equivalence-tested against this key.
    """
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    parity = lambda d1, d2: (d1 % 2) != (d2 % 2)  # noqa: E731
    nb = scan_bytes(d)
    if nb is not None and nb <= CROSS_EXACT_MAX_BYTES:
        pairs = near_jaccard_pairs(d, JACCARD_TAU, pair_cond=parity)
    else:
        pairs = minhash_verified_pairs(d, JACCARD_TAU, pair_cond=parity)
    cross = pairs.select(
        F.when(F.col("doc1") % 2 == 0, F.col("doc1"))
        .otherwise(F.col("doc2"))
        .alias("ref_doc"),
        F.when(F.col("doc1") % 2 == 0, F.col("doc2"))
        .otherwise(F.col("doc1"))
        .alias("batch_doc"),
        "jaccard",
    )
    w = Window.partitionBy("batch_doc").orderBy(
        F.desc("jaccard"), "ref_doc"
    )
    return (
        cross.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("batch_doc", "ref_doc", "jaccard")
        .orderBy("batch_doc")
    )


DEDUP_EVAL_PREFIX = 40  # the fixture's planted-group prefix length


@register("q_dedup_eval")  # grades a hash-based detector -> rows-only
def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-detector evaluation: precision/recall of the
    MinHash+LSH near-dup pairs (q_dedup_near_minhash's
    minhash_verified_pairs) against the fixture's PLANTED ground
    truth - documents sharing their first 40 characters form the
    planted near-duplicate groups (FIXTURES.md), so truth pairs are
    same-prefix pairs. TRUTH DEFINITION (exact, ADVICE r7): a pair of
    documents is a truth pair iff BOTH texts are >= 40 chars long AND
    their first-40-char prefixes are byte-equal; documents shorter
    than 40 chars are EXCLUDED from truth entirely (never planted by
    the fixture; comparing them on their silently-truncated full text
    would both misstate the contract and make any common short string
    a quadratic join key). The q_sim_recall_eval discipline applied to
    the dedup family itself: a detector whose precision/recall
    nobody measured is a guess, and THIS is the number a curation
    team quotes when they pick tau/banding (the measured banding
    ladder in minhash_verified_pairs' docstring came from exactly
    this loop).

    Rows-only BY DESIGN (the detector side is xxhash64-based).
    Precision counts detected pairs whose endpoints share the
    prefix; recall counts truth pairs detected. Note the detector
    verifies EXACT Jaccard >= 0.5, so false "positives" against
    prefix-truth are usually REAL near-dups the planter didn't
    intend - which is why both numbers ship instead of one F1.

    Scale shape: truth pairs come from a prefix groupBy (bounded
    group fan-out); the detector runs its normal banded plan; the
    comparison joins two pair lists. 100 TB: the eval rides a
    SAMPLE of planted groups, same shape.
    """
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    # Both pair lists are localCheckpointed before the three counts:
    # without it each count re-ran the full MinHash+verify pipeline /
    # the prefix self-join (up to 3x) - ADVICE r6. The checkpoint is
    # lazy, so the registry's lazy-DataFrame contract holds until the
    # caller's first action.
    detected = superstep_checkpoint(
        minhash_verified_pairs(d, JACCARD_TAU).select(
            F.least("doc1", "doc2").alias("a"),
            F.greatest("doc1", "doc2").alias("b"),
        )
    )
    # Docs shorter than the planted prefix would compare on their
    # FULL text (substring truncates silently) and any heavily shared
    # short prefix would make the self-join quadratic in that group -
    # guard explicitly rather than relying on the fixture (ADVICE r6).
    pref = d.filter(F.length("text") >= DEDUP_EVAL_PREFIX).select(
        "doc_id",
        F.substring("text", 1, DEDUP_EVAL_PREFIX).alias("pfx"),
    )
    truth = (
        pref.alias("x")
        .join(
            pref.alias("y"),
            (F.col("x.pfx") == F.col("y.pfx"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b")
        )
    )
    truth = superstep_checkpoint(truth)
    n_det = detected.count()
    n_truth = truth.count()
    n_hit = detected.join(truth, ["a", "b"]).count()
    return spark.createDataFrame(
        [
            (
                n_truth,
                n_det,
                n_hit,
                round(n_hit / n_det, 6) if n_det else None,
                round(n_hit / n_truth, 6) if n_truth else None,
            )
        ],
        "n_truth_pairs long, n_detected long, n_hits long, "
        "precision double, recall double",
    )
