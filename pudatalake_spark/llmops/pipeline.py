"""Training-data-pipeline operators (BASELINE.json:6): deterministic
sampling, train/val/test splitting, sequence packing, and class
balancing over the document corpus - the dataset-curation steps an
LLM data pipeline runs after dedup/quality filtering.

Determinism: sampling and splitting hash the PRIMARY KEY through an
explicit affine hash H(k) = (k*2654435761 + 1013904223) mod 1e9+7
computed identically in both engines (Knuth multiplicative hashing;
no engine-native hash() - Spark's xxhash64 and DuckDB's hash() are
different functions, so the oracle would diverge). The multiplier
fits doc_id*A in int64 for doc_id < 3.5e9, so ANSI overflow checks
never fire at any realistic corpus size; the production path swaps in
xxhash64 unchanged.

100 TB posture:
- hash sampling/splitting is a stateless map over the scan - no
  shuffle, no sort, pushdown-friendly, and stable under re-runs and
  backfills (membership depends only on the key).
- sequence packing uses a single global running sum over doc order;
  at scale the same cumsum runs per-partition (pack ids offset by a
  per-partition base from a one-row-per-partition prefix scan), which
  is how the batch formulation here maps onto a 1000-executor job.
- class balancing ranks within each class by hash -> takes a per-class
  quota; skewed class sizes are exactly why the rank runs on the
  hash (uniform) rather than any data column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..loaders import load, table
from ..registry import register

HASH_A = 2654435761
HASH_B = 1013904223
HASH_P = 1_000_000_007
PACK_TOKENS = 2048


def _hkey(col):
    """Affine key hash, identical arithmetic in both engines."""
    return (F.col(col) * F.lit(HASH_A) + F.lit(HASH_B)) % F.lit(HASH_P)


def _hkey_sql(col: str) -> str:
    return f"(({col} * {HASH_A} + {HASH_B}) % {HASH_P})"


@register(
    "q_sample_hash",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE {_hkey_sql("doc_id")} % 100 < 10
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample: keep rows whose key-hash bucket
    (0..99) is < 10. Unlike df.sample(), membership is a pure function
    of doc_id - re-runs, retries, and incremental backfills select the
    same rows."""
    d = table(spark, sf_dir, "documents")
    return d.filter(_hkey("doc_id") % 100 < 10).select("doc_id", "lang", "n_chars")


@register(
    "q_train_test_split",
    oracle=f"""
    SELECT split, count(*) AS n_docs,
           CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
    FROM (
      SELECT n_chars,
             CASE WHEN {_hkey_sql("doc_id")} % 100 < 80 THEN 'train'
                  WHEN {_hkey_sql("doc_id")} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    GROUP BY split
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by key-hash bucket, reported
    as per-split doc counts and mean length (the leakage-free split:
    a document's split never changes as the corpus grows)."""
    d = table(spark, sf_dir, "documents")
    bucket = _hkey("doc_id") % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        )
    )


@register(
    "q_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_tok,
             CAST(sum(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tok
      FROM toks
    )
    SELECT (cum_tok - n_tok) // {PACK_TOKENS} AS pack_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM cum
    GROUP BY 1
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: stream docs in doc_id
    order, assign each to pack floor(preceding_cumulative_tokens /
    2048) - the standard streaming-concat packing (a pack may overrun
    by at most one document, never undershoots). Output: docs and
    token totals per pack.

    SCALE GUARD: the unpartitioned window below is a single-partition
    sort - correct, but serial past ~10^8 rows. This operator is the
    one-global-stream contract (pack ids match a strict doc_id-order
    concat); the 100 TB formulation is q_pack_sequences_sharded,
    which runs the identical cumsum per hash shard and is what a
    1000-executor job should call.

    Token source (r13, VERDICT r12 #3): the packing math is
    token-source-agnostic - pack_on_counts() is this operator over
    ANY (doc_id, count) frame, and q_text_bpe_encode's
    bpe_token_count is the drop-in source for packing on REAL
    tokenizer lengths instead of whitespace words (pinned
    equivalent-under-substitution by
    tests/test_pipeline_props.py::test_pack_on_bpe_counts)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    return pack_on_counts(toks)


def pack_on_counts(tokens: DataFrame, tok_col: str = "n_tok") -> DataFrame:
    """q_pack_sequences' packing math over ANY (doc_id, token-count)
    frame (r13): stream in doc_id order, pack_id =
    floor(preceding_cum / PACK_TOKENS). Same single-stream contract
    and scale guard as q_pack_sequences; shard it per
    q_pack_sequences_sharded at 100 TB."""
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    cum = tokens.withColumn("cum_tok", F.sum(tok_col).over(w))
    return (
        cum.select(
            # Integer floor division on both sides (DuckDB's / is float
            # division and its float->int CAST rounds; Spark's truncates).
            F.floor((F.col("cum_tok") - F.col(tok_col)) / PACK_TOKENS)
            .cast("bigint")
            .alias("pack_id"),
            F.col(tok_col).alias("n_tok"),
        )
        .groupBy("pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("total_tokens"))
    )


PACK_SHARDS = 16


@register(
    "q_pack_sequences_sharded",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_hkey_sql("doc_id")} % {PACK_SHARDS} AS shard,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    cum AS (
      SELECT shard, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tok
      FROM toks
    )
    SELECT shard, (cum_tok - n_tok) // {PACK_TOKENS} AS pack_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM cum
    GROUP BY 1, 2
    """,
)
def q_pack_sequences_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded sequence packing - the 100 TB form of q_pack_sequences.

    Docs are hash-sharded by key (deterministic affine hash, so shard
    membership is backfill-stable like every sampler here), and the
    packing cumsum runs PER SHARD: the window partitions by shard, so
    Spark sorts 16 (in production: thousands of) independent streams
    in parallel instead of one global stream on one task. Pack
    identity is (shard, pack_id) - each shard is its own training
    stream, which is exactly how multi-worker data loaders consume
    packed corpora (one shard per reader, no cross-shard coupling).

    Trade vs the global form: packs never mix docs across shards, so
    per-shard tail packs may underfill (bounded by PACK_TOKENS per
    shard, ~0.4% of tokens at sf0.01); in exchange the sort is
    embarrassingly parallel and the plan has no single-partition
    stage."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (_hkey("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = toks.withColumn("cum_tok", F.sum("n_tok").over(w))
    return (
        cum.select(
            "shard",
            F.floor((F.col("cum_tok") - F.col("n_tok")) / PACK_TOKENS)
            .cast("bigint")
            .alias("pack_id"),
            "n_tok",
        )
        .groupBy("shard", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("total_tokens"))
    )


@register(
    "q_class_balance",
    oracle=f"""
    WITH quota AS (
      SELECT min(n) AS q FROM (
        SELECT lang, count(*) AS n FROM documents GROUP BY lang)
    ),
    ranked AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang
               ORDER BY {_hkey_sql("doc_id")}, doc_id) AS rn
      FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM ranked, quota
    WHERE rn <= q
    GROUP BY lang
    """,
)
def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language is cut to the
    smallest language's count, choosing survivors by hash rank (a
    uniform, deterministic lottery; doc_id tie-break). Output: per-
    class counts (all equal to the quota) and surviving volume."""
    d = table(spark, sf_dir, "documents")
    quota = (
        d.groupBy("lang").count().agg(F.min("count").alias("q"))
    )
    w = Window.partitionBy("lang").orderBy(_hkey("doc_id"), F.col("doc_id"))
    ranked = d.select("doc_id", "lang", "n_chars").withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        ranked.crossJoin(quota)
        .filter(F.col("rn") <= F.col("q"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


STRATA_PCT_EN = 50
STRATA_PCT_OTHER = 10


@register(
    "q_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_hkey_sql("doc_id")} % 100 <
          CASE WHEN lang = 'en' THEN {STRATA_PCT_EN} ELSE {STRATA_PCT_OTHER} END
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-stratum rates (50% of
    'en' docs, 10% of every other lang - the up-weight-English shape
    of LLM data mixes) applied through the same key-hash bucket as
    q_sample_hash, so membership stays a pure function of doc_id.

    Scale shape: still a stateless scan-side filter - no shuffle, no
    per-stratum pass; the rate lookup is a CASE on the stratum column
    (a broadcast map-join against a rates table in production). A
    stratum's sample is a SUBSET of any higher-rate sample of the
    same keys (bucket < 10 implies bucket < 50), which makes nested
    data ablations (10% en vs 50% en) reuse rows instead of
    resampling."""
    d = table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", STRATA_PCT_EN).otherwise(
        STRATA_PCT_OTHER
    )
    return d.filter(_hkey("doc_id") % 100 < rate).select(
        "doc_id", "lang", "source", "n_chars"
    )


SAMPLE_K = 20


@register(
    "q_sample_fixed_k",
    oracle=f"""
    SELECT lang, doc_id, rk
    FROM (
      SELECT lang, doc_id,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY {_hkey_sql("doc_id")}, doc_id) AS BIGINT) AS rk
      FROM documents
    )
    WHERE rk <= {SAMPLE_K}
    """,
)
def q_sample_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k per-stratum sample (k=20 docs per lang):
    rank every doc by its affine key hash within the stratum and keep
    the first k - a reservoir-sample contract (uniform-ish, exactly k,
    stable under re-runs and incremental backfill) with none of
    reservoir sampling's RNG state. Complements q_sample_hash /
    q_sample_stratified (RATE-based): quotas come out exact, which is
    what eval-set carving and per-source caps actually need.

    Scale shape: one window per stratum; at 100 TB swap the full-sort
    window for a per-partition top-k + merge of k-sized heaps (the
    TakeOrderedAndProject pattern per group) - rank-by-hash semantics
    identical.
    """
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(_hkey("doc_id"), F.col("doc_id"))
    return (
        d.select("lang", "doc_id", F.row_number().over(w).cast("bigint").alias("rk"))
        .filter(F.col("rk") <= SAMPLE_K)
    )


BFD_CAP = 512  # bin capacity in tokens
BFD_SHARDS = 8


@register("q_pack_bestfit")  # algorithmic packing -> rows-only + pinned tests
def q_pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing sequence packing: within each hash shard,
    sort docs by token count descending and place each into the
    FULLEST open bin it fits (capacity 512 tokens), opening a new bin
    otherwise - the classic BFD bin-packing heuristic (<= 11/9 OPT+1
    bins), a tighter packer than q_pack_sequences' greedy cumsum cut
    (which leaves the capacity gap wherever the cumsum happens to
    cross). Output: one row per doc with its shard, bin and fill.

    BFD is inherently sequential WITHIN a bin set, so the 100 TB form
    shards first (deterministic key hash) and runs the quadratic-free
    local pack per shard via applyInPandas - bounded state (open-bin
    fill array), no global sort, no driver involvement; exactly the
    q_pack_sequences_sharded decomposition with a better local
    packer. Deterministic (sort key (tokens DESC, doc_id), best-fit
    tie -> lowest bin id) but not SQL-expressible -> rows-only; the
    pytest pins it against a pure-Python reference and checks the
    capacity/bin-count invariants vs greedy.
    """
    import pandas as pd

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        (_hkey("doc_id") % BFD_SHARDS).cast("int").alias("shard"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tok", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        fills: list[int] = []
        bin_ids: list[int] = []
        for t in pdf["n_tok"]:
            t = int(t)
            # best fit: fullest bin that still takes t; ties -> lowest id
            best, best_fill = -1, -1
            for i, f in enumerate(fills):
                if f + t <= BFD_CAP and f > best_fill:
                    best, best_fill = i, f
            if best < 0:
                best = len(fills)
                fills.append(0)
            fills[best] += t
            bin_ids.append(best)
        out = pdf[["doc_id", "shard", "n_tok"]].copy()
        out["bin_id"] = bin_ids
        out["bin_fill"] = [fills[b] for b in bin_ids]
        return out

    schema = (
        "doc_id long, shard int, n_tok int, bin_id int, bin_fill int"
    )
    return toks.groupBy("shard").applyInPandas(pack, schema=schema)


@register(
    "q_kfold_split",
    oracle=f"""
    SELECT fold, lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT lang, n_chars,
             CAST({_hkey_sql("doc_id")} % 5 AS INT) AS fold
      FROM documents)
    GROUP BY fold, lang
    """,
)
def q_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation assignment by key hash, reported as the
    fold x lang contingency table (doc counts + total chars) - the
    stratification-quality check run before any CV experiment. Like
    q_train_test_split, fold membership is a pure function of doc_id:
    folds stay stable as the corpus grows, so cached per-fold
    artifacts (tokenizations, eval scores) never invalidate.

    Scale shape: stateless map over the scan + one small two-key agg;
    no shuffle of document text, pushdown-friendly."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            (_hkey("doc_id") % 5).cast("int").alias("fold"), "lang", "n_chars"
        )
        .groupBy("fold", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


CHUNK_W = 20      # words per chunk
CHUNK_STRIDE = 15  # overlap = W - stride = 5 words


@register(
    "q_chunk_documents",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents
    ),
    starts AS (
        SELECT doc_id, ts, unnest(range(0, len(ts), {CHUNK_STRIDE})) AS start
        FROM docs WHERE len(ts) > 0
    )
    SELECT doc_id,
           CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_word,
           CAST(len(list_slice(ts, start + 1, start + {CHUNK_W})) AS BIGINT)
               AS n_words,
           md5(array_to_string(list_slice(ts, start + 1, start + {CHUNK_W}),
                               ' ')) AS chunk_hash
    FROM starts
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/context-window chunking: split every document into
    overlapping word windows (W=20 words, stride=15, i.e. CHUNK_W /
    CHUNK_STRIDE) with
    stable (doc_id, chunk_idx) addressing and a content hash per
    chunk - the retrieval-prep step before embedding. Chunk text is
    emitted as an md5 (driver canonicalizer needs flat scalars and
    the hash is what a dedup/citation index stores anyway).

    Scale shape: pure map-side explode - tokenize once, generate the
    bounded start sequence (len/stride entries), slice the SAME token
    array per start. No shuffle, no UDF; chunk count scales with
    corpus size but each task only touches its own documents.
    100 TB note: downstream writers should partition by
    hash(doc_id) so all chunks of a document land together.
    """
    d = table(spark, sf_dir, "documents")
    ts = F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    chunk = F.slice(F.col("ts"), F.col("start") + 1, CHUNK_W)
    return (
        d.select("doc_id", ts.alias("ts"))
        .filter(F.size("ts") > 0)
        .select(
            "doc_id",
            "ts",
            F.explode(
                F.sequence(
                    F.lit(0), F.size("ts") - 1, F.lit(CHUNK_STRIDE)
                )
            ).alias("start"),
        )
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
            F.col("start").cast("bigint").alias("start_word"),
            F.size(chunk).cast("bigint").alias("n_words"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
        )
    )


MIX_WEIGHTS = {"en": 0.4, "fr": 0.15, "de": 0.15, "es": 0.15, "zh": 0.15}


@register(
    "q_mix_weighted",
    oracle=f"""
    WITH weights(lang, w) AS (VALUES
        ('en', 0.4), ('fr', 0.15), ('de', 0.15), ('es', 0.15),
        ('zh', 0.15)),
    avail AS (
        SELECT lang, count(*) AS n_avail FROM documents GROUP BY lang
    ),
    cap AS (
        -- largest total corpus T such that w_l * T <= n_l for all l
        SELECT min(n_avail / w) AS t_max
        FROM avail JOIN weights USING (lang)
    ),
    quota AS (
        SELECT lang, n_avail, CAST(floor(w * t_max) AS BIGINT) AS k
        FROM avail JOIN weights USING (lang), cap
    ),
    ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {_hkey_sql("doc_id")}, doc_id) AS r
        FROM documents
    )
    SELECT lang, n_avail, k AS quota,
           count(*) AS n_taken,
           CAST(count(*) AS DOUBLE)
             / (SELECT sum(k) FROM quota) AS achieved_share
    FROM ranked JOIN quota USING (lang)
    WHERE r <= k
    GROUP BY lang, n_avail, k
    """,
)
def q_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-constrained training-mixture solve: given target
    language weights w_l, find the LARGEST total corpus T with
    w_l * T <= n_l for every language (T = min n_l / w_l), then take
    the per-language quota floor(w_l * T) deterministically by key
    hash - the data-mixing step that hits target proportions without
    oversampling any source. Output: per-language availability,
    quota, rows actually taken, achieved share.

    Scale shape: availability is a small two-phase agg; the capacity
    solve runs on the |langs|-row frame and broadcasts back as a
    quota map; selection is a per-language hash-rank window. Unlike
    q_sample_fixed_k (literal k -> WindowGroupLimit prunes inside
    the shuffle), the quota here is DATA-DERIVED, so the group-limit
    rewrite cannot fire and the full per-language rank runs - the
    price of a capacity-solved k; pass a precomputed literal cap to
    recover the pruned plan when quotas are known ahead of time.
    Membership is a pure function of (doc_id, corpus counts):
    re-runs select the same rows.
    """
    d = table(spark, sf_dir, "documents")
    weights = F.create_map(
        *[F.lit(x) for kv in MIX_WEIGHTS.items() for x in kv]
    )
    avail = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_avail"))
        .withColumn("w", weights[F.col("lang")])
    )
    cap = avail.agg(F.min(F.col("n_avail") / F.col("w")).alias("t_max"))
    quota = (
        avail.crossJoin(cap)
        .select(
            "lang",
            "n_avail",
            F.floor(F.col("w") * F.col("t_max")).cast("bigint").alias("k"),
        )
    )
    total = quota.agg(F.sum("k").alias("total_k"))
    w = Window.partitionBy("lang").orderBy(_hkey("doc_id"), "doc_id")
    return (
        d.select("doc_id", "lang")
        .withColumn("r", F.row_number().over(w))
        .join(F.broadcast(quota), "lang")
        .filter(F.col("r") <= F.col("k"))
        .groupBy("lang", "n_avail", F.col("k").alias("quota"))
        .agg(F.count("*").alias("n_taken"))
        .crossJoin(total)
        .select(
            "lang",
            "n_avail",
            "quota",
            "n_taken",
            (F.col("n_taken").cast("double") / F.col("total_k")).alias(
                "achieved_share"
            ),
        )
    )


LEN_BUCKET = 16  # tokens per histogram bucket


@register(
    "q_seq_len_buckets",
    oracle=f"""
    WITH lens AS (
        SELECT len(list_filter(string_split(lower(text), ' '),
                               t -> t <> '')) AS n_tokens
        FROM documents
    ),
    b AS (
        SELECT CAST((n_tokens // {LEN_BUCKET}) * {LEN_BUCKET} AS BIGINT)
                   AS bucket_lo,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM lens GROUP BY 1
    )
    SELECT bucket_lo, n_docs, total_tokens,
           CAST(sum(n_docs) OVER (ORDER BY bucket_lo) AS BIGINT)
               AS cum_docs,
           CAST(sum(total_tokens) OVER (ORDER BY bucket_lo) AS DOUBLE)
             / (SELECT sum(total_tokens) FROM b) AS cum_token_share
    FROM b
    """,
)
def q_seq_len_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram in fixed 16-token (LEN_BUCKET) buckets
    with cumulative doc count and token-mass share - the planning
    view for sequence packing (choose max_len / packing strategy
    from where the token mass actually lives).

    Scale shape: token counting is map-side (size of split, no
    explode); the histogram agg shuffles |buckets| partial rows; the
    cumulative window runs over the bucket frame (bounded: max
    doc length / LEN_BUCKET rows), NOT the corpus. Shares are
    int-sum ratios -> one IEEE division, cross-engine exact.
    """
    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(
        F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    )
    b = (
        d.select(n_tokens.alias("n_tokens"))
        .groupBy(
            (
                F.floor(F.col("n_tokens") / LEN_BUCKET) * LEN_BUCKET
            ).cast("bigint").alias("bucket_lo")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )
    wcum = Window.orderBy("bucket_lo").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    grand = b.agg(F.sum("total_tokens").alias("grand_tokens"))
    return (
        b.crossJoin(grand)
        .select(
            "bucket_lo",
            "n_docs",
            "total_tokens",
            F.sum("n_docs").over(wcum).cast("bigint").alias("cum_docs"),
            (
                F.sum("total_tokens").over(wcum).cast("double")
                / F.col("grand_tokens")
            ).alias("cum_token_share"),
        )
    )


MIX_TEMP_ALPHA = 0.3   # UniMax/mT5-style temperature exponent
MIX_TEMP_BUDGET = 10_000  # documents in the hypothetical training mix


@register(
    "q_mix_temperature",
    oracle=f"""
    WITH avail AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    z AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
             sum(pow(n_docs, {MIX_TEMP_ALPHA})) AS z
      FROM avail
    )
    SELECT a.lang, a.n_docs,
           round(CAST(a.n_docs AS DOUBLE) / z.n_total, 6) AS p_raw,
           round(pow(a.n_docs, {MIX_TEMP_ALPHA}) / z.z, 6) AS p_temp,
           round((pow(a.n_docs, {MIX_TEMP_ALPHA}) / z.z)
                 / (CAST(a.n_docs AS DOUBLE) / z.n_total), 6) AS boost,
           CAST(round({MIX_TEMP_BUDGET} * pow(a.n_docs, {MIX_TEMP_ALPHA})
                      / z.z, 0) AS BIGINT) AS budget_docs
    FROM avail a, z
    ORDER BY a.lang
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixture (the mT5/UniMax sampling
    rule): p_l ∝ n_l^alpha with alpha=0.3 (MIX_TEMP_ALPHA) flattens
    the natural distribution so low-resource languages are
    up-sampled - reported per language as raw vs temperature share,
    the up/down-sampling boost, and the document budget at a 10k
    (MIX_TEMP_BUDGET) mix. The capacity-constrained complement of
    q_mix_weighted (which takes target weights as given; HERE the
    weights are derived from availability).

    Scale shape: one two-phase count agg to a |langs|-row frame, the
    normalizer is a 1-row agg broadcast back (crossJoin of
    bounded x 1), and the mixture math is projection arithmetic.
    pow() may differ by ULPs across engines, so every reported
    float is rounded 6 dp (SURVEY §5.2).
    """
    d = table(spark, sf_dir, "documents")
    avail = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_docs"))
    z = avail.agg(
        F.sum("n_docs").cast("bigint").alias("n_total"),
        F.sum(F.pow("n_docs", F.lit(MIX_TEMP_ALPHA))).alias("z"),
    )
    pt = F.pow("n_docs", F.lit(MIX_TEMP_ALPHA)) / F.col("z")
    praw = F.col("n_docs").cast("double") / F.col("n_total")
    return (
        avail.crossJoin(z)
        .select(
            "lang",
            "n_docs",
            F.round(praw, 6).alias("p_raw"),
            F.round(pt, 6).alias("p_temp"),
            F.round(pt / praw, 6).alias("boost"),
            F.round(F.lit(MIX_TEMP_BUDGET) * pt, 0)
            .cast("bigint")
            .alias("budget_docs"),
        )
        .orderBy("lang")
    )


WSAMPLE_K = 500      # sample size
WSAMPLE_U_MOD = 10_000  # uniform-grid resolution for the priority draw


@register(
    "q_sample_weighted",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (
               ORDER BY CAST(({_hkey_sql("doc_id")}) % {WSAMPLE_U_MOD} + 0.5
                             AS DOUBLE)
                        / greatest(n_chars, 1),
                        doc_id) AS rk
      FROM documents)
    WHERE rk <= {WSAMPLE_K}
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, probability
    proportional to size (n_chars), via SEQUENTIAL POISSON sampling
    (Ohlsson): draw u_i from the deterministic key-hash grid, rank
    by u_i / w_i ascending, keep the first k=500 (WSAMPLE_K). Long
    documents are proportionally more likely to be kept - the
    token-mass-preserving subsample - yet membership stays a pure
    function of doc_id (re-runs and backfills agree), unlike
    rand()-keyed reservoir implementations.

    No transcendentals on purpose: the textbook A-ES key
    -ln(u)/w ranks identically to u/w (ln is monotone), and the
    plain division is bit-identical across engines, so the top-k
    boundary cannot flip between Spark and the oracle. Ties broken
    by doc_id.

    Scale shape: map-side key computation + rank<=k pushed into the
    shuffle as a WindowGroupLimit (only k rows per partition survive
    the exchange) - the q_sample_fixed_k plan shape with a weighted
    priority instead of a stratum hash.
    """
    d = table(spark, sf_dir, "documents")
    u = (_hkey("doc_id") % WSAMPLE_U_MOD + F.lit(0.5)).cast("double")
    pri = u / F.greatest(F.col("n_chars"), F.lit(1))
    w = Window.orderBy(pri, F.col("doc_id"))
    return (
        d.select("doc_id", "lang", "n_chars", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= WSAMPLE_K)
        .select("doc_id", "lang", "n_chars")
    )


KANON_THRESHOLDS = (2, 5, 10)  # the audit's k ladder
KANON_BAL_UNIT = 100000        # acctbal bucket width: 1000.00 in cents


@register(
    "q_privacy_kanon",
    oracle=f"""
    WITH q AS (
      SELECT c_nationkey AS nk, c_mktsegment AS seg,
             CAST(floor(CAST(round(c_acctbal * 100, 0) AS BIGINT)
                        / {KANON_BAL_UNIT}.0) AS BIGINT) AS bal_bucket,
             c_custkey
      FROM customer
    ),
    cls AS (
      SELECT nk, seg, bal_bucket, CAST(count(*) AS BIGINT) AS sz
      FROM q GROUP BY 1, 2, 3
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_classes,
             CAST(sum(sz) AS BIGINT) AS n_records,
             CAST(min(sz) AS BIGINT) AS min_class
      FROM cls
    ),
    k AS (SELECT unnest([{", ".join(str(k) for k in KANON_THRESHOLDS)}]) AS k)
    SELECT CAST(k.k AS BIGINT) AS k, t.n_classes, t.n_records,
           t.min_class,
           CAST(sum(CASE WHEN c.sz < k.k THEN 1 ELSE 0 END)
                AS BIGINT) AS n_classes_small,
           CAST(sum(CASE WHEN c.sz < k.k THEN c.sz ELSE 0 END)
                AS BIGINT) AS n_records_risk,
           CAST(sum(CASE WHEN c.sz < k.k THEN c.sz ELSE 0 END)
                AS DOUBLE) / t.n_records AS risk_share
    FROM cls c CROSS JOIN k CROSS JOIN tot t
    GROUP BY k.k, t.n_classes, t.n_records, t.min_class
    ORDER BY k
    """,
)
def q_privacy_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit of the customer table under the
    quasi-identifier triple (nation, market segment, account-balance
    1000-unit bucket): for each k in the {2, 5, 10} ladder, how many
    equivalence classes fall below k and what share of RECORDS they
    expose - the re-identification risk readout a privacy review
    runs BEFORE a dataset ships into a training corpus (Sweeney's
    k-anonymity; the release gate is usually "no class below k").

    The balance bucket floors cents/100000 through DOUBLE floor in
    BOTH engines deliberately: integer division truncates toward
    zero in Spark but floors in DuckDB, so negative balances would
    disagree - the shared-double-floor tree sidesteps the dialect
    trap (bucket boundaries are exact-multiple cents, where the
    division is IEEE-exact).

    Exactness: class sizes and all audit counts are int64;
    risk_share is ONE integer division, unrounded.

    Scale shape: ONE two-phase agg to the class frame (map-side
    combine on the QI key), a 1-row total + 3-row k ladder broadcast
    onto it, and a 3-group re-agg - the class frame is the only
    shuffle, and the audit never materializes per-record output (no
    privacy-relevant data leaves the aggregate). 100 TB: identical;
    skewed QI classes are just heavy groups in a combining agg.
    """
    c = table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    q = c.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(cents / float(KANON_BAL_UNIT)).cast("bigint").alias(
            "bal_bucket"
        ),
    )
    cls = q.groupBy("nk", "seg", "bal_bucket").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    tot = cls.agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum("sz").cast("bigint").alias("n_records"),
        F.min("sz").cast("bigint").alias("min_class"),
    )
    k = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(x) for x in KANON_THRESHOLDS])
        ).alias("k")
    )
    return (
        cls.crossJoin(k)
        .crossJoin(tot)
        .groupBy("k", "n_classes", "n_records", "min_class")
        .agg(
            F.sum(F.when(F.col("sz") < F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_classes_small"),
            F.sum(F.when(F.col("sz") < F.col("k"), F.col("sz")).otherwise(0))
            .cast("bigint")
            .alias("n_records_risk"),
        )
        .select(
            F.col("k").cast("bigint").alias("k"),
            "n_classes",
            "n_records",
            "min_class",
            "n_classes_small",
            "n_records_risk",
            (
                F.col("n_records_risk").cast("double") / F.col("n_records")
            ).alias("risk_share"),
        )
        .orderBy("k")
    )


DP_EPS = "1.0"            # epsilon (privacy budget), sensitivity 1
DP_LCG_A = 1103515245     # the classic LCG step supplying the
DP_LCG_C = 12345          # deterministic inverse-CDF uniform
DP_LCG_M = 2147483648


# WARNING (registration-site, per ADVICE r6): this operator
# demonstrates the Laplace-mechanism ALGEBRA with a DETERMINISTIC
# seeded noise draw so the oracle check is rerun-stable. The released
# counts are therefore exactly invertible and provide ZERO actual
# differential privacy. A real DP release must draw the noise from a
# cryptographically secure RNG (and never publish the seed) - swap
# the LCG uniform for `rand()`/OS entropy in production.
@register(
    "q_privacy_dp_noise",
    oracle=f"""
    WITH raw AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ),
    seeded AS (
      SELECT event_type, n,
             row_number() OVER (ORDER BY event_type) AS id
      FROM raw
    ),
    u AS (
      SELECT event_type, n,
             ((id * {DP_LCG_A} + {DP_LCG_C}) % {DP_LCG_M} + 0.5)
               / {DP_LCG_M} - 0.5 AS c
      FROM seeded
    )
    SELECT event_type, n AS raw_count,
           round(-(1.0 / {DP_EPS})
                 * (CASE WHEN c >= 0 THEN 1.0 ELSE -1.0 END)
                 * ln(1.0 - 2.0 * abs(c)), 6) AS noise,
           CAST(greatest(0, round(n - (1.0 / {DP_EPS})
                 * (CASE WHEN c >= 0 THEN 1.0 ELSE -1.0 END)
                 * ln(1.0 - 2.0 * abs(c)), 0)) AS BIGINT)
               AS released_count
    FROM u ORDER BY event_type
    """,
)
def q_privacy_dp_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release of event-type counts
    via the Laplace mechanism (Dwork 2006): each count gets
    Laplace(sensitivity/epsilon) noise (eps = 1, sensitivity 1 for
    event-level counting queries) drawn through the inverse CDF
    -b*sign(u-.5)*ln(1-2|u-.5|), then clamps to a non-negative
    integer for release - the other half of the privacy family
    (q_privacy_kanon AUDITS identifiability; this MECHANISM bounds
    it by construction).

    The uniform comes from a seeded integer LCG over the category's
    deterministic rank - reproducible on purpose, so both engines
    (and reruns) release identical values; a production release
    swaps in a CSPRNG draw per release epoch, changing NOTHING
    about the mechanism's algebra, which is what this operator
    pins. Only the irrational ln is rounded (6dp); the released
    integer is exact.

    Scale shape: ONE two-phase count agg; the noise is projection
    arithmetic over the |categories|-row frame. 100 TB: identical -
    DP release cost never scales with data, only with the category
    frame (contributor-bounded variants add one per-user dedup agg
    upstream).
    """
    e = table(spark, sf_dir, "events")
    raw = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    seeded = raw.select(
        "event_type",
        "n",
        F.row_number()
        .over(Window.orderBy("event_type"))
        .cast("bigint")
        .alias("id"),
    )
    c = (
        (
            (F.col("id") * DP_LCG_A + DP_LCG_C) % DP_LCG_M + 0.5
        )
        / DP_LCG_M
        - 0.5
    )
    sign = F.when(c >= 0, 1.0).otherwise(-1.0)
    noise = -(1.0 / float(DP_EPS)) * sign * F.log(
        1.0 - 2.0 * F.abs(c)
    )
    return seeded.select(
        "event_type",
        F.col("n").alias("raw_count"),
        F.round(noise, 6).alias("noise"),
        F.greatest(F.lit(0), F.round(F.col("n") + noise, 0))
        .cast("bigint")
        .alias("released_count"),
    ).orderBy("event_type")


HT_MOD = 97  # deterministic 1-in-~3 inclusion hash modulus
HT_THRESH = 32


@register(
    "q_sample_horvitz_thompson",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             CASE WHEN ((o_orderkey * 2654435761 + 1013904223)
                        % 1000000007) % {HT_MOD} < {HT_THRESH}
                  THEN 1 ELSE 0 END AS inc
      FROM orders
    ),
    truth AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pop,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM base
    ),
    samp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sample,
             sum(cents / (CAST({HT_THRESH} AS DOUBLE) / {HT_MOD}))
                 AS ht_cents
      FROM base WHERE inc = 1
    )
    SELECT t.n_pop, s.n_sample, t.total_cents,
           round(s.ht_cents / 100.0, 2) AS ht_estimate,
           round((s.ht_cents - t.total_cents) / t.total_cents, 6)
               AS rel_error
    FROM truth t CROSS JOIN samp s
    """,
)
def q_sample_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimator of total order revenue from a
    hash-Bernoulli sample: every sampled row is weighted by
    1/pi (pi = 32/97, the deterministic inclusion probability of
    the affine-hash draw), and the weighted sum estimates the
    population total - THE design-unbiased estimator that makes
    q_sample_hash's samples quotable (a sample without its
    inverse-probability weights is just a smaller dataset), with
    the realized relative error against the exact total as the
    built-in honesty check. Unequal-probability designs
    (q_sample_weighted's PPS) drop into the same sum with per-row
    pi.

    Exactness: inclusion is exact integer hash arithmetic; the
    population truth is an exact int64 cent sum; the HT sum divides
    each int64 cent value by the LITERAL pi (identical tree,
    sample-sized sum behind the 2dp/6dp output rounds).

    Scale shape: ONE scan computes membership in-plan (no
    materialized sample needed), two conditional aggs. 100 TB:
    identical - this is the counted-scan shape, and pi rides the
    weight column of any stored sample.
    """
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    inc = F.expr(
        f"CASE WHEN ((o_orderkey * 2654435761 + 1013904223)"
        f" % 1000000007) % {HT_MOD} < {HT_THRESH} THEN 1 ELSE 0 END"
    )
    base = o.select(cents.alias("cents"), inc.alias("inc"))
    truth = base.agg(
        F.count("*").cast("bigint").alias("n_pop"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    pi = float(HT_THRESH) / HT_MOD
    samp = base.filter(F.col("inc") == 1).agg(
        F.count("*").cast("bigint").alias("n_sample"),
        F.sum(F.col("cents") / pi).alias("ht_cents"),
    )
    return truth.crossJoin(samp).select(
        "n_pop",
        "n_sample",
        "total_cents",
        F.round(F.col("ht_cents") / 100.0, 2).alias("ht_estimate"),
        F.round(
            (F.col("ht_cents") - F.col("total_cents"))
            / F.col("total_cents"),
            6,
        ).alias("rel_error"),
    )


PAD_LENGTHS = (512, 1024, 2048)


@register(
    "q_pack_padding_waste",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  t -> t <> '')) AS BIGINT) AS n_tok
      FROM documents
    ),
    ladder AS (SELECT unnest([{", ".join(str(l) for l in PAD_LENGTHS)}])
                   AS ctx),
    per AS (
      SELECT CAST(l.ctx AS BIGINT) AS ctx,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(t.n_tok) AS BIGINT) AS real_tokens,
             CAST(sum(((t.n_tok + l.ctx - 1) // l.ctx) * l.ctx)
                  AS BIGINT) AS padded_tokens,
             CAST(sum((t.n_tok + l.ctx - 1) // l.ctx) AS BIGINT)
                 AS n_sequences
      FROM toks t CROSS JOIN ladder l
      GROUP BY l.ctx
    )
    SELECT ctx, n_docs, n_sequences, real_tokens, padded_tokens,
           CAST(padded_tokens - real_tokens AS DOUBLE) / padded_tokens
               AS waste_share
    FROM per ORDER BY ctx
    """,
)
def q_pack_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste economics across the context-length ladder
    (512/1024/2048): if every document is chunked to ceil(len/ctx)
    sequences and each sequence padded to ctx, what fraction of
    paid-for tokens is padding - the number that justifies sequence
    PACKING in the first place (q_pack_sequences' waste is bounded
    by one doc per pack; naive padding wastes THIS much), and the
    curve a training team reads before picking a context length for
    a corpus with this length distribution.

    Exactness: token counts, ceil-division sequence counts, and
    padded totals are pure int64; waste_share is ONE integer
    division, unrounded.

    Scale shape: one tokenize-count pass crossed with the 3-row
    ladder, map-side combining agg. 100 TB: identical - this is a
    histogram functional of the length distribution
    (q_seq_len_buckets is that histogram; this is its cost
    projection).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
        )
        .cast("bigint")
        .alias("n_tok"),
    )
    ladder = spark.createDataFrame(
        [(l,) for l in PAD_LENGTHS], "ctx long"
    )
    n_seq = F.expr("(n_tok + ctx - 1) div ctx")
    per = (
        toks.crossJoin(F.broadcast(ladder))
        .groupBy("ctx")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("real_tokens"),
            F.sum(n_seq * F.col("ctx")).cast("bigint").alias(
                "padded_tokens"
            ),
            F.sum(n_seq).cast("bigint").alias("n_sequences"),
        )
    )
    return per.select(
        "ctx",
        "n_docs",
        "n_sequences",
        "real_tokens",
        "padded_tokens",
        (
            (F.col("padded_tokens") - F.col("real_tokens")).cast("double")
            / F.col("padded_tokens")
        ).alias("waste_share"),
    ).orderBy("ctx")
