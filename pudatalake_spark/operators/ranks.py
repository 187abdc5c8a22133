"""Distributed global ordering primitives (VERDICT r6 #1).

``Window.orderBy(...)`` with an EMPTY partition spec is the one Spark
window shape that does NOT scale out: Catalyst plans it as
``Exchange SinglePartition -> Sort -> Window`` - every row moves to ONE
task, which then sorts the whole frame. (DataFrame ``orderBy`` range-
partitions; an unpartitioned window does not.) Seven operators in this
repo needed a global rank / running sum over a fact-derived frame and
previously paid that single-task sort. This module is the shared
replacement: an equi-depth BUCKETED two-pass rank that keeps every
stage parallel and keeps the whole computation lazy (no driver
actions, no ``collect``).

Shape (all JVM-side, whole-stage-codegen friendly):

1. ``localCheckpoint(eager=False)`` the BUCKETED frame (step 3) so
   its two consumers (window side + bucket-total side) see one frozen
   bucket assignment; the raw input is NOT checkpointed (r8) - its
   shuffles are reused via stage reuse and a checkpoint there would
   block filter/column pushdown into the shared scan and pin a second
   full copy per call.
2. A 1-row ``percentile_approx`` aggregate computes ``buckets-1``
   equi-depth cut points of the numeric order scalar IN-PLAN; the row
   is broadcast back (BroadcastNestedLoopJoin of a 1-row frame).
3. Bucket id ``_b`` = number of cut points strictly below the row's
   order value - a chain of plain comparisons (codegen; NO interpreted
   higher-order functions, per the r6 jaccard lesson). Correctness
   does NOT depend on the cut values: any monotone bucketing in which
   ties co-locate yields identical final ranks, so approx/unstable
   cut points are safe by construction.
4. Local ``row_number()`` / ``rank()`` / running sums inside each
   bucket: ``Window.partitionBy(_b).orderBy(...)`` - a parallel hash
   exchange, NOT SinglePartition.
5. Per-bucket row counts / sums -> prefix offsets via a broadcast
   triangular join on the <= ``buckets``-row frame (no window at all,
   so the audited plan contains ZERO SinglePartition exchanges other
   than final 1-row aggregate merges).
6. global = bucket prefix offset + local value.

At 100 TB every stage is a shuffle on ``_b`` (equi-depth, so balanced
by construction up to the percentile sketch error) or a broadcast of
a <= ``buckets``-row frame. The old plan's single task becomes
``buckets`` parallel sorted partitions.

Tie semantics: all rows with equal order-scalar values land in the
same bucket (strict ``>`` against cut points), so ``rank()`` /
tie-break ordering within the bucket is globally correct.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import superstep_checkpoint

#: Default bucket fan-out. 64 buckets over 32 shuffle partitions keeps
#: every core busy (~2 buckets/partition) while the cut-point row and
#: offset frame stay trivially broadcastable.
RANK_BUCKETS = 64


def _bucketed(
    df: DataFrame, ord_col: str, buckets: int
) -> DataFrame:
    """Attach the equi-depth bucket id ``_b`` (int, 0-based).

    ``ord_col`` must be a numeric column that is monotone
    non-decreasing in the caller's target total order (negate it for
    DESC primaries). NULL order values bucket to 0 - callers in this
    repo never rank nullable scalars.
    """
    probs = [i / buckets for i in range(1, buckets)]
    cuts = df.agg(
        F.percentile_approx(ord_col, probs, 10_000).alias("_cuts")
    )
    cut_row = F.broadcast(
        cuts.select(
            *[F.col("_cuts")[i].alias(f"_ct{i}") for i in range(buckets - 1)]
        )
    )
    b_expr = None
    for i in range(buckets - 1):
        term = F.when(F.col(ord_col) > F.col(f"_ct{i}"), 1).otherwise(0)
        b_expr = term if b_expr is None else b_expr + term
    return (
        df.crossJoin(cut_row)
        .withColumn("_b", b_expr)
        .drop(*[f"_ct{i}" for i in range(buckets - 1)])
    )


def _prefix_offsets(
    sizes: DataFrame,
    sum_cols: list[str],
    partition_cols: list[str],
    min_cols: list[str] | None = None,
) -> DataFrame:
    """Exclusive prefix sums (and mins) over the bounded bucket-total
    frame (<= |partitions| x ``buckets`` rows) WITHOUT a window:
    broadcast triangular (same partition, R._b < L._b) join. Returns
    one row per (partition, bucket): the keys plus ``_off_<c>`` for
    each input column ``c`` (0 for a partition's first sum bucket,
    NULL for its first min bucket)."""
    left = sizes.alias("L")
    right = sizes.alias("R")
    cond = F.col("R._b") < F.col("L._b")
    for p in partition_cols:
        cond = cond & (F.col(f"R.{p}") == F.col(f"L.{p}"))
    offs = [
        F.coalesce(F.sum(F.col(f"R.{c}")), F.lit(0)).alias(f"_off_{c}")
        for c in sum_cols
    ]
    offs += [
        F.min(F.col(f"R.{c}")).alias(f"_off_{c}")
        for c in (min_cols or [])
    ]
    keys = [F.col(f"L.{p}").alias(p) for p in partition_cols]
    keys.append(F.col("L._b").alias("_b"))
    return (
        left.join(F.broadcast(right), cond, "left")
        .groupBy(*keys)
        .agg(*offs)
    )


def global_order(
    df: DataFrame,
    ord_col: str,
    order_exprs: list[Column],
    *,
    rank_name: str | None = None,
    rank_kind: str = "row_number",
    cumsum: dict[str, str] | None = None,
    cummin_excl: dict[str, str] | None = None,
    total_name: str | None = None,
    partition_cols: list[str] | None = None,
    buckets: int = RANK_BUCKETS,
) -> DataFrame:
    """Global (or per-partition) rank / running sums over
    ``order_exprs``' total order with NO ``Exchange SinglePartition``
    on the data path.

    Args:
        df: input frame; ``ord_col`` must exist, be numeric, and be
            monotone in the target order (see ``_bucketed``).
        order_exprs: the full window ordering (incl. tie-breaks /
            ``F.desc``) applied WITHIN each bucket.
        rank_name: if set, adds a 1-based bigint global position
            (``rank_kind`` = 'row_number' or 'rank'; 'rank' gives
            standard min-rank tie semantics - exact because ties
            co-bucket).
        cumsum: {source_col: dest_col} inclusive global running sums
            (ROWS UNBOUNDED PRECEDING..CURRENT ROW semantics).
        cummin_excl: {source_col: dest_col} EXCLUSIVE global running
            mins (ROWS UNBOUNDED PRECEDING..-1: NULL on the first
            row, matching the window semantics) - the sweep-line
            primitive (skyline dominance).
        total_name: if set, adds the bigint (per-partition) row count
            to every row (rides the same broadcast - no extra pass).
        partition_cols: optional window partition keys. With these,
            the helper is the scale-out form of
            ``Window.partitionBy(keys).orderBy(...)`` for LOW-
            cardinality keys (a handful of segments): the bucket id
            sub-splits each key so parallelism is |keys| x buckets
            instead of |keys|. Cut points stay global (monotone
            bucketing per key still holds).
        buckets: bucket fan-out.

    Plan: checkpoint-shared scan -> broadcast cut row -> Exchange
    hashpartitioning(partition_cols, _b) -> per-bucket Sort+Window ->
    broadcast offset join. Everything parallel; the offset/total
    frames are <= |keys| x ``buckets`` rows by construction.
    """
    cumsum = cumsum or {}
    cummin_excl = cummin_excl or {}
    pcols = partition_cols or []
    # ONLY the bucketed frame is checkpointed: the window side and the
    # bucket-total side BOTH consume `_b`, and the percentile sketch
    # that feeds it merges partials in shuffle-arrival order - on a
    # real cluster two replans of the cuts subtree could disagree in
    # the last ulp, silently mis-offsetting ranks. Freezing `_b`
    # makes bucket assignment a materialized fact, not a replayable
    # expression. (Rank CORRECTNESS never depends on the cut values -
    # only on both consumers seeing the SAME ones.) The INPUT frame is
    # deliberately NOT checkpointed (r8, ADVICE r7): its only two
    # consumers - the cuts aggregate and the bk materialization - both
    # execute before bk exists, any shuffle in df's lineage is reused
    # via Spark's shuffle-file stage reuse on the second pass, and an
    # input checkpoint would (a) pin a second full copy per call
    # (q_events_rfm calls this helper three times) and (b) put a
    # barrier between the caller's filters and the shared scan,
    # blocking pushdown.
    #
    # Executor-loss caveat (applies to every superstep_checkpoint in
    # this repo): the DEFAULT strategy is localCheckpoint - blocks are
    # non-replicated, so losing an executor fails the job instead of
    # recomputing, and they live until the next build. On this
    # single-JVM bench target that trade is pure win (one
    # materialization, no distributed-FS round-trip); on dynamic-
    # allocation / spot clusters set spark.pudatalake.checkpoint.dir
    # and every such site switches to reliable checkpoint() (r9,
    # session.superstep_checkpoint; equivalence pinned in
    # tests/test_reliable_checkpoint.py).
    bk = superstep_checkpoint(_bucketed(df, ord_col, buckets))

    w_loc = Window.partitionBy(*pcols, "_b").orderBy(*order_exprs)
    w_run = w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b = bk
    if rank_name is not None:
        fn = F.rank() if rank_kind == "rank" else F.row_number()
        b = b.withColumn("_lr", fn.over(w_loc))
    for src, dst in cumsum.items():
        b = b.withColumn(f"_lc_{src}", F.sum(src).over(w_run))
    w_excl = w_loc.rowsBetween(Window.unboundedPreceding, -1)
    for src, dst in cummin_excl.items():
        b = b.withColumn(f"_lm_{src}", F.min(src).over(w_excl))

    # Bucket totals come from the SAME bucketed subtree (pre-window,
    # so this side is a pure two-phase hash agg over the shared
    # checkpointed scan).
    size_aggs = [F.count("*").alias("_bn")]
    size_aggs += [F.sum(src).alias(f"_bs_{src}") for src in cumsum]
    size_aggs += [F.min(src).alias(f"_bm_{src}") for src in cummin_excl]
    sizes = bk.groupBy(*pcols, "_b").agg(*size_aggs)
    off = _prefix_offsets(
        sizes,
        ["_bn"] + [f"_bs_{src}" for src in cumsum],
        pcols,
        min_cols=[f"_bm_{src}" for src in cummin_excl],
    )

    out = b.join(F.broadcast(off), [*pcols, "_b"])
    if rank_name is not None:
        out = out.withColumn(
            rank_name, (F.col("_off__bn") + F.col("_lr")).cast("bigint")
        )
    for src, dst in cumsum.items():
        out = out.withColumn(
            dst, F.col(f"_off__bs_{src}") + F.col(f"_lc_{src}")
        )
    for src, dst in cummin_excl.items():
        # least() skips NULLs: first row of the first bucket stays
        # NULL (empty exclusive frame), first row of a later bucket
        # sees only the prior buckets' min - the window semantics.
        out = out.withColumn(
            dst, F.least(F.col(f"_off__bm_{src}"), F.col(f"_lm_{src}"))
        )
    if total_name is not None:
        if pcols:
            tot = sizes.groupBy(*pcols).agg(
                F.sum("_bn").cast("bigint").alias(total_name)
            )
            out = out.join(F.broadcast(tot), pcols)
        else:
            tot = sizes.agg(
                F.sum("_bn").cast("bigint").alias(total_name)
            )
            out = out.crossJoin(F.broadcast(tot))

    drop = ["_b", "_off__bn"]
    if rank_name is not None:
        drop.append("_lr")
    for src in cumsum:
        drop += [f"_lc_{src}", f"_off__bs_{src}"]
    for src in cummin_excl:
        drop += [f"_lm_{src}", f"_off__bm_{src}"]
    return out.drop(*drop)


def ntile_expr(rank: Column, n_total: Column, tiles: int) -> Column:
    """ANSI ``ntile(tiles)`` from a 1-based global row_number and the
    total row count - both Spark and DuckDB assign the remainder rows
    to the EARLIEST tiles (first ``N mod tiles`` tiles get
    ``ceil(N/tiles)`` rows), which is exactly this closed form, so a
    bucketed two-pass rank + this expression reproduces a global
    ``ntile`` window bit-for-bit."""
    q = F.floor(n_total / tiles)
    r = n_total % tiles
    thresh = r * (q + 1)
    return F.when(
        rank <= thresh, F.floor((rank - 1) / (q + 1)) + 1
    ).otherwise(r + F.floor((rank - thresh - 1) / q) + 1)
