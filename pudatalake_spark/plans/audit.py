"""Physical-plan invariants (SURVEY §4): the plan properties the
100 TB design relies on, asserted against ``explain('formatted')``.

A correctness gate checks results; this gate checks PLANS - that the
declarative formulation actually engaged Catalyst's scan pruning,
predicate pushdown, broadcast strategy, top-k rewrite, and two-phase
aggregation, and that no row-at-a-time Python evaluation appears
outside the explicitly-UDF operators. ``tools/plan_audit.py`` is the
CLI; run it after any operator change.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import NamedTuple

from .. import loaders, registry

# name -> (must_contain regexes, must_NOT_contain regexes, why)
RULES: dict[str, tuple[list[str], list[str], str]] = {
    "q_scan_pushdown": (
        [r"PushedFilters: \[.*GreaterThanOrEqual"],
        [],
        "shipdate predicate must reach the parquet row-group reader",
    ),
    "q_scan_prune": (
        [r"ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"],
        [],
        "2-of-11-column projection must prune at the scan",
    ),
    "q_scan_partition_pruned": (
        [r"PartitionFilters: \[isnotnull\(event_type.*event_type.* = click"],
        [],
        "event_type filter must prune partitions at planning time",
    ),
    "q_scan_dpp": (
        [r"dynamicpruningexpression"],
        [],
        "fact scan must carry a runtime dynamic-partition-pruning subquery",
    ),
    "q_join_bucketed": (
        [r"SortMergeJoin"],
        [r"Exchange"],
        "bucketed+sorted layout must give a shuffle-free co-located join",
    ),
    "q_join_inner_broadcast": (
        [r"BroadcastHashJoin"],
        [r"SortMergeJoin"],
        "nation x region dim join must broadcast, never shuffle",
    ),
    "q_join_star_multiway": (
        [r"BroadcastHashJoin"],
        [],
        "star dims (customer/nation/region) must broadcast into the fact scan",
    ),
    "q_topk": (
        [r"TakeOrderedAndProject"],
        [r"(?<!Take)(?<!AQEShuffleRead )Sort(?!MergeJoin)\s"],
        "global top-10 must use the streaming top-k operator, not a full sort",
    ),
    "q_agg_groupby": (
        # AQE hides codegen ids pre-execution; the two-phase shape
        # (partial agg -> Exchange -> final agg) is the invariant.
        [r"partial_sum", r"Exchange",
         r"PushedFilters: \[IsNotNull\(l_shipdate\), LessThanOrEqual"],
        [r"BatchEvalPython", r"ArrowEvalPython"],
        "flagship agg must be two-phase hash agg with pushdown, no Python",
    ),
    "q_dedup_exact": (
        [r"partial_min"],
        [r"Window"],
        "survivor choice must be a map-side-combinable min, not a window sort",
    ),
    "q_win_rownumber_topk": (
        [r"WindowGroupLimit"],
        [],
        "rank<=k filter must push into the shuffle (WindowGroupLimit)",
    ),
    "q_sim_cosine_topk": (
        [r"BroadcastNestedLoopJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"SortMergeJoin"],
        "query set must broadcast; candidates stream (never shuffle N)",
    ),
    "q_dedup_near_minhash": (
        [r"InMemoryTableScan"],
        [r"CartesianProduct"],
        "signature/shingle tables are materialized once; band join is an equi join",
    ),
    "q_stream_tumbling": (
        [],
        [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"],
        "windowed agg stays JVM-side",
    ),
    "q_text_tfidf": (
        # partial_count proves N is computed IN-PLAN (a broadcast
        # 1-row aggregate), not by a driver-side d.count() action.
        [r"BroadcastHashJoin|BroadcastExchange", r"partial_count"],
        [r"CartesianProduct"],
        "df/N sides of tf-idf are small -> broadcast into tf; N in-plan",
    ),
    "q_join_fuzzy_levenshtein": (
        [r"BroadcastHashJoin"],
        [r"CartesianProduct"],
        "distinct-name distance table must broadcast back to the rows",
    ),
    "q_merge_upsert": (
        [r"BroadcastHashJoin LeftAnti|SortMergeJoin LeftAnti"],
        [r"CartesianProduct"],
        "MERGE survivor side is one anti join on the key",
    ),
    "q_quality_checks": (
        [r"LeftAnti"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        "referential rules are anti joins; counts only, JVM-side",
    ),
    "q_agg_percentile": (
        [r"WindowGroupLimit|Window"],
        [r"BatchEvalPython", r"ArrowEvalPython"],
        "exact quantiles via ranked window + conditional agg, JVM-side",
    ),
    "q_join_bloom_prefilter": (
        # The bloom test must be a scalar-subquery predicate on the
        # orders side (below the semi join), not a post-join filter:
        # a crossJoin(bitmap) draft let Catalyst run the semi join
        # first, defeating the prefilter (see operator docstring).
        [r"BroadcastHashJoin LeftSemi", r"xxhash64", r"Subquery"],
        [r"SortMergeJoin", r"BroadcastNestedLoopJoin"],
        "bloom bitmap as scalar subquery filters the probe scan below the semi join",
    ),
    "q_text_vocab": (
        [r"TakeOrderedAndProject", r"partial_count"],
        [],
        "top-V via streaming top-k over a two-phase count agg; only V rows reach the id window",
    ),
    "q_agg_hll_sketch": (
        # Sketch aggs must be two-phase (partial sketch build map-side,
        # merge reduce-side) and the __ALL__ row must come from
        # hll_union_agg over sketches, not a raw re-scan.
        [r"partial_hll_sketch_agg", r"hll_union_agg"],
        [],
        "mergeable sketches: partial build + union-merge, no raw re-scan for the union row",
    ),
    "q_tpch_q3": (
        [r"BroadcastHashJoin LeftSemi",
         r"PushedFilters: \[IsNotNull\(l_shipdate\), GreaterThan"],
        [r"CartesianProduct"],
        "segment dim filter reaches orders as a broadcast semi join; both date predicates push to the scans",
    ),
    "q_agg_bitmap_distinct": (
        [r"partial_bit_or", r"Exchange"],
        [r"Window", r"expand"],
        "bitmap words are a two-phase mergeable bit_or agg - no expand-based distinct, no window",
    ),
    "q_win_sliding_distinct": (
        # The sliding COUNT(DISTINCT) must be the coverage rewrite:
        # an explode (Generate) into window-end days, never a per-day
        # window re-count.
        [r"explode\(sequence", r"partial_count"],
        [r"Window"],
        "sliding distinct = bounded coverage explode + hash agg, not a window frame",
    ),
    "q_text_span_dedup": (
        [r"xxhash64", r"partial_count"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        "spans are hashed before the shuffle; df agg is two-phase; all JVM-side",
    ),
    "q_text_line_dedup": (
        [r"xxhash64", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        "lines hashed to int64 before the shuffle; the hot-line mark join "
        "broadcasts on fixture-scale corpora via the r14 broadcast_below "
        "size switch (above LINE_HOT_BROADCAST_MAX_BYTES the hint drops "
        "and it plans shuffled - pinned in test_broadcast_switch); "
        "ordered re-assembly is one per-doc agg, all JVM-side (r13)",
    ),
    "q_dedup_embedding": (
        [r"BroadcastHashJoin", r"Join type: LeftAnti"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        "band-bucket candidates equi-join (never N^2); verify + removal "
        "anti-join broadcast on fixture-scale corpora via the r14 "
        "broadcast_below size switch (above EMB_BROADCAST_MAX_BYTES the "
        "hints drop and both plan shuffled - pinned in "
        "test_broadcast_switch)",
    ),
    "q_sample_fixed_k": (
        [r"WindowGroupLimit"],
        [],
        "rank<=k pushes into the shuffle as a group limit - only k rows per stratum survive the exchange",
    ),
    "q_tpch_q5": (
        [r"BroadcastHashJoin",
         r"PushedFilters: \[IsNotNull\(o_orderdate\), GreaterThanOrEqual"],
        [r"CartesianProduct"],
        "region/nation/supplier collapse to broadcasts; the date range pushes to the orders scan",
    ),
    "q_tpch_q10": (
        [r"TakeOrderedAndProject", r"BroadcastHashJoin",
         r"PushedFilters: \[IsNotNull\(l_returnflag\), EqualTo\(l_returnflag,R\)"],
        [r"CartesianProduct"],
        "returnflag pushes to the lineitem scan; dims broadcast AFTER the per-customer agg; top-20 streams",
    ),
    "q_tpch_q16": (
        [r"BroadcastHashJoin LeftAnti", r"partial_count\(distinct"],
        [r"CartesianProduct"],
        "supplier exclusion is a broadcast anti join; distinct supplier count is two-phase",
    ),
    "q_tpch_q18": (
        [r"TakeOrderedAndProject", r"partial_sum"],
        [r"CartesianProduct"],
        "the HAVING set is ONE two-phase lineitem agg reused for filter + sum_qty; top-100 streams",
    ),
    "q_tpch_q6": (
        # The pure-pushdown showcase: all three predicates reach the
        # parquet scan; no join, no wide exchange - a single-row
        # two-phase agg over the filtered scan.
        [r"PushedFilters: \[IsNotNull\(l_shipdate\)",
         r"partial_sum"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"CartesianProduct"],
        "Q6 is scan-bound: date/discount/quantity all push to the scan; no join anywhere in the plan",
    ),
    "q_tpch_q8": (
        # The market filter is a LeftSemi against the Europe customer
        # set - SortMergeJoin at dim-scale-unknown (the scale-correct
        # default; a broadcast hint would cap customer growth).
        [r"Join type: LeftSemi", r"BroadcastHashJoin",
         r"PushedFilters: \[IsNotNull\(o_orderdate\), GreaterThanOrEqual"],
        [r"CartesianProduct"],
        "market = semi-join against Europe customers; part/supplier dims broadcast; date range pushes to the orders scan",
    ),
    "q_tpch_q19": (
        # Catalyst pushes the full quantity Or-tree to the lineitem
        # scan and the brand/size Or-tree to the part scan; the mixed
        # residual rides the broadcast join condition.
        [r"Or\(Or\(And\(GreaterThanOrEqual\(l_quantity",
         r"BroadcastHashJoin"],
        [r"CartesianProduct"],
        "both sides of the OR disjunction push to their scans; the cross-table residual rides the broadcast join",
    ),
    "q_tpch_q21": (
        # The decorrelated EXISTS/NOT-EXISTS pair: the two distinct-
        # supplier counts run as ONE Expand-based multi-distinct agg
        # over the orderkey shuffle, never correlated per-row probes.
        [r"Expand", r"TakeOrderedAndProject"],
        [r"CartesianProduct"],
        "waiting-supplier detection is one Expand multi-distinct agg + rejoin, not correlated self-join probes; top-20 streams",
    ),
    "q_tpch_q22": (
        [r"BroadcastHashJoin LeftAnti",
         r"PushedFilters: \[IsNotNull\(o_orderdate\), GreaterThanOrEqual"],
        [r"CartesianProduct"],
        "dormancy anti-join broadcasts the date-pruned order keys; threshold is a 1-row broadcast nested loop",
    ),
    "q_basket_rules": (
        # Pair enumeration must be an equi self-join on the basket
        # key with two-phase counting; the only nested-loop is the
        # broadcast-tiny 1-row totals stitch.
        [r"partial_count", r"BroadcastHashJoin"],
        [r"CartesianProduct"],
        "pairs come from the basket-key equi self-join; item totals broadcast; never cross-order pairing",
    ),
    "q_agg_moments": (
        [r"partial_sum", r"partial_count"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"Window"],
        "power sums are ONE two-phase hash agg; moment expansion is projection math, no window, no Python",
    ),
    "q_lake_changelog_apply": (
        # Latest-wins must be the agg-native arg-max (map-side
        # combinable), not a sort + row_number window.
        [r"partial_max_by"],
        [r"Window", r"CartesianProduct"],
        "changelog replay is one two-phase max_by aggregate (sort-based on the string key) - no sort+window formulation",
    ),
    "q_events_survival_km": (
        [r"partial_min", r"Window"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        "per-user anchors are min/max aggs; KM windows run on the bounded per-day frame; horizon is a broadcast",
    ),
    "q_curation_funnel": (
        [r"BroadcastHashJoin LeftOuter", r"Window", r"partial_count"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        "funnel stages fuse: footer dict broadcasts, dedup survivor is a min-over-hash window, one final agg",
    ),
    "q_graph_triangles": (
        # wedge join + closing-edge join are equi joins on the oriented
        # edge list; the only non-equi join is the 1x1 count stitch.
        [r"partial_count"],
        [r"CartesianProduct"],
        "triangle join is equi on oriented edges (degree-ordered); never a cartesian wedge scan",
    ),
    "q_graph_pagerank": (
        [r"TakeOrderedAndProject", r"partial_sum", r"Exchange"],
        [r"CartesianProduct"],
        "each superstep is one shuffled join+agg; contributions partially aggregate map-side; top-20 streams",
    ),
    "q_join_interval_overlap": (
        [r"explode\(sequence", r"BroadcastHashJoin"],
        [r"CartesianProduct"],
        "interval overlap decomposes to covered-bucket explode + broadcast equi join, not a theta nested loop",
    ),
    "q_events_stickiness": (
        [r"explode\(sequence", r"partial_count"],
        [r"CartesianProduct", r"Window"],
        "rolling WAU is the coverage explode of the tiny (user, day) dedup, not a window re-count",
    ),
    "q_win_cum_share": (
        [r"Window", r"BroadcastHashJoin", r"partial_sum"],
        [r"CartesianProduct"],
        "window sorts run on the tiny segment x day rollup; customer dim broadcasts",
    ),
    "q_feature_scale": (
        [r"Generate", r"partial_avg", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        "per-dim stats via posexplode two-phase agg; 64-row stats broadcast back; JVM-side",
    ),
    "q_events_anomaly_chunked": (
        # The carry map must broadcast; the window partitions on
        # (type, bucket) - the whole point is bounded sort tasks.
        [r"BroadcastHashJoin", r"Window", r"Union"],
        [r"CartesianProduct"],
        "overlap carry-in joins via broadcast; frames run per (type, bucket)",
    ),
    # --- r6 additions (VERDICT r5 #7): the r5c operator wave ---
    "q_curation_funnel": (
        # strip -> dedup -> gate fuse as two broadcast LEFT joins; the
        # only Exchanges are the doc_id spread, the window sort, and
        # the final rollup - no stage-boundary materialization.
        [r"(?s)BroadcastHashJoin LeftOuter.*BroadcastHashJoin LeftOuter"],
        [r"SortMergeJoin", r"CartesianProduct"],
        "funnel stages fuse via broadcast left joins, no shuffle between stages",
    ),
    "q_text_boilerplate_strip": (
        # The suffix-frequency shuffle must move (suffix, count)
        # partial rows ONLY - corpus text stays on the map side.
        [r"hashpartitioning\(suffix#"],
        [r"Input \[\d+\]: \[[^\]]*text#[^\]]*\]\n"
         r"Arguments: hashpartitioning\(suffix#"],
        "corpus text must not ride the suffix-aggregation shuffle",
    ),
    "q_mix_weighted": (
        # Quota is DATA-DERIVED (capacity solve), so the
        # WindowGroupLimit rewrite CANNOT fire (needs a literal k -
        # documented in the operator docstring); the invariants are
        # the per-language window + broadcast quota map, no
        # shuffle join anywhere.
        [r"Window", r"BroadcastHashJoin"],
        [r"SortMergeJoin", r"CartesianProduct"],
        "per-language hash-rank window; data-derived quota broadcasts back",
    ),
    # --- r6 operator-wave rules ---
    "q_agg_countmin": (
        # Sketch build must be two-phase (map-side cell partials);
        # the probe side must broadcast, never shuffle the sketch.
        [r"partial_count", r"Exchange", r"BroadcastHashJoin"],
        [r"SortMergeJoin", r"CartesianProduct"],
        "CMS cells partial-agg map-side; 20-row probe set broadcasts",
    ),
    "q_agg_corr_matrix": (
        # All 15 sums in ONE scan's aggregate; the 6 pair rows are an
        # explode (Generate) of an array-of-structs projection on the
        # single aggregate row - the r7 rewrite after the r6 audit
        # caught the union-of-selects re-running the full scan 6x.
        [r"partial_sum", r"Generate"],
        [r"Window", r"SortMergeJoin", r"CartesianProduct", r"Union"],
        "ONE full-scan agg computes every sum; pair rows explode from the 1-row frame",
    ),
    "q_events_growth_accounting": (
        [r"partial_", r"Window"],
        [r"SortMergeJoin", r"CartesianProduct"],
        "dedup + per-user lag over the bounded day frame, conditional agg",
    ),
    "q_sim_kmeans_lloyd": (
        # Centroids broadcast into a nested-loop cross (k rows);
        # assignment must stay an aggregate, not a window sort.
        [r"BroadcastNestedLoopJoin", r"partial_min"],
        [r"CartesianProduct", r"SortMergeJoin"],
        "k x 64 centroids broadcast; assignment is a map-side min-struct agg",
    ),
    "q_sim_knn_graph": (
        # r10 tiled form: candidates come from per-bucket GEMM tiles
        # (ONE FlatMapGroupsInPandas surface; chunk spines ride
        # broadcasts; pair rows never materialize as a join), the
        # survivor dedup is a keys-only agg, and the JVM rescore's
        # top-k still prunes inside the shuffle.
        [r"FlatMapGroupsInPandas", r"BroadcastHashJoin",
         r"Keys \[2\]: \[src#\d+L?, dst#\d+L?\]\nFunctions: \[\]",
         r"WindowGroupLimit"],
        [r"CartesianProduct"],
        "per-bucket GEMM tiles, keys-only pair dedup, in-shuffle top-k",
    ),
    # --- r6 statistical-inference wave ---
    "q_stats_ks_test": (
        # Fact join collapses to one row per DISTINCT price in a
        # two-phase agg BEFORE the single ordered ECDF pass; the
        # sample-size normalizer is a broadcast 1-row stitch.
        [r"partial_sum", r"Window", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        "KS: distinct-value two-phase agg, then ONE ordered pass; n_a/n_b broadcast",
    ),
    "q_stats_ols_trend": (
        # Power sums are combinable aggregates over the bounded
        # daily rollup; estimator is projection math - no second
        # scan, no Python.
        [r"partial_sum", r"Window"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        "OLS: daily rollup -> five combinable power sums -> projection arithmetic",
    ),
    "q_stats_cusum": (
        # The CUSUM recursion must appear as stacked windows
        # (running sum + running min) on the daily frame, with the
        # per-type mean broadcast back - never a Python loop.
        [r"Window", r"partial_count", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        "CUSUM = cumsum - running min as stacked windows; mean broadcasts; no UDF",
    ),
    "q_stats_did": (
        # One two-phase agg to the 4 design cells; the pivot is a
        # conditional aggregate on the 4-row frame - windowless.
        [r"partial_sum", r"partial_count"],
        [r"Window", r"CartesianProduct", r"BatchEvalPython"],
        "DiD: one two-phase agg to 4 cells, conditional-agg pivot, no window",
    ),
    "q_mix_temperature": (
        # |langs|-row availability agg; the 1-row normalizer rides a
        # broadcast nested-loop stitch back.
        [r"partial_count", r"BroadcastNestedLoopJoin"],
        [r"SortMergeJoin", r"CartesianProduct"],
        "temperature mix: count agg + broadcast 1-row normalizer, projection math",
    ),
    "q_sample_weighted": (
        # The GLOBAL rank<=k collapses to a streaming top-k: every
        # partition keeps only k rows (TakeOrderedAndProject), no
        # full sort, no all-rows exchange (stronger than
        # q_sample_fixed_k's per-stratum WindowGroupLimit).
        [r"TakeOrderedAndProject"],
        [r"BatchEvalPython", r"ArrowEvalPython"],
        "PPS sample: priority is map-side; global rank<=k runs as streaming top-k",
    ),
    "q_stats_chi2": (
        # Observed table is ONE two-phase agg; row/col/grand totals
        # broadcast back; statistic is a bounded-frame sum.
        [r"partial_count", r"BroadcastHashJoin"],
        [r"Window", r"SortMergeJoin", r"CartesianProduct",
         r"BatchEvalPython"],
        "chi2: one two-phase agg to the contingency table; totals broadcast; no window",
    ),
    "q_stats_theil_sen": (
        # The pair join is EQUI on event_type (x< rides as the join
        # filter) over the bounded daily frame - one side broadcasts,
        # never the raw fact table, never a nested loop.
        [r"partial_sum", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"BatchEvalPython", r"ArrowEvalPython"],
        "Theil-Sen: pair join equi on type over the daily rollup, one side broadcast",
    ),
    "q_graph_jaccard_neighbors": (
        # Candidates come from the equi self-join on the shared
        # customer; degree tables broadcast; top-20 streams.
        [r"partial_count", r"TakeOrderedAndProject", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BatchEvalPython"],
        "neighbor Jaccard: inverted-index equi self-join on ck; degrees broadcast; top-k streams",
    ),
    "q_stream_window_topk": (
        # rank<=3 per window must prune inside the shuffle.
        [r"partial_count", r"WindowGroupLimit"],
        [r"CartesianProduct", r"BatchEvalPython"],
        "window top-k: two-phase count agg, rank<=k as in-shuffle group limit",
    ),
    "q_stats_mannwhitney": (
        # Same contract as KS: distinct-value two-phase agg before
        # the single ordered rank pass.
        [r"partial_sum", r"Window"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        "rank-sum: distinct-value agg, ONE ordered pass for tie-averaged ranks",
    ),
    "q_stats_autocorr": (
        # Each lag is an equi join of the bounded daily frame against
        # the 3-row lag spine - broadcast, never a cartesian lattice.
        [r"partial_sum", r"BroadcastHashJoin", r"BroadcastNestedLoopJoin"],
        [r"CartesianProduct", r"BatchEvalPython"],
        "ACF: daily frame x 3-row lag spine, calendar equi self-join, broadcast",
    ),
    "q_stats_changepoint": (
        # Prefix sums price every split in one window pass; the
        # integer 1e-4 aggregation keeps the argmax join exact.
        [r"partial_sum", r"Window"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        "changepoint: O(n) prefix-sum pricing per type; exact integer revenue units",
    ),
    "q_sim_silhouette": (
        # k-row centroid table broadcasts into a nested-loop cross
        # against streamed vectors - NEVER a pairwise vector join;
        # centroids come from the posexplode two-phase agg.
        [r"BroadcastNestedLoopJoin", r"Generate", r"partial_avg"],
        [r"CartesianProduct", r"SortMergeJoin", r"BatchEvalPython"],
        "silhouette: posexplode centroid agg + k-row broadcast cross; no pairwise",
    ),
    "q_stats_benford": (
        # Digit projection is map-side; 9-row count agg two-phase;
        # the grand total rides a broadcast stitch.
        [r"partial_count", r"BroadcastNestedLoopJoin"],
        [r"Window", r"SortMergeJoin", r"CartesianProduct",
         r"BatchEvalPython"],
        "Benford: map-side digit + 9-row two-phase agg + broadcast total",
    ),
    "q_stats_seasonal_decompose": (
        # Trend is ONE centered window on the bounded daily frame;
        # seasonal/variance joins broadcast.
        [r"partial_sum", r"Window", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        "decompose: exact-integer rollup -> centered window trend -> broadcast joins",
    ),
    "q_win_drawdown": (
        # Stacked running-sum/running-max windows on the daily frame;
        # integer-exact argmax join.
        [r"partial_sum", r"Window", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        "drawdown: stacked windows over integer units; exact argmax equality",
    ),
    "q_win_rolling_corr": (
        # Both series pivot out of ONE conditional-sum rollup - the
        # plan must contain NO join at all.
        [r"partial_sum", r"Window"],
        [r"Join", r"CartesianProduct", r"BatchEvalPython"],
        "rolling corr: one conditional rollup, bounded window, joinless",
    ),
    "q_lake_bloom_index": (
        # Signature build is a map-side-combinable bit_or agg; probe
        # set broadcasts.
        [r"partial_bit_or", r"BroadcastNestedLoopJoin"],
        [r"CartesianProduct", r"BatchEvalPython"],
        "bloom index: two-phase bit_or signature; broadcast probes",
    ),
    # --- r6 closing wave (batches 7-11) ---
    "q_text_collocations": (
        # Bigrams come from a window LEAD on (doc, pos) - codegen,
        # never a corpus-wide higher-order function; top-k streams.
        [r"Window", r"TakeOrderedAndProject", r"partial_count"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython"],
        "collocations: posexplode + LEAD bigrams (no corpus HOF); top-k streams",
    ),
    "q_part_price_elasticity": (
        # Part dim broadcasts into the fact scan; power sums are one
        # combinable agg.
        [r"BroadcastHashJoin", r"partial_sum"],
        [r"SortMergeJoin", r"CartesianProduct", r"BatchEvalPython"],
        "elasticity: broadcast fact-dim join; five combinable power sums",
    ),
    "q_orders_backlog": (
        # Completion is a per-order max agg; the sweep is one ordered
        # cumsum window over the daily rollup.
        [r"partial_max", r"Window", r"partial_sum"],
        [r"CartesianProduct", r"BatchEvalPython"],
        "backlog: per-order max-agg completion; single ordered cumsum sweep",
    ),
    "q_events_velocity_flags": (
        # The frame must be a RANGE (time-interval) specification -
        # the whole point of the operator.
        [r"specifiedwindowframe\(RangeFrame", r"partial_count"],
        [r"CartesianProduct", r"BatchEvalPython"],
        "velocity: RANGE time-interval frame on the user partition",
    ),
    "q_supplier_hhi": (
        # Supplier dim broadcasts; share math on the bounded frame.
        [r"BroadcastHashJoin", r"partial_sum"],
        [r"SortMergeJoin", r"CartesianProduct", r"BatchEvalPython"],
        "HHI: broadcast dim join; integer-cent two-phase agg; bounded share math",
    ),
    "q_events_ab_cuped": (
        # Theta is a 1-row agg broadcast back to the per-user frame.
        [r"partial_sum", r"BroadcastNestedLoopJoin"],
        [r"SortMergeJoin", r"CartesianProduct", r"BatchEvalPython"],
        "CUPED: per-user cent agg; 1-row theta broadcast; 2-row rollup",
    ),
    "q_agg_weighted_percentile": (
        # Distinct-(flag,value) weight agg before the ordered pass;
        # selector is a conditional min - no Python, no join.
        [r"partial_sum", r"Window"],
        [r"Join", r"CartesianProduct", r"BatchEvalPython"],
        "weighted percentile: distinct-value weight agg + ordered pass, joinless",
    ),
    "udf_sql_table": (
        # The table-function body must inline: plain broadcast join +
        # agg, no Python eval anywhere.
        [r"BroadcastHashJoin", r"partial_count"],
        [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"],
        "SQL table fn inlines to the hand-written join+agg plan",
    ),
    "q_graph_reach_2hop": (
        # Each hop is a distinct equi-join expansion; counts are
        # 1-row stitches.
        [r"partial_count", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BatchEvalPython"],
        "reachability: fixed chain of distinct equi-join hops; frontier only",
    ),
    "q_stats_power_analysis": (
        [r"partial_sum"],
        [r"Window", r"CartesianProduct", r"BatchEvalPython"],
        "power analysis: per-user cent agg -> 1-row moment agg -> projection",
    ),
    # --- r6 continuation wave (model-eval / PQ / signal ops) ---
    "q_stats_calibration": (
        # fact->user and user->bin are both two-phase hash aggs; the
        # 1-row (n_total, gap_sum) frame rides back as a broadcast.
        [r"partial_sum", r"BroadcastNestedLoopJoin"],
        [r"Window", r"CartesianProduct", r"BatchEvalPython"],
        "calibration: two-phase aggs + 1-row broadcast, no window/Python",
    ),
    "q_sim_pq_adc": (
        # r11: the corpus encode is ONE MapInPandas GEMM pass (the
        # x256 argmin expansion never becomes rows); the query LUT is
        # BROADCAST onto the code stream and the per-query top-k
        # prunes inside the shuffle via WindowGroupLimit.
        [r"MapInPandas", r"BroadcastHashJoin", r"WindowGroupLimit"],
        [r"CartesianProduct", r"BatchEvalPython", r"SortMergeJoin"],
        "PQ-ADC: GEMM encode pass + broadcast LUT probe, in-shuffle top-k",
    ),
    "q_win_peak_detect": (
        # ONE fact scan -> daily rollup -> per-series window; the
        # peak predicate is projection arithmetic after the frames.
        [r"partial_sum", r"Window"],
        [r"CartesianProduct", r"BatchEvalPython", r"BroadcastHashJoin"],
        "peak detect: single rollup + per-series window, pure integer",
    ),
    "q_text_keyphrase_rake": (
        # word stats broadcast back onto instances; the final top-k
        # is the streaming TakeOrderedAndProject, never a full sort.
        [r"TakeOrderedAndProject", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BatchEvalPython"],
        "RAKE: broadcast word-stat probes + streaming top-k, JVM-side",
    ),
    "q_text_bm25": (
        # query-pruned tf frame + broadcast df/corpus stats; top-k is
        # the streaming operator.
        [r"TakeOrderedAndProject", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BatchEvalPython", r"Window"],
        "BM25: inverted-index probe, broadcast stats, streaming top-k",
    ),
    "q_lake_deletion_vectors": (
        # the DV applies as a BROADCAST anti-join; the scan+rollup
        # must not degrade to a shuffled join.
        [r"BroadcastHashJoin.*LeftAnti|LeftAnti.*BroadcastHashJoin",
         r"partial_sum"],
        [r"SortMergeJoin", r"CartesianProduct", r"BatchEvalPython"],
        "deletion vectors: broadcast anti-probe + two-phase rollup",
    ),
    "q_lake_incremental_agg": (
        # base/delta partial aggs merge through a union re-agg - no
        # window, no join; three hash aggregation layers.
        [r"Union", r"partial_sum"],
        [r"Window", r"SortMergeJoin", r"BatchEvalPython"],
        "IVM merge: union of partial aggs re-aggregated, join-free",
    ),
    "q_graph_louvain_round": (
        # per-node argmax prunes in-shuffle; label/total dims ride
        # broadcasts; the edge self-join never degenerates.
        [r"WindowGroupLimit", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BatchEvalPython"],
        "louvain round: broadcast dims + in-shuffle argmax",
    ),
    "q_sim_threshold_pairs": (
        # r10 GEMM filter-and-refine: block-pair spine and the two
        # block shipments ride broadcasts, ONE applyInPandas surface
        # computes the tiles, and the refine joins hash - never a
        # cartesian pair expansion or a sort-merge of vector payloads.
        [r"FlatMapGroupsInPandas", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"SortMergeJoin", r"BatchEvalPython"],
        "threshold pairs: broadcast block spine + one GEMM tile surface",
    ),
}

# Operators whose PURPOSE is Python evaluation; everything else must
# stay JVM-side.
UDF_KEYS = {
    "udf_python_scalar", "udf_pandas_scalar", "udf_grouped_map",
    "udf_pandas_agg", "udtf_python", "q_multimodal_decode",
    "q_multimodal_decode_real", "q_multimodal_resize",
    "q_multimodal_audio_features", "q_multimodal_framesample",
    "s_stateful_running", "q_pack_bestfit", "q_multimodal_phash",
    "q_multimodal_phash_dedup",  # same mapInPandas decode surface
    "q_text_compression_ratio",  # declared pandas-UDF zlib surface
    "q_sim_mmr",
    "q_multimodal_audio_vad",  # same mapInPandas codec surface (r6)
    "q_multimodal_image_stats",  # same mapInPandas codec surface (r6 close)
    "udtf_table_arg",  # Spark 4 TABLE-arg UDTF - Python by definition
    # r6 additions whose CONTRACT is per-series iterative Python
    # (applyInPandas over bounded per-group frames; rows-only keys) -
    # added r7 when the audit first ran over them:
    "q_events_holt_winters",  # per-series triple-smoothing recursion
    "q_events_markov_attribution",  # per-graph absorption solve
    "q_text_bpe_merges",  # iterative merge loop over the vocab sample
    "src_avro",  # mapInPandas pure-stdlib avro decode surface (r9)
    "src_avro_split",  # same surface, block-parallel split read (r9)
    # r10: exact all-pairs cosine rescored as blocked float64 GEMM
    # tiles (applyInPandas filter-and-refine; the refine fold and the
    # emitted values stay JVM-side and bit-identical to the oracle).
    "q_sim_threshold_pairs",
    # r10: kNN-graph candidates from per-bucket GEMM tiles (same
    # surface; pair rows never materialize, survivors re-scored by
    # the JVM fold - output verified identical to the pair-join form).
    "q_sim_knn_graph",
    # r11: the PQ corpus encode is a mapInPandas GEMM argmin pass
    # (exact-int64-in-float64, no margin needed - see the operator
    # docstring); the N*SUBS*K expansion never becomes rows and the
    # oracle hash is unchanged at both SFs.
    "q_sim_pq_adc",
    # r13: the BPE encode walks the learned merges over the DISTINCT
    # VOCABULARY in one mapInPandas pass (bounded: distinct words,
    # not word instances); all instance-side counting stays JVM.
    "q_text_bpe_encode",
}

SIDE_EFFECT = {"src_csv", "src_json", "src_orc", "src_binaryfile", "src_text",
               "sink_parquet_partitioned",
               "sink_overwrite_dynamic", "s_foreach_sink",
               "q_compact_small_files", "sink_zorder_cluster",
               "q_schema_evolution",
               # Write the lake layout they then scan; plan-audited
               # via RULES only.
               "q_scan_partition_pruned", "q_scan_dpp", "q_join_bucketed"}

PY_EVAL_RX = re.compile(
    r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas"
)

# ---------------------------------------------------------------------------
# Global rule #2 (r7, VERDICT r6 #1): no GLOBAL-ORDER WINDOW on an
# unbounded frame. ``Window.orderBy(...)`` with an empty partition
# spec plans as ``Exchange SinglePartition -> Sort -> Window`` - one
# task sorts the whole frame, the single plan shape that cannot scale
# out. SinglePartition is fine when it merges 1-row aggregate
# partials or feeds a Limit; it is a scale defect when a Sort+Window
# sits on top of it over a fact-derived frame. Operators that
# legitimately window a BOUNDED spine (daily rollups, decile frames,
# |event-types| matrices) declare themselves below with the bound.

#: key -> why its global-order window is bounded (the exemption is
#: per-operator and reviewed, never blanket). Frames here grow with
#: the TIME HORIZON or a FIXED constant, not with data volume - at
#: 100 TB they are still a few hundred / thousand rows. Windows whose
#: output feeds a BroadcastExchange are auto-exempt structurally
#: (broadcast-small by construction, see global_window_violations).
BOUNDED_GLOBAL_WINDOW: dict[str, str] = {
    "q_agg_hll_cumulative": "cumulative HLL union over the event-DAY spine (|days| rows)",
    "q_events_conversion_lag": "cumulative share over the lag-DAY histogram (|lag days| rows)",
    "q_events_survival_km": "KM product-limit over the duration-DAY frame (|horizon days| rows)",
    "q_orders_backlog": "running open-minus-closed over the daily spine",
    "q_pack_sequences": "deliberately-global greedy pack (the operator's contract); q_pack_sequences_sharded is the declared scale path",
    "q_privacy_dp_noise": "noise seeding over the |event types| frame (5 rows)",
    "q_seq_len_buckets": "cumulative share over the |length buckets| frame",
    "q_stats_bootstrap_ci": "percentile pick over the |bootstrap replicates| frame (fixed B)",
    "q_stats_fdr_bh": "BH step-up over the |hypotheses| frame (|event types|)",
    "q_stats_jsd": "pairwise divergence over the |event types|^2 matrix",
    "q_stats_psi": "PSI terms over the |bands| frame",
    "q_stats_lift_gains": "cumulative gains over the 10-row decile frame (the rank itself is the bucketed two-pass helper)",
    "q_stats_periodogram": "DFT terms over the daily spine",
    "q_stats_runs_test": "median split + run flips over the daily spine",
    "q_stats_hurst": "R/S cumulative over the daily spine",
    "q_stats_cooks_distance": "leverage/residual terms over the daily spine",
    "q_win_bollinger": "rolling bands over the daily spine",
    "q_win_rolling_corr": "rolling correlation over the daily spine",
    "q_win_spc_xbar_r": "control limits over the |subgroups| frame",
    "q_win_ulcer_index": "drawdown over the daily spine",
    "q_lake_zonemap_prune": "row_number only SIMULATES the sorted file layout so the oracle can check zone stats; a real writer range-partitions via DataFrame.orderBy",
    "q_stats_spearman_matrix": "quantity/discount/tax rank frames are SPEC-BOUNDED value domains (<=50/11/9 distinct, TPC-H column definitions); extendedprice uses the bucketed distributed cumsum",
}

# ---------------------------------------------------------------------------
# Global rule #4: jobs a builder runs while it BUILDS are audited like
# the plan it returns. Each builder call runs under the job group
# ``build:<key>`` (the tag perfbench uses); afterwards the audit reads
# the group's new jobs from ``statusTracker`` and, for every SQL
# execution that owns one, Spark's action name (the first frame of
# ``details()``: ``Dataset.count``, ``Dataset.localCheckpoint``,
# ``DataFrameWriter.parquet``) and its formatted final plan from the
# SQL status store. That covers every action, write and checkpoint,
# including a lazy ``localCheckpoint`` whose shuffle stages AQE runs
# at the call. A job that no SQL execution owns (an RDD action, a
# file-source schema read) has no plan; it is named after its result
# stage (``job:parquet``). Every captured plan must pass rules #1-#3,
# and every build-time job must come from a key declared for its kind:
#
# - writes (``DataFrameWriter*``): ``WRITES_AT_BUILD`` or ``SIDE_EFFECT``;
# - checkpoints (``Dataset.localCheckpoint``/``checkpoint``):
#   ``MATERIALIZES_AT_BUILD``;
# - every other action, and every plan-less job:
#   ``BOUNDED_DRIVER_ACTIONS``, with why its count and collected volume
#   are bounded (fixpoint loops capped by constants, 1-row or
#   ``limit``ed collects).
#
# An entry whose kind is never observed fails as stale. Streaming keys
# (``s_*``) run availableNow queries through their own writeStream
# machinery and stay out of the audit loop; their correctness surface
# is the streaming-equivalence tests.

#: key -> why its build-time driver actions are bounded.
BOUNDED_DRIVER_ACTIONS: dict[str, str] = {
    "q_graph_kcore":
        "1-row K-pick collect (the pick subtree is the bucketed "
        "distributed rank over the degree HISTOGRAM, r8) + <= "
        "KCORE_MAX_ROUNDS + 1 1-value convergence counts over the "
        "checkpointed |nodes|-row degree frames (r11 one-job rounds)",
    "q_graph_bfs_levels":
        "<= BFS_MAX_DEPTH 1-value frontier-drained counts (the "
        "documented fixpoint-loop exception; frontier frames stay "
        "distributed)",
    "q_dedup_groups":
        "CC supersteps: <= CC_MAX_ROUNDS + 1 1-value decimal "
        "label-sum collects, each materializing that round's lazy "
        "checkpoint in the same job (r12 one-job rounds; monotone "
        "labels make sum a exact fixpoint signature; label frames "
        "stay distributed)",
    "q_dedup_eval":
        "exactly 3 scalar counts (detected/truth/hits) over the two "
        "pair frames it localCheckpoints (MATERIALIZES_AT_BUILD) - "
        "the operator's output IS these three numbers",
    "q_lake_wap_publish":
        "3-row audit-gate collect (the write-audit-publish decision "
        "is driver-side by contract)",
    "q_lake_clone_shallow":
        "4 scalar verification counts over the cloned vs source "
        "manifests (the operator's output is the equality report)",
    "q_schema_evolution":
        "one mergeSchema parquet schema-inference job over the two "
        "written batch layouts (no SQL execution; one footer per "
        "file, metadata-scale)",
    "q_sql_script":
        "the SQL script runs its statements at build: one SET "
        "VARIABLE and the final GROUP BY, whose |o_orderpriority|-row "
        "(5) result the script returns",
    "src_json":
        "one JSON schema-inference scan of the fixture the key has "
        "just written (no SQL execution) - a fixture-sized ingest demo; "
        "production ingest passes an explicit schema",
    "src_csv_malformed":
        "bounded ingest fixture: 150-row export collect to write "
        "the malformed CSV + permissive/dropmalformed scalar counts "
        "+ 1-row stats collect - fixture-sized by construction",
    "src_avro":
        "one manifest collect (one 3-column row per partition, 4 "
        "rows) materializing the executor-side container writes - "
        "the containers themselves are written inside mapInPandas "
        "workers, bytes never visit the driver",
    "src_avro_split":
        "one 1-row manifest collect materializing the single-"
        "container write; split planning reads header + per-block "
        "varints only (plain file IO, not a Spark action)",
    "q_sim_pq_adc":
        "one Arrow toPandas of the training sample, capped at "
        "PQ_TRAIN_CAP*PQ_SUBS rows (~4 MB) at ANY corpus size - "
        "driver-side Lloyd fit on the bounded sample (r11); the "
        "corpus encode and ADC probe stay distributed",
    "sink_zorder_cluster":
        "one n_files-row murmur3-residue probe collect mapping each "
        "file bin to its own shuffle partition (metadata-scale, "
        "independent of data volume)",
    "q_sim_knn_graph":
        "one 1-row head() reading the embedding dim to assert the "
        "BANDS*BITS <= dim banding invariant at plan-construction "
        "time (ADVICE r12 - element_at past the array end would "
        "silently zero band bits)",
    "q_text_bpe_encode":
        "one <= BPE_MERGES (8)-row collect of the learned merge "
        "table - a model artifact like the PQ codebook, not a data "
        "collect; vocab encode and all counting stay distributed",
}

#: keys whose builders legitimately WRITE at build time (scratch
#: parquet layouts the returned frame then reads: lake-format
#: simulations, layout demos, ingest fixtures). Distinct from
#: SIDE_EFFECT (keys the returned-plan rules skip); membership here
#: only authorizes the write - the written frame's plan is still
#: checked against rules #1-#3. A write from any other key fails the
#: audit as a hidden side effect.
WRITES_AT_BUILD: set[str] = {
    "q_lake_wap_publish",    # staging write + audited publish copy
    "q_lake_clone_shallow",  # source layout + manifest-clone write
    "q_lake_mixed_layout",   # two-batch mixed-layout scratch table
    "q_lake_orphan_files",   # referenced + orphan scratch files
    "sink_jsonl_export",     # the export IS the operator's contract
    "src_xml",               # writes the XML fixture it then parses
}

#: keys whose builders checkpoint at build time: an eager checkpoint,
#: or a lazy one whose shuffle stages AQE runs at the call. The
#: checkpointed frame's plan is checked against rules #1-#3; a
#: checkpoint from any other key fails the audit.
MATERIALIZES_AT_BUILD: set[str] = {
    "q_agg_gini", "q_agg_lorenz_curve", "q_agg_quantile_bands",
    "q_dedup_eval", "q_dedup_groups", "q_docs_length_outliers",
    "q_embeddings_pca_power", "q_events_concurrent_peak",
    "q_events_markov_stationary", "q_events_retention_fit",
    "q_events_rfm", "q_events_session_duration_pctl",
    "q_graph_assortativity", "q_graph_bfs_levels",
    "q_graph_centralization", "q_graph_hits", "q_graph_jaccard_neighbors",
    "q_graph_kcore", "q_graph_label_prop", "q_graph_louvain_round",
    "q_graph_modularity", "q_graph_pagerank", "q_graph_reach_2hop",
    "q_graph_triangles", "q_orders_priority_sla", "q_sim_cluster_nmi",
    "q_sim_dim_truncation", "q_sim_ndcg", "q_sim_pq_adc",
    "q_sim_rank_fusion", "q_sim_recall_eval", "q_stats_dkw_band",
    "q_stats_hill_tail", "q_stats_kruskal_wallis", "q_stats_ks_test",
    "q_stats_ks_uniformity", "q_stats_lift_gains", "q_stats_mad",
    "q_stats_mannwhitney", "q_stats_qq_plot", "q_stats_sketch_error",
    "q_stats_spearman", "q_stats_spearman_matrix", "q_stats_trimmed_mean",
    "q_stats_weibull_fit", "q_stats_winsorized", "q_text_heaps_law",
    "q_text_vocab_coverage", "q_win_ntile", "q_win_percent_rank_cume",
    "q_win_skyline_2d",
}


class BuildAction(NamedTuple):
    """One piece of build-time work: a SQL execution, or a job that no
    SQL execution owns (``plan`` is then empty)."""

    action: str  # "Dataset.count", "DataFrameWriter.parquet", "job:parquet"
    jobs: int
    plan: str


def capture_build(spark, key: str, build):
    """Run ``build()`` under job group ``build:<key>``; return its
    result and the ``BuildAction`` list of the jobs it ran.

    Read per build, not once at the end: the status stores keep only
    the last 1000 jobs and SQL executions."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = spark._jsparkSession.sharedState().statusStore()
    group = f"build:{key}"
    seen = set(tracker.getJobIdsForGroup(group))
    last = _newest_execution_id(store)
    sc.setJobGroup(group, key)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(tracker.getJobIdsForGroup(group)) - seen
    work = []
    for eid in range(last + 1, _newest_execution_id(store) + 1):
        e = store.execution(eid)
        if not e.isDefined():
            continue
        e = e.get()
        ids = e.jobs().keys().mkString(",")
        owned = jobs & {int(j) for j in ids.split(",") if j}
        if owned:
            jobs -= owned
            work.append(BuildAction(_action_name(e.details()), len(owned),
                                    e.physicalPlanDescription()))
    for j in sorted(jobs):
        # Name a plan-less job after its result stage ("parquet at ...").
        stage = tracker.getStageInfo(max(tracker.getJobInfo(j).stageIds))
        work.append(BuildAction(f"job:{stage.name.split()[0]}", 1, ""))
    return out, work


def _newest_execution_id(store) -> int:
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def _action_name(details: str) -> str:
    """First frame of an execution's ``details()`` -> action name:
    ``...classic.Dataset.$anonfun$collectAsArrowToPython$1(...)`` ->
    ``Dataset.collectAsArrowToPython``."""
    cls, meth = details.split("(", 1)[0].rsplit(".", 2)[-2:]
    return f"{cls}.{meth.removeprefix('$anonfun$').split('$')[0]}"


def _kind(action: str) -> str:
    cls, _, meth = action.partition(".")
    if cls.startswith("DataFrameWriter"):
        return "write"
    if meth in ("localCheckpoint", "checkpoint"):
        return "checkpoint"
    return "action"


_TREE_NODE_RX = re.compile(
    r"^(\s*(?:[+:][- ]\s*)*)\*?\s*([A-Za-z][\w]*)[^(]*\((\d+)\)"
)


def global_window_violations(plan: str) -> list[str]:
    """Find Exchange-SinglePartition nodes that feed a Sort -> Window
    chain in a formatted explain string. Returns one message per hit.

    Works on the operator-tree header: builds (depth, opname, id)
    rows, finds SinglePartition exchange ids from the detail
    sections, then walks each one's ancestor chain upward - skipping
    Sort / WindowGroupLimit / Project and the ShuffleQueryStage /
    AQEShuffleRead nodes of an executed adaptive plan - and reports if
    the first structural ancestor is a Window."""
    single_ids = set(
        re.findall(
            r"\((\d+)\) Exchange\nInput[^\n]*\nArguments: SinglePartition",
            plan,
        )
    )
    if not single_ids:
        return []
    tree = plan.split("\n\n")[0]
    nodes: list[tuple[int, str, str]] = []
    for line in tree.splitlines():
        m = _TREE_NODE_RX.match(line)
        if m:
            depth = len(m.group(1)) // 3
            nodes.append((depth, m.group(2), m.group(3)))
    def _ancestors(start: int):
        """Yield (index, op, id) up the parent chain from nodes[start]."""
        d = nodes[start][0]
        for j in range(start - 1, -1, -1):
            pd, pop, pid = nodes[j]
            if pd < d:
                d = pd
                yield j, pop, pid

    out = []
    for i, (depth, op, nid) in enumerate(nodes):
        if op != "Exchange" or nid not in single_ids:
            continue
        win_at = None
        for j, pop, pid in _ancestors(i):
            if pop in ("Sort", "WindowGroupLimit", "Project",
                       "ShuffleQueryStage", "AQEShuffleRead"):
                continue
            if pop == "Window":
                win_at = (j, pid)
            break
        if win_at is None:
            continue
        # Structural bound: a window whose output feeds a
        # BroadcastExchange through ROW-PRESERVING nodes only is
        # broadcast-small by construction - the frame the single task
        # sorted is (at most project/filter away from) the frame the
        # planner judged broadcastable. Row-REDUCING nodes
        # (aggregates, limits) must NOT be skipped (ADVICE r7): a
        # single-task sort over an unbounded fact frame whose output
        # is aggregated down to a tiny broadcastable frame is exactly
        # the defect class this rule exists to catch. Window/Sort
        # are row-preserving and stay skippable.
        broadcast_bound = False
        for _, pop, _ in _ancestors(win_at[0]):
            if pop in ("Project", "Filter", "Window", "Sort"):
                continue
            broadcast_bound = pop == "BroadcastExchange"
            break
        if broadcast_bound:
            continue
        out.append(
            f"Exchange SinglePartition ({nid}) feeds Window "
            f"({win_at[1]}) - single-task global sort"
        )
    return out


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _check_plan(name: str, plan: str, failures: list[str],
                where: str = "") -> None:
    """Global rules #1-#3 on one plan (returned or build-time)."""
    loc = f" ({where})" if where else ""
    if name not in UDF_KEYS and PY_EVAL_RX.search(plan):
        failures.append(
            f"{name}: Python evaluation in a non-UDF operator{loc}"
        )
    hits = global_window_violations(plan)
    if hits and name not in BOUNDED_GLOBAL_WINDOW:
        failures.append(
            f"{name}: global-order window on SinglePartition "
            f"({'; '.join(hits)}){loc} - fix with operators/ranks.py "
            "or declare the bounded frame in BOUNDED_GLOBAL_WINDOW"
        )
    if "CartesianProduct" in plan:
        failures.append(
            f"{name}: CartesianProduct in the plan{loc} - broadcast "
            "the small side of the non-equi join"
        )


def audit(spark, sf_dir: str):
    """Run every invariant; return (failures, evidence_sections).

    Every non-streaming key is built once, under ``capture_build``
    (global rule #4): the jobs its builder runs are recorded with
    their plans, those plans get the same global rules as returned
    plans, and each kind of build-time job must be declared for the
    key."""
    registry.load_all()
    # Load outside any build: a directory table's inference job and the
    # bigint-ts sniff are then no key's job, and every build hits the memo.
    loaders.load(spark, sf_dir)
    failures: list[str] = []
    sections: list[str] = []
    work: dict[str, list[BuildAction]] = {}

    names = sorted(k for k in registry.QUERIES if not k.startswith("s_"))
    for name in names:
        fn = registry.QUERIES[name]
        df, acts = capture_build(spark, name, lambda: fn(spark, sf_dir))
        if acts:
            work[name] = acts
        # UDF and side-effect keys skip the global rules on the
        # returned plan; their build-time plans are still checked.
        checked = name not in UDF_KEYS and name not in SIDE_EFFECT
        if name not in RULES and not checked:
            continue
        plan = explain_str(df)
        if name in RULES:
            must, must_not, why = RULES[name]
            for pat in must:
                if not re.search(pat, plan):
                    failures.append(f"{name}: MISSING /{pat}/ ({why})")
            for pat in must_not:
                if re.search(pat, plan):
                    failures.append(
                        f"{name}: FORBIDDEN /{pat}/ present ({why})"
                    )
            # Evidence excerpt: the operator-tree header of the plan.
            tree = plan.split("\n\n")[0]
            sections.append(
                f"### `{name}`\n\n*Invariant: {why}.*\n\n```\n{tree}\n```\n"
            )
        # Global rule #1: no Python evaluation outside the UDF surface.
        # Global rule #2: no Exchange SinglePartition feeding
        # Sort+Window (a single-task global sort) outside the declared
        # bounded-frame exemptions.
        # Global rule #3: no CartesianProduct ANYWHERE - every
        # intentional cross is a broadcast of a 1-row/bounded frame and
        # plans as BroadcastNestedLoopJoin; a true CartesianProduct
        # means a non-equi join lost its broadcast hint.
        if checked:
            _check_plan(name, plan, failures)

    # Global rule #4 post-pass: every build-time job must come from a
    # key declared for its kind, and its plan must satisfy rules #1-#3.
    declared = {
        "action": ("BOUNDED_DRIVER_ACTIONS", set(BOUNDED_DRIVER_ACTIONS)),
        "write": ("WRITES_AT_BUILD", WRITES_AT_BUILD),
        "checkpoint": ("MATERIALIZES_AT_BUILD", MATERIALIZES_AT_BUILD),
    }
    observed: dict[str, set[str]] = {kind: set() for kind in declared}
    lines = ["## Build-time jobs (global rule #4)", "",
             "Jobs each builder ran while building, read from its job "
             "group `build:<key>` and the SQL status store; each SQL "
             "execution is named by Spark's action and its final plan "
             "passes rules #1-#3. `job:<name>` is a job no SQL execution "
             "owns (no plan). Declared per key in `plans/audit.py`: "
             "`BOUNDED_DRIVER_ACTIONS`, `WRITES_AT_BUILD`, "
             "`MATERIALIZES_AT_BUILD`.", ""]
    for key, acts in sorted(work.items()):
        for a in acts:
            if a.plan:
                _check_plan(key, a.plan, failures,
                            where=f"build-time {a.action}")
        counts = Counter(a.action for a in acts)
        for action in sorted(counts):
            kind = _kind(action)
            observed[kind].add(key)
            decl, keys = declared[kind]
            if key not in keys and not (
                kind == "write" and key in SIDE_EFFECT
            ):
                failures.append(
                    f"{key}: UNDECLARED build-time {action} - declare it "
                    f"in {decl} or make the builder lazy"
                )
        calls = ", ".join(f"{c} x{n}" for c, n in sorted(counts.items()))
        lines.append(f"- `{key}`: {sum(a.jobs for a in acts)} jobs: {calls}")
    for kind, (decl, keys) in declared.items():
        stale = sorted(keys - observed[kind])
        if stale:
            failures.append(
                f"{decl} entries never observed (stale or mis-keyed): "
                f"{', '.join(stale)}"
            )
    lines.append("")
    sections.append("\n".join(lines))

    return failures, sections
