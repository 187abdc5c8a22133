#!/usr/bin/env python
"""BENCH harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock of the headline set; per-query
seconds are under ``queries``. Each query is forced end-to-end with a
``noop`` sink write (full materialization, no collect-to-driver cost,
no disk-sink cost) so the number measures the Spark plan, not the
driver round-trip.

Methodology: each headline query is executed once cold, then THREE
steady-state runs; the reported per-query number is the MEDIAN of the
steady runs (all samples are printed under ``steady_samples``, the
cold run under ``cold_queries``). At sf0.1 a cold run is dominated by
whole-stage-codegen compilation + JVM JIT of that plan shape (e.g.
q_dedup_exact: 6.6s cold vs 0.4s steady-state) - a fixed per-plan
cost that amortizes to nothing over a 100 TB run, which is the scale
this engine targets. The median steady-state number is the one that
extrapolates; sub-second queries on this box show +-20% run-to-run
variance (BASELINE.md), which single-sample reporting turned into
phantom regressions in r2.

The whole registered inventory is timed by the census,
``tools/bench_inventory.py``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pudatalake_spark import registry
from pudatalake_spark.session import get_spark

# Representative, performance-meaningful subset of SURVEY §2: one per
# operator family, weighted toward the queries whose plans matter at
# 100 TB (shuffle joins, window functions, sessionization, dedup,
# similarity search, TF-IDF).
HEADLINE = [
    "q_agg_groupby",          # TPC-H Q1 flagship: scan+filter+hashagg+sort
    "q_agg_count_distinct",   # expand+two-phase agg
    "q_join_inner_shuffle",   # large equi join orders><lineitem
    "q_join_star_multiway",   # 4-way star with broadcast dims
    "q_join_asof",            # union-tag + window as-of
    "q_win_rownumber_topk",   # partitioned window + filter
    "q_win_moving_avg",       # range-frame window over events
    "q_topk",                 # TakeOrderedAndProject
    "q_stream_session",       # sessionization (lag+cumsum)
    "q_dedup_exact",          # sha2 hash dedup
    "q_dedup_near_minhash",   # shingle->minhash->band->join
    "q_sim_cosine_topk",      # blocked cosine top-k over embeddings
    "q_text_tfidf",           # tokenize->tf><df><N join
    "q_text_tokenize_wordcount",
    "q_merge_upsert",         # CDC MERGE: anti join + union (added r1-end)
    "q_scd2_build",           # SCD2 gaps-and-islands windows (added r1-end)
    # r5 breadth (VERDICT r4 #7): one representative per r4-added
    # family so round-over-round tracking covers them. Baselines for
    # these two start at the r5 recording in BASELINE.md (the driver's
    # BENCH_r04 timed only the original 16).
    "q_join_bloom_prefilter", # Bloom bitmap build + pushed probe filter
    "q_events_anomaly",       # bounded-frame rolling z-score window
    # r5b breadth: one representative per r5b-added family (baselines
    # start at the r5b recording in BASELINE.md).
    "q_tpch_q5",              # 6-way star join (TPC-H suite)
    "q_graph_pagerank",       # 3-superstep iterative join chain
    # r6 breadth: one sketch + one sweep-line representative of the
    # r6 operator waves (baselines seed at the r6 recording).
    "q_agg_countmin",         # mergeable CMS build + broadcast probe
    "q_events_concurrent_peak",  # sessionize + boundary sweep
]

def _force(df) -> int:
    """Fully materialize a DataFrame without driver collection."""
    df.write.format("noop").mode("overwrite").save()
    return 0


#: Load gate: 1-min loadavg ceiling, attempts, seconds between them.
LOAD_MAX, LOAD_TRIES, LOAD_WAIT_S = 0.5, 3, 60.0
#: Steal gate: % of a pass's CPU stolen, measured passes at most.
STEAL_MAX_PCT, STEAL_TRIES = 0.3, 3


def _load_gate() -> dict:
    """Load-gate (r10, VERDICT r9 #4): a loaded box inflates every
    sub-second query uniformly (BENCH_r09 went out at loadavg 3.56
    reading 28% worse than the same code on a quiet box), so a
    fleet-visible artifact must not encode box noise. Sample the
    1-min loadavg BEFORE the session spins up; if it exceeds
    LOAD_MAX, wait and retry (bounded). If every attempt fails, the
    bench still RUNS - the driver needs an artifact - but the report
    carries ``passed: false`` plus the full retry history, which is
    the explicit annotated failure the round protocol asks for."""
    history = []
    for attempt in range(1, LOAD_TRIES + 1):
        one_min = round(os.getloadavg()[0], 2)
        history.append(one_min)
        if one_min <= LOAD_MAX:
            return {"passed": True, "threshold": LOAD_MAX,
                    "history": history}
        if attempt < LOAD_TRIES:
            print(
                f"LOADGATE attempt {attempt}/{LOAD_TRIES}: 1-min loadavg "
                f"{one_min} > {LOAD_MAX}, waiting {LOAD_WAIT_S:.0f}s",
                flush=True,
            )
            time.sleep(LOAD_WAIT_S)
    return {"passed": False, "threshold": LOAD_MAX, "history": history}


def _cpu_stat() -> tuple[int, int] | None:
    """(total_jiffies, steal_jiffies) from /proc/stat - hypervisor
    STEAL is the contention channel loadavg cannot see (r11: census
    stretches inflated 5-15x on an idle-looking box; a noisy
    neighbor shows up here and nowhere else)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(x) for x in parts]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except Exception:  # noqa: BLE001 - non-Linux or locked-down /proc
        return None


def steal_pct(s0, s1) -> float | None:
    """% of CPU time the hypervisor stole between two ``_cpu_stat()``
    samples, or None when either is missing or no time passed."""
    if s0 and s1 and s1[0] > s0[0]:
        return round(100.0 * (s1[1] - s0[1]) / (s1[0] - s0[0]), 2)
    return None


def main() -> None:
    gate = _load_gate()
    # Ambient load BEFORE the session spins up: the report's
    # contention evidence must reflect the box, not this bench.
    load0 = [round(x, 2) for x in os.getloadavg()]
    stat0 = _cpu_stat()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # sf number parsed from the dir name for the report line.
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = -1.0

    spark = get_spark(app_name="pudatalake-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()

    # Session warm-up: JVM/parquet-footer caches on a tiny action.
    _force(registry.QUERIES["q_agg_groupby"](spark, sf_dir))

    n_steady = 3

    def _measure():
        """One full pass over the headline set; returns the per-query
        medians plus the hypervisor steal %% measured across exactly
        this pass (the contention channel loadavg cannot see)."""
        s0 = _cpu_stat()
        per_query: dict[str, float] = {}
        cold: dict[str, float] = {}
        samples: dict[str, list[float]] = {}
        for name in HEADLINE:
            fn = registry.QUERIES[name]
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))  # warm run: codegen compile + JIT
            cold[name] = round(time.perf_counter() - t0, 3)
            runs = []
            for _ in range(n_steady):
                t0 = time.perf_counter()
                _force(fn(spark, sf_dir))
                runs.append(round(time.perf_counter() - t0, 3))
            samples[name] = runs
            per_query[name] = statistics.median(runs)
        return per_query, cold, samples, steal_pct(s0, _cpu_stat())

    # Steal-aware retry (r12, VERDICT r11 #7): the r11 DRIVER artifact
    # read 1.04x purely from box conditions while the same code's
    # quiet-box close run read 0.83x - the loadavg gate alone cannot
    # see a hypervisor steal burst that lands DURING the run. Measure
    # steal across each full pass and re-measure (bounded) while it
    # exceeds STEAL_MAX_PCT (the r11 close run recorded 0.06%). The
    # kept pass is the quietest one (min steal, ties to min total);
    # every attempt's summary is recorded so a dirty artifact is
    # self-describing.
    attempts = []
    best = None
    for attempt in range(1, STEAL_TRIES + 1):
        per_query, cold, samples, steal = _measure()
        tot = round(sum(per_query.values()), 3)
        attempts.append({"steal_pct": steal, "total": tot,
                         "loadavg1": round(os.getloadavg()[0], 2)})
        cand = (steal if steal is not None else 0.0, tot,
                per_query, cold, samples)
        if best is None or cand[:2] < best[:2]:
            best = cand
        if steal is None or steal <= STEAL_MAX_PCT:
            break
        if attempt < STEAL_TRIES:
            print(f"STEALGATE attempt {attempt}/{STEAL_TRIES}: "
                  f"{steal}% CPU stolen during the pass "
                  f"(> {STEAL_MAX_PCT}%), re-measuring", flush=True)
    _, total, per_query, cold, samples = best
    # ADVICE r12: if steal was never measurable (no /proc accounting),
    # passed must be null, not true - "unmeasured" != "clean".
    steal_unmeasured = all(a["steal_pct"] is None for a in attempts)
    steal_gate = {
        "passed": None if steal_unmeasured else best[0] <= STEAL_MAX_PCT,
        "threshold_pct": STEAL_MAX_PCT,
        "attempts": attempts,
    }
    if steal_unmeasured:
        steal_gate["note"] = "steal unmeasurable on this box (/proc)"

    report = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "steady_runs": n_steady,
        "sf": sf,
        # 1/5/15-min load averages SAMPLED AT BENCH START (ambient,
        # before this bench's own load): this box's sub-second
        # queries drift up to ±30% under contention (r7/r8 BASELINE
        # notes), so every recorded BENCH artifact carries its own
        # contention evidence.
        "loadavg": load0,
        # Gate verdict + per-attempt 1-min samples: passed=false means
        # this artifact was KNOWINGLY recorded on a loaded box after
        # bounded retries - read its numbers accordingly.
        "load_gate": gate,
        # Per-pass hypervisor-steal verdict (r12): which measurement
        # pass this artifact's numbers come from and how clean it was.
        "steal_gate": steal_gate,
    }
    # % of this run's CPU time stolen by the hypervisor: the
    # contention channel loadavg cannot see (noisy neighbor).
    run_steal = steal_pct(stat0, _cpu_stat())
    if run_steal is not None:
        report["cpu_steal_pct"] = run_steal
    detail = dict(report, cold_queries=cold, steady_samples=samples)
    # Driver-proofing (VERDICT r5 #6): the r5 driver tail-parse missed
    # the JSON line once cold/steady detail pushed it past the driver's
    # line-length assumptions. The full detail goes to an earlier
    # DETAIL line; the FINAL stdout line is the compact report only,
    # with compact separators. A run writes no file.
    print("DETAIL " + json.dumps(detail, separators=(",", ":")))
    print(json.dumps(report, separators=(",", ":")))


if __name__ == "__main__":
    main()
