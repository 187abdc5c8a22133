#!/usr/bin/env python
"""CLI for the physical-plan audit (pudatalake_spark/plans/audit.py).

    python tools/plan_audit.py          # audit + rewrite PLANS.md
    python tools/plan_audit.py --check  # audit only (CI mode)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pudatalake_spark.plans.audit import RULES, SIDE_EFFECT, UDF_KEYS, audit
from pudatalake_spark import registry
from pudatalake_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    check_only = "--check" in sys.argv
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    failures, sections = audit(spark, SF_DIR)
    if failures:
        print("PLAN AUDIT FAILED:")
        for f in failures:
            print(" -", f)
        sys.exit(1)

    registry.load_all()
    print(f"plan audit OK: {len(RULES)} invariant sets, "
          f"{len(registry.QUERIES) - len(UDF_KEYS) - len(SIDE_EFFECT)} "
          "queries JVM-side-verified")

    if not check_only:
        cost = _per_key_cost_section()
        doc = [
            "# PLANS — physical-plan audit evidence",
            "",
            "Generated by `tools/plan_audit.py` (run it after any operator",
            f"change; `--check` for CI mode). Audited at `{SF_DIR}`.",
            "",
            "Two layers of enforcement:",
            "",
            "1. **Per-operator invariants** (below): regex assertions on",
            "   `explain('formatted')` — pushdown reached the scan, dims",
            "   broadcast, top-k avoided the full sort, aggregates are",
            "   two-phase map-side-combining hash aggs.",
            "2. **Global rule #1**: no `BatchEvalPython`/`ArrowEvalPython`/",
            "   pandas evaluation node in ANY operator outside the declared",
            "   UDF surface — the whole relational/window/text inventory",
            "   runs JVM-side under whole-stage codegen.",
            "3. **Global rule #2 (r7)**: no `Exchange SinglePartition`",
            "   feeding a `Sort → Window` (a single-task global sort) in",
            "   ANY operator, except (a) windows whose output feeds a",
            "   `BroadcastExchange` (broadcast-small by construction) and",
            "   (b) the per-key `BOUNDED_GLOBAL_WINDOW` exemptions —",
            "   daily/decile/|types| spines whose row count grows with the",
            "   time horizon or a fixed constant, never with data volume.",
            "   Every exemption carries its bound in plans/audit.py.",
            "4. **Global rule #3 (r7)**: no `CartesianProduct` anywhere —",
            "   every intentional cross is a broadcast of a 1-row/bounded",
            "   frame (BroadcastNestedLoopJoin); a CartesianProduct means a",
            "   non-equi join lost its broadcast hint.",
            "5. **Global rule #4**: every job a builder runs while it",
            "   builds is captured from its job group `build:<key>` and",
            "   Spark's SQL status store. Each build-time plan passes",
            "   rules #1-#3, and each action, write or checkpoint comes",
            "   from a key declared for it (`BOUNDED_DRIVER_ACTIONS`,",
            "   `WRITES_AT_BUILD`, `MATERIALIZES_AT_BUILD`). The last",
            "   section lists every such key with its build-time job count.",
            "",
        ] + sections + cost
        with open(os.path.join(REPO, "PLANS.md"), "w") as f:
            f.write("\n".join(doc))
        print("wrote PLANS.md")


def _per_key_cost_section() -> list[str]:
    """Per-key engine+oracle cost audit from the latest SELFCHECK.json
    sweep (VERDICT r4 #2): the driver rotates its correctness sample,
    so the WORST key bounds what any rotation can cost."""
    import json

    path = os.path.join(REPO, "SELFCHECK.json")
    if not os.path.exists(path):
        return []
    d = json.load(open(path))
    pq = d.get("per_query", {})
    if not pq:
        return []
    ranked = sorted(
        ((v.get("secs", 0.0), k, v.get("status", "?")) for k, v in pq.items()),
        reverse=True,
    )
    worst = ranked[0][0]
    lines = [
        "",
        "## Per-key driver-cost audit (from the latest SELFCHECK.json sweep)",
        "",
        "The driver rotates its 50-key correctness sample, so ANY key can",
        "be drawn; this table bounds the worst per-key cost (engine +",
        f"DuckDB oracle, {d.get('sf_dir', 'sf0.01')}, all "
        f"{d.get('n_queries', len(pq))} keys). Slowest:",
        "",
        "| key | secs | status |",
        "|---|---|---|",
    ]
    for secs, k, status in ranked[:8]:
        lines.append(f"| {k} | {secs} | {status} |")
    lines += [
        f"| everything else | < {ranked[8][0]} | — |",
        "",
        f"**Bound: no key exceeds {worst:.1f} s engine+oracle** (r4's two",
        "time-bomb oracles cost 77.8 s and 29.7 s before the r5",
        "inverted-index oracle rewrite).",
    ]
    return lines


if __name__ == "__main__":
    main()
