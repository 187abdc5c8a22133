#!/usr/bin/env python
"""Partition-sensitivity sweep: every key's output must be invariant
to the physical partitioning knobs (r10).

The determinism sweep (tools/determinism_sweep.py) catches run-to-run
flicker under FIXED configuration; this sweep perturbs the
configuration instead: each key runs once under the session defaults
(shuffle.partitions=32, 128 MiB split targets) and once under an
adversarial layout — shuffle.partitions=7 (odd, non-power-of-two) and
64 KiB max split bytes with zero file-open cost, which fragments even
the sf0.01 fixture's single-row-group files into many input splits.
Any canonicalized-output diff is an arrival-order / split-order
sensitivity (the class the streaming anomaly scorer had) or an
accidental dependence of emitted VALUES on task layout.

Keys whose OUTPUT legitimately reports physical layout (file counts
from their own writes) are expected to differ and are listed in
LAYOUT_REPORTING with the reason; the artifact records them apart.

    python tools/partition_sensitivity_sweep.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

import pandas as pd  # noqa: E402

from pudatalake_spark import registry  # noqa: E402
from pudatalake_spark.session import get_spark  # noqa: E402
from tests.conftest import canonicalize  # noqa: E402

#: key -> why its output may report physical layout by design.
LAYOUT_REPORTING: dict[str, str] = {
    "q_compact_small_files": "emits before/after FILE COUNTS of its own write",
    "q_lake_manifest": "manifest rows are per-file metadata of its own write",
    "q_lake_mixed_layout": "reports per-layout file statistics",
    "q_lake_orphan_files": "reports orphan FILES under its own scratch lake",
    "q_diag_skew": "reports per-partition row counts (the diagnostic IS the layout)",
    "q_lake_analyze_stats": "row-group/file stats of its own write",
}

ADVERSE = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": "65536",
    "spark.sql.files.openCostInBytes": "0",
}


def frame_key(pdf: pd.DataFrame) -> str:
    c = canonicalize(pdf)
    return f"{len(c)}:{pd.util.hash_pandas_object(c.astype(str), index=False).sum():x}"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sfname = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    spark = get_spark(app_name="partition-sensitivity")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()

    defaults = {k: spark.conf.get(k) for k in ADVERSE}

    def set_conf(conf: dict) -> None:
        for k, v in conf.items():
            spark.conf.set(k, v)

    diffs: dict[str, dict] = {}
    expected: dict[str, dict] = {}
    errs: dict[str, str] = {}
    for name in sorted(registry.QUERIES):
        try:
            set_conf(defaults)
            a = registry.QUERIES[name](spark, sf_dir).toPandas()
            set_conf(ADVERSE)
            b = registry.QUERIES[name](spark, sf_dir).toPandas()
            ka, kb = frame_key(a), frame_key(b)
            if ka == kb:
                print(f"  {name}: ok", flush=True)
            else:
                rec = {"default": ka, "adverse": kb, "rows": [len(a), len(b)]}
                if name in LAYOUT_REPORTING:
                    rec["by_design"] = LAYOUT_REPORTING[name]
                    expected[name] = rec
                    print(f"  {name}: differs BY DESIGN "
                          f"({LAYOUT_REPORTING[name]})", flush=True)
                else:
                    diffs[name] = rec
                    print(f"  {name}: SENSITIVE", flush=True)
        except Exception as e:  # noqa: BLE001 - survey, keep going
            errs[name] = f"{type(e).__name__}: {str(e)[:160]}"
            print(f"  {name}: ERR {errs[name]}", flush=True)
        finally:
            set_conf(defaults)

    out = os.path.join(REPO, "tools", f"partition_sensitivity_{sfname}.json")
    with open(out, "w") as f:
        json.dump({"sf_dir": sf_dir, "adverse_conf": ADVERSE,
                   "n_keys": len(registry.QUERIES),
                   "sensitive": diffs, "by_design": expected,
                   "errors": errs}, f, indent=1, sort_keys=True)
    print(f"\nwrote {out}: {len(diffs)} sensitive, "
          f"{len(expected)} by-design, {len(errs)} errors")
    for k, v in diffs.items():
        print(f"  SENSITIVE {k}: {v}")


if __name__ == "__main__":
    main()
