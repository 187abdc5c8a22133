#!/usr/bin/env python
"""Double-run determinism sweep over the full inventory (r10).

Motivation: the streaming throughput measurement caught
s_anomaly_score emitting a ~3% different flag set per run — an
ARRIVAL-ORDER sensitivity invisible to the oracle sweep, which
compares a single run against DuckDB. This sweep runs every key
TWICE (caches cleared between runs, same session) at the given SF and
compares the canonicalized outputs; any diff is a nondeterminism bug
of exactly that class (chunk-order scoring, unstable tie-breaks
surfacing through LIMIT/top-k, accidental rand()).

Float caveat: canonicalize stringifies values, so a true
nondeterministic float (shuffle-order-dependent aggregation of
doubles) CAN flicker in the last digits; such a finding is real (the
oracle hash would flicker the same way) — record it, don't excuse it.

    python tools/determinism_sweep.py [sf_dir]

Writes tools/determinism_<sfname>.json; prints any mismatching keys.
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

# Side-effect sinks rewrite lake dirs; running them twice is fine
# (they are idempotent) but their OUTPUT is a file listing / row count
# whose paths embed scratch state — compare rows only.
ROWS_ONLY = set()


def frame_key(pdf: pd.DataFrame) -> str:
    c = canonicalize(pdf)
    return f"{len(c)}:{pd.util.hash_pandas_object(c.astype(str), index=False).sum():x}"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sfname = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    spark = get_spark(app_name="determinism-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()

    diffs: dict[str, dict] = {}
    errs: dict[str, str] = {}
    for name in sorted(registry.QUERIES):
        try:
            a = registry.QUERIES[name](spark, sf_dir).toPandas()
            b = registry.QUERIES[name](spark, sf_dir).toPandas()
            ka, kb = frame_key(a), frame_key(b)
            status = "ok" if ka == kb else "NONDETERMINISTIC"
            if status != "ok":
                diffs[name] = {"run1": ka, "run2": kb,
                               "rows": [len(a), len(b)]}
            print(f"  {name}: {status}", flush=True)
        except Exception as e:  # noqa: BLE001 - survey, keep going
            errs[name] = f"{type(e).__name__}: {str(e)[:160]}"
            print(f"  {name}: ERR {errs[name]}", flush=True)

    out = os.path.join(REPO, "tools", f"determinism_{sfname}.json")
    with open(out, "w") as f:
        json.dump({"sf_dir": sf_dir, "protocol":
                   "two runs per key, caches cleared, canonicalized hash",
                   "n_keys": len(registry.QUERIES),
                   "nondeterministic": diffs, "errors": errs},
                  f, indent=1, sort_keys=True)
    print(f"\nwrote {out}: {len(diffs)} nondeterministic, {len(errs)} errors")
    for k, v in diffs.items():
        print(f"  DIFF {k}: {v}")


if __name__ == "__main__":
    main()
