#!/usr/bin/env python
"""Measure the TPC-H suite (q_tpch_q1..q22) at 10x / 100x the sf0.1
row counts (r10 — extends the measured-not-argued discipline of
SCALING §20/§21/§24 to the relational core).

Corpus: disjoint key-shifted copies of the full-width sf0.1 star
tables (same recipe as tools/measure_graph_scale.py): fact and dim
keys shift by copy index so joins stay 1:1-structured, group-by
cardinalities (returnflag, priority, segment, ...) stay fixed, and
date distributions are preserved — i.e. the workload grows the way a
warehouse growing self-similarly grows. region/nation are unshifted
dims (25/5 rows at every scale, exactly like real TPC-H).

Timing protocol = bench.py's: build the DataFrame, materialize via
the noop sink, clear operator caches between keys. x1 is the sf0.1
fixture itself. A kernel that exceeds BUDGET_S at a size is skipped
at larger sizes. Output: JSONL in .scratch/tpch_scale/results.jsonl
(consumed into docs/SCALING.md by hand).

Usage:
    python tools/measure_tpch_scale.py            # all
    python tools/measure_tpch_scale.py --gen-only # just corpora
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
OUT_ROOT = os.path.join(REPO, ".scratch", "tpch_scale")
OFF = 10_000_000
SIZES = {"x10": 10, "x100": 100}
BUDGET_S = 300.0

# key columns to shift per table; everything else copies through
SHIFTS = {
    "orders": {"o_orderkey": OFF, "o_custkey": OFF},
    "lineitem": {"l_orderkey": OFF, "l_partkey": OFF, "l_suppkey": OFF},
    "customer": {"c_custkey": OFF},
    "supplier": {"s_suppkey": OFF},
    "part": {"p_partkey": OFF},
}

KEYS = [f"q_tpch_q{i}" for i in range(1, 23)]


def generate(tag: str, k: int) -> str:
    out_dir = os.path.join(OUT_ROOT, tag)
    done = os.path.join(out_dir, ".done")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 16")
    for t, shifts in SHIFTS.items():
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{SRC}/{t}.parquet')"
            ).fetchall()
        ]
        sel = ", ".join(
            f"{c} + i * {shifts[c]} AS {c}" if c in shifts else c for c in cols
        )
        con.execute(
            f"COPY (SELECT {sel} FROM read_parquet('{SRC}/{t}.parquet'), "
            f"(SELECT unnest(range({k})) AS i) t) "
            f"TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
    for f in os.listdir(SRC):
        if f.endswith(".parquet") and not os.path.exists(
            os.path.join(out_dir, f)
        ):
            os.symlink(os.path.join(SRC, f), os.path.join(out_dir, f))
    open(done, "w").close()
    return out_dir


def main() -> None:
    for tag, k in SIZES.items():
        print(f"corpus {tag}: {generate(tag, k)}", flush=True)
    if "--gen-only" in sys.argv:
        return

    from pudatalake_spark import registry
    from pudatalake_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="tpch-scale")
    spark.sparkContext.setLogLevel("ERROR")
    sink = open(os.path.join(OUT_ROOT, "results.jsonl"), "a")

    def emit(rec):
        sink.write(json.dumps(rec) + "\n")
        sink.flush()
        print(json.dumps(rec), flush=True)

    over: set[str] = set()
    corpora = [("x1", 1, SRC)] + [
        (tag, k, os.path.join(OUT_ROOT, tag)) for tag, k in SIZES.items()
    ]
    for tag, k, d in corpora:
        for key in KEYS:
            if key in over:
                emit({"corpus": tag, "k": k, "key": key,
                      "skipped": "over budget at smaller size"})
                continue
            t0 = time.time()
            try:
                registry.QUERIES[key](spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
                wall = round(time.time() - t0, 2)
                emit({"corpus": tag, "k": k, "key": key, "wall_s": wall})
                if wall > BUDGET_S:
                    over.add(key)
            except Exception as e:
                emit({"corpus": tag, "k": k, "key": key,
                      "wall_s": round(time.time() - t0, 2),
                      "error": str(e)[:300]})
                over.add(key)


if __name__ == "__main__":
    main()
