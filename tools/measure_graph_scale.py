#!/usr/bin/env python
"""Measure the graph-kernel family's scale claims on synthetic graphs
at 1x / 10x / 100x the sf0.1 edge count (r10; fills the measurement
gap SCALING §11 argued but never measured, the way §20 did for dedup
and §21 for ANN).

Two growth modes, because "10x the data" can mean two different things
for a graph and they stress different plan properties:

- ``disjoint``: k key-shifted copies of the sf0.1 star tables. Nodes
  and edges both scale by k while every per-copy structural property
  (degree distribution, diameter, clustering) is preserved. A kernel
  whose plan is per-edge work + shuffles should scale ~linearly here;
  superlinear growth exposes a driver-side or broadcast bottleneck.
- ``hub``: customers and orders are shifted per copy but suppliers /
  parts are NOT, so each supplier's degree grows by k (a planted
  skew amplification). This is the adversarial direction for
  shuffle-on-node-key plans: a kernel that survives hub x10 with
  ~linear wall has no per-key hot-partition cliff at that skew.
  (q_graph_triangles is skipped here: its co-purchase edge set is
  over unshifted parts, so DISTINCT collapses the k copies back to
  the x1 edge set and the measurement would be vacuous.)

Kernels measured: pagerank (3 fixed supersteps), triangles
(degree-ordered orientation), bfs_levels (frontier supersteps),
label_prop, kcore (peeling fixpoint), reach_2hop. Per corpus we also
record |E| of the bipartite graph and the max supplier degree so the
skew factor is visible in the artifact.

Output: one JSON line per measurement appended to
.scratch/graph_scale/results.jsonl (consumed into docs/SCALING.md by
hand). Budget guard: any kernel that takes > BUDGET_S at a size is
recorded and then skipped at larger sizes of the same mode.

Usage:
    python tools/measure_graph_scale.py            # all
    python tools/measure_graph_scale.py --gen-only # just corpora
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
OUT_ROOT = os.path.join(REPO, ".scratch", "graph_scale")
# key shifts chosen far above any sf0.1 key range so copies are disjoint
OFF = 10_000_000
KERNELS = [
    "q_graph_pagerank",
    "q_graph_triangles",
    "q_graph_bfs_levels",
    "q_graph_label_prop",
    "q_graph_kcore",
    "q_graph_reach_2hop",
]
CORPORA = [  # (tag, mode, k)
    ("x1", "disjoint", 1),
    ("x10", "disjoint", 10),
    ("x100", "disjoint", 100),
    ("hub_x10", "hub", 10),
]
BUDGET_S = 420.0  # stop growing a kernel once a size costs > 7 min


def generate(tag: str, mode: str, k: int) -> str:
    out_dir = os.path.join(OUT_ROOT, tag)
    done = os.path.join(out_dir, ".done")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO 16")
    # shift expressions per mode; i is the copy index 0..k-1
    s_cust = f"+ i * {OFF}"
    s_order = f"+ i * {OFF}"
    s_supp = f"+ i * {OFF}" if mode == "disjoint" else ""
    s_part = f"+ i * {OFF}" if mode == "disjoint" else ""
    copies = f"(SELECT unnest(range({k})) AS i)"
    con.execute(
        f"COPY (SELECT o_orderkey {s_order} AS o_orderkey, "
        f"o_custkey {s_cust} AS o_custkey, o_orderdate "
        f"FROM read_parquet('{SRC}/orders.parquet'), {copies} t) "
        f"TO '{out_dir}/orders.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT l_orderkey {s_order} AS l_orderkey, "
        f"l_suppkey {s_supp} AS l_suppkey, l_partkey {s_part} AS l_partkey, "
        f"l_quantity, l_shipdate "
        f"FROM read_parquet('{SRC}/lineitem.parquet'), {copies} t) "
        f"TO '{out_dir}/lineitem.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT c_custkey {s_cust} AS c_custkey, c_nationkey "
        f"FROM read_parquet('{SRC}/customer.parquet'), {copies} t) "
        f"TO '{out_dir}/customer.parquet' (FORMAT PARQUET)"
    )
    supp_copies = copies if mode == "disjoint" else "(SELECT 0 AS i)"
    con.execute(
        f"COPY (SELECT s_suppkey {s_supp} AS s_suppkey, s_nationkey "
        f"FROM read_parquet('{SRC}/supplier.parquet'), {supp_copies} t) "
        f"TO '{out_dir}/supplier.parquet' (FORMAT PARQUET)"
    )
    # the loader opens every lake table; the graph keys never read
    # these, so symlink them from the fixture
    for f in os.listdir(SRC):
        if f.endswith(".parquet") and not os.path.exists(
            os.path.join(out_dir, f)
        ):
            os.symlink(os.path.join(SRC, f), os.path.join(out_dir, f))
    open(done, "w").close()
    return out_dir


def edge_stats(out_dir: str) -> dict:
    con = duckdb.connect()
    con.execute("SET threads TO 16")
    row = con.execute(
        f"""
        WITH e AS (SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
                   FROM read_parquet('{out_dir}/orders.parquet') o
                   JOIN read_parquet('{out_dir}/lineitem.parquet') l
                     ON o_orderkey = l_orderkey)
        SELECT count(*) AS n_edges,
               (SELECT max(d) FROM
                  (SELECT count(*) AS d FROM e GROUP BY sk)) AS max_supp_deg
        FROM e
        """
    ).fetchone()
    return {"n_edges": int(row[0]), "max_supplier_degree": int(row[1])}


def main() -> None:
    for tag, mode, k in CORPORA:
        d = generate(tag, mode, k)
        print(f"corpus {tag} ({mode} k={k}) at {d}", flush=True)
    if "--gen-only" in sys.argv:
        return

    from pudatalake_spark import registry
    from pudatalake_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="graph-scale")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spark.conf.set("spark.ui.showConsoleProgress", "false")
    except Exception:
        pass

    sink = open(os.path.join(OUT_ROOT, "results.jsonl"), "a")

    def emit(rec):
        sink.write(json.dumps(rec) + "\n")
        sink.flush()
        print(json.dumps(rec), flush=True)

    over_budget: set[tuple[str, str]] = set()  # (kernel, mode)
    for tag, mode, k in CORPORA:
        out_dir = os.path.join(OUT_ROOT, tag)
        stats = edge_stats(out_dir)
        for key in KERNELS:
            if key == "q_graph_triangles" and mode == "hub":
                continue  # vacuous: co-purchase DISTINCT collapses copies
            if (key, mode) in over_budget:
                emit({"corpus": tag, "mode": mode, "k": k, "key": key,
                      "skipped": f"over budget at smaller size", **stats})
                continue
            t0 = time.time()
            try:
                n = registry.QUERIES[key](spark, out_dir).count()
                wall = round(time.time() - t0, 2)
                emit({"corpus": tag, "mode": mode, "k": k, "key": key,
                      "wall_s": wall, "out_rows": n, **stats})
                if wall > BUDGET_S:
                    over_budget.add((key, mode))
            except Exception as e:
                emit({"corpus": tag, "mode": mode, "k": k, "key": key,
                      "wall_s": round(time.time() - t0, 2),
                      "error": str(e)[:300], **stats})
                over_budget.add((key, mode))


if __name__ == "__main__":
    main()
