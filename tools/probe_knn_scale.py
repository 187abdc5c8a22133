#!/usr/bin/env python
"""1M-vector kNN-graph feasibility probe (VERDICT r11 #3).

SCALING §21 carries the kNN graph to 200 k vectors (474.9 s, recall
0.996) at the shipped 3-bit-per-band config; this probe pins the next
decade. Two measurements:

1. **The shipped bits=3 config at 1 M is a documented negative,
   computed not guessed**: bucket occupancy and candidate volume are
   computed exactly (numpy sign-hash + bincount — no Spark run
   needed), and the wall is projected from the measured 200 k point
   by the candidate-volume ratio. At 8 buckets/band the peak bucket
   is ~N/8 and volume stays quasi-quadratic — the binding constraint
   is GEMM flops, not memory (tiles stay 2048×4096).
2. **The scale config (KNN_BITS_PER_BAND=10, 1024 buckets/band) is
   MEASURED end-to-end**: full 1 M-vector graph build through the
   operator's own plan (monkeypatched bits constant — the documented
   dial), wall + peak bucket size + recall@5 against exact numpy
   ground truth on a deterministic 512-query sample (exact FULL-graph
   truth at 1 M is itself an N² job; the sample is the standard
   estimator).

Corpus: the §21 label-conditional gaussian generator at n=1,000,000
(pyarrow writer — the duckdb unnest path allocates ~5 GB of Python
lists at this size).

3. **NN-descent refinement (r13, VERDICT r12 #1)**: ``--descent``
   seeds with the cheap measured LSH graph from arm 2 (bits=8 by
   default: 762 s at recall 0.529) and runs
   ``similarity.nn_descent_round`` supersteps (working degree
   ``--kd``, default 20 - the dial that decides the convergence
   ceiling: at fixture scale kd=10 plateaus at recall 0.82 while
   kd=20 reaches 0.995 in 2 rounds), measuring sampled recall@5
   after EVERY round and stopping at ``--target`` (default 0.95)
   or ``--max-rounds`` (default 4). Each round's wall + recall is
   its own JSONL row - the cost/recall curve is the artifact.

    python tools/probe_knn_scale.py [--bits 10] [--sample 512]
        [--descent] [--kd 20] [--max-rounds 4] [--target 0.95]

Appends JSONL to .scratch/sim_scale/knn_1m.jsonl.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE = "/root/testdata/sf0.1"
OUT_ROOT = os.path.join(REPO, ".scratch", "sim_scale")
N = 1_000_000
SEED = 20260816
X200K_WALL_S = 474.9  # SCALING §21 measured 200 k build (r11 config)
X200K_N = 200_000


def _flag(name: str, default: int) -> int:
    if name in sys.argv:
        return int(sys.argv[sys.argv.index(name) + 1])
    return default


def generate() -> str:
    """1M-vector corpus from the §21 label-conditional gaussians."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = os.path.join(OUT_ROOT, "x1m")
    path = os.path.join(out_dir, "embeddings.parquet")
    if os.path.exists(path):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT label, embedding FROM "
        f"read_parquet('{BASE}/embeddings.parquet')"
    ).fetchall()
    by_label: dict[int, list] = {}
    for lab, emb in rows:
        by_label.setdefault(lab, []).append(emb)
    labels = sorted(by_label)
    weights = np.array([len(by_label[l]) for l in labels], dtype=float)
    weights /= weights.sum()
    stats = {
        l: (np.mean(by_label[l], axis=0), np.std(by_label[l], axis=0))
        for l in labels
    }
    rng = np.random.default_rng(SEED + N)
    labs = rng.choice(labels, size=N, p=weights)
    dim = len(next(iter(stats.values()))[0])
    embs = np.empty((N, dim), dtype=np.float32)
    for l in labels:
        idx = np.where(labs == l)[0]
        mu, sd = stats[l]
        embs[idx] = rng.normal(mu, sd, size=(len(idx), dim)).astype(
            np.float32
        )
    flat = pa.array(embs.reshape(-1))
    offsets = pa.array(
        np.arange(0, (N + 1) * dim, dim, dtype=np.int32)
    )
    tbl = pa.table({
        "vec_id": pa.array(np.arange(N, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labs.astype(np.int32)),
    })
    pq.write_table(tbl, path)
    for f in os.listdir(BASE):
        if f.endswith(".parquet") and f != "embeddings.parquet":
            dst = os.path.join(out_dir, f)
            if not os.path.exists(dst):
                os.symlink(os.path.join(BASE, f), dst)
    return out_dir


def generate_clustered() -> str:
    """1M-vector corpus WITH cluster structure (r13): 2000 gaussian
    clusters (centers ~ N(0,1)^64, within-cluster sigma 0.3), the
    corpus class real embedding models produce (low intrinsic dim,
    neighbors overwhelmingly within-cluster). The iso corpus above is
    the information-theoretic worst case for every sublinear ANN
    (within-label cosine == between-label == ~0); this one is where
    graph refinement actually operates."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = os.path.join(OUT_ROOT, "x1m_clustered")
    path = os.path.join(out_dir, "embeddings.parquet")
    if os.path.exists(path):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    n_clusters, dim, sigma = 2000, 64, 0.3
    rng = np.random.default_rng(SEED + 7 * N)
    centers = rng.normal(0, 1, size=(n_clusters, dim)).astype(np.float32)
    cl = rng.integers(0, n_clusters, size=N)
    embs = centers[cl] + rng.normal(0, sigma, size=(N, dim)).astype(
        np.float32
    )
    flat = pa.array(embs.reshape(-1).astype(np.float32))
    offsets = pa.array(np.arange(0, (N + 1) * dim, dim, dtype=np.int32))
    tbl = pa.table({
        "vec_id": pa.array(np.arange(N, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array((cl % 10).astype(np.int32)),
    })
    pq.write_table(tbl, path)
    for f in os.listdir(BASE):
        if f.endswith(".parquet") and f != "embeddings.parquet":
            dst = os.path.join(out_dir, f)
            if not os.path.exists(dst):
                os.symlink(os.path.join(BASE, f), dst)
    return out_dir


def bucket_stats(embs: np.ndarray, bands: int, bits: int, probes: int) -> dict:
    """Exact bucket occupancy + candidate volume for a sign-hash
    config, straight from the corpus (same hash the operator
    computes JVM-side: bit j of band k = sign of dim bits*k+j)."""
    n = embs.shape[0]
    peak = 0
    volume = 0  # sum over (band,bucket) of probe_rows * index_rows
    for k in range(bands):
        block = embs[:, bits * k: bits * k + bits]
        weights = (1 << np.arange(bits - 1, -1, -1)).astype(np.int64)
        bucket = ((block > 0) @ weights).astype(np.int64)
        counts = np.bincount(bucket, minlength=1 << bits)
        peak = max(peak, int(counts.max()))
        # probe rows per bucket: own members + members of buckets
        # whose ranked flips land here; total probe rows = (1+probes)N
        # and flip targets share the same occupancy distribution to
        # first order, so volume ~ (1+probes) * sum(counts^2). Exact
        # enough for a projection (the measured arm is the real one).
        volume += (1 + probes) * int((counts.astype(np.int64) ** 2).sum())
    return {"peak_bucket": peak, "cand_volume": volume}


def main() -> None:
    bits = _flag("--bits", 10)
    n_sample = _flag("--sample", 512)
    corpus = (
        sys.argv[sys.argv.index("--corpus") + 1]
        if "--corpus" in sys.argv
        else "iso"
    )
    seed_mode = (
        sys.argv[sys.argv.index("--seed-mode") + 1]
        if "--seed-mode" in sys.argv
        else "lsh"
    )
    out_dir = generate() if corpus == "iso" else generate_clustered()
    print(f"corpus: {corpus}, {N} vectors at {out_dir}", flush=True)

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(out_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    ids = t["vec_id"].to_numpy()
    embs = np.asarray(t["embedding"].combine_chunks().flatten()).reshape(
        len(ids), -1
    )
    sink = open(os.path.join(OUT_ROOT, "knn_1m.jsonl"), "a")

    def emit(rec):
        sink.write(json.dumps(rec) + "\n")
        sink.flush()
        print(json.dumps(rec), flush=True)

    from pudatalake_spark import registry
    from pudatalake_spark.llmops import similarity as sim
    from pudatalake_spark.session import get_spark

    registry.load_all()

    # exact recall@5 truth on a deterministic query sample (shared by
    # every arm below)
    rng = np.random.default_rng(SEED)
    sample = np.sort(rng.choice(len(ids), size=n_sample, replace=False))
    A = embs.astype(np.float64)
    A /= np.linalg.norm(A, axis=1, keepdims=True)
    k = sim.KNN_GRAPH_K
    truth: dict[int, set] = {}
    for i in sample:
        scores = A[i] @ A.T
        scores[i] = -np.inf
        truth[int(ids[i])] = {
            int(ids[j]) for j in np.argpartition(-scores, k)[:k]
        }

    def sampled_recall(pairs) -> float:
        got: dict[int, set] = {}
        for s, d in pairs:
            got.setdefault(int(s), set()).add(int(d))
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        return round(hits / (len(truth) * k), 4)

    import pyarrow.dataset as ds

    spark = get_spark(app_name="knn-1m")
    spark.sparkContext.setLogLevel("ERROR")

    # Arm 1 (iso only): the shipped bits=3 config, projected
    # (documented negative)
    if corpus == "iso":
        s3 = bucket_stats(embs, sim.KNN_GRAPH_BANDS, 3, sim.KNN_PROBES)
        s200 = bucket_stats(
            embs[:X200K_N], sim.KNN_GRAPH_BANDS, 3, sim.KNN_PROBES
        )
        projected = round(
            X200K_WALL_S * s3["cand_volume"] / s200["cand_volume"]
        )
        emit({
            "arm": "bits3_projected", "n_vecs": N, "bits": 3,
            **s3,
            "projected_wall_s": projected,
            "basis": f"measured 200k wall {X200K_WALL_S}s x volume ratio "
                     f"{s3['cand_volume'] / s200['cand_volume']:.1f}",
        })

    # Arm 4 (r13): EXACT kNN graph via broadcast blocked GEMM -
    # map-only, recall 1.0 by construction; ON THIS iso corpus (zero
    # cluster structure) it IS the recall frontier.
    if "--exact" in sys.argv:
        exact_path = os.path.join(OUT_ROOT, f"x1m_exact_{corpus}")
        t0 = time.time()
        sim.knn_graph_exact_gemm(spark, out_dir).write.mode(
            "overwrite"
        ).parquet(exact_path)
        exact_wall = round(time.time() - t0, 1)
        gt = ds.dataset(exact_path).to_table(
            filter=ds.field("src").isin(list(truth)),
            columns=["src", "dst"],
        )
        emit({
            "arm": "exact_gemm", "corpus": corpus, "n_vecs": N,
            "wall_s": exact_wall,
            "recall_at_5": sampled_recall(
                zip(gt["src"].to_numpy(), gt["dst"].to_numpy())
            ),
            "n_sample_queries": n_sample,
            "graph_rows": ds.dataset(exact_path).count_rows(),
        })

    # Arm 2: LSH seed at --bits, measured end-to-end through the
    # operator's plan (skipped under --seed-mode random)
    graph_path = os.path.join(OUT_ROOT, f"x1m_graph_{corpus}")
    wall = 0.0
    if seed_mode == "lsh":
        sN = bucket_stats(embs, sim.KNN_GRAPH_BANDS, bits, sim.KNN_PROBES)
        old_bits = sim.KNN_BITS_PER_BAND
        sim.KNN_BITS_PER_BAND = bits
        try:
            t0 = time.time()
            registry.QUERIES["q_sim_knn_graph"](spark, out_dir).write.mode(
                "overwrite"
            ).parquet(graph_path)
            wall = round(time.time() - t0, 1)
        finally:
            sim.KNN_BITS_PER_BAND = old_bits
        gt = ds.dataset(graph_path).to_table(
            filter=ds.field("src").isin(list(truth)),
            columns=["src", "dst"],
        )
        emit({
            "arm": f"bits{bits}_measured", "corpus": corpus, "n_vecs": N,
            "bits": bits,
            "probes": sim.KNN_PROBES, "bands": sim.KNN_GRAPH_BANDS,
            **sN,
            "wall_s": wall,
            "recall_at_5": sampled_recall(
                zip(gt["src"].to_numpy(), gt["dst"].to_numpy())
            ),
            "n_sample_queries": n_sample,
            "graph_rows": ds.dataset(graph_path).count_rows(),
        })

    # Arm 3 (r13, VERDICT r12 #1): NN-descent refinement of the cheap
    # seed just measured - per-round wall + sampled recall, stop at
    # target. cum_wall_s INCLUDES the seed build, so the last row is
    # the honest end-to-end cost of the high-recall graph.
    if "--descent" in sys.argv:
        kd = _flag("--kd", 20)
        max_rounds = _flag("--max-rounds", 4)
        target = (
            float(sys.argv[sys.argv.index("--target") + 1])
            if "--target" in sys.argv
            else 0.95
        )
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from pudatalake_spark import loaders as L

        payload = L.spread(
            L.table(spark, out_dir, "embeddings"), "vec_id"
        ).select("vec_id", F.col("embedding").alias("vec"))
        if seed_mode == "lsh":
            graph = spark.read.parquet(graph_path).select(
                "src", "dst", "cos_sim"
            )
        else:
            graph = sim.nn_descent_random_seed(spark, out_dir, k=kd)
        cum = wall
        for rnd in range(1, max_rounds + 1):
            t0 = time.time()
            graph = sim.nn_descent_round(payload, graph, k_descent=kd)
            round_wall = round(time.time() - t0, 1)
            cum = round(cum + round_wall, 1)
            w = Window.partitionBy("src").orderBy(
                F.col("cos_sim").desc(), F.col("dst")
            )
            top = (
                graph.filter(F.col("src").isin(list(truth)))
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= k)
                .select("src", "dst")
                .collect()
            )
            rec = sampled_recall((r["src"], r["dst"]) for r in top)
            emit({
                "arm": "nn_descent", "corpus": corpus, "n_vecs": N,
                "seed": seed_mode, "seed_bits": bits,
                "kd": kd, "round": rnd, "round_wall_s": round_wall,
                "cum_wall_s": cum, "recall_at_5": rec,
                "n_sample_queries": n_sample,
            })
            if rec >= target:
                break


if __name__ == "__main__":
    main()
