#!/usr/bin/env python
"""Probe-depth ladder for the kNN graph at 200k vectors (VERDICT r12
#8): measure recall@5 + build wall for KNN_PROBES = 1, 2, 3 at the
shipped bits=3 config, extending SCALING §21's recall/volume curve
with the depths the 1M decision rests on.

Ladder bound: at KNN_BITS_PER_BAND=3 the single-flip ladder has
EXACTLY 3 rungs (ranks 0..2), so probes=4 is out-of-ladder BY DESIGN
- the r11 band_flip guard raises NotImplementedError rather than
probing duplicate buckets (pinned by test_knn_probe_ladder_guard).
Deeper probing at 3 bits requires multi-bit flips, which quadruple
the probe stream for strictly less marginal recall than re-banding;
that trade is recorded, not implemented.

    python tools/measure_sim_scale.py --gen-only   # once (corpora)
    python tools/probe_knn_ladder.py [--probes 1,2,3] [--sample 512]

Appends JSONL to .scratch/sim_scale/knn_ladder.jsonl.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT_ROOT = os.path.join(REPO, ".scratch", "sim_scale")
CORPUS = os.path.join(OUT_ROOT, "x100")  # 200k vectors
SEED = 20260816


def main() -> None:
    probes = (
        [int(x) for x in
         sys.argv[sys.argv.index("--probes") + 1].split(",")]
        if "--probes" in sys.argv
        else [1, 2, 3]
    )
    n_sample = (
        int(sys.argv[sys.argv.index("--sample") + 1])
        if "--sample" in sys.argv
        else 512
    )
    if not os.path.isdir(CORPUS):
        sys.exit(
            f"corpus missing at {CORPUS} - run "
            "`python tools/measure_sim_scale.py --gen-only` first"
        )

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from pudatalake_spark import registry
    from pudatalake_spark.llmops import similarity as sim
    from pudatalake_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="knn-ladder")
    spark.sparkContext.setLogLevel("ERROR")

    t = pq.read_table(
        os.path.join(CORPUS, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    ids = t["vec_id"].to_numpy()
    A = np.asarray(
        t["embedding"].combine_chunks().flatten(), dtype=np.float64
    ).reshape(len(ids), -1)
    A /= np.linalg.norm(A, axis=1, keepdims=True)
    k = sim.KNN_GRAPH_K
    rng = np.random.default_rng(SEED)
    sample = np.sort(rng.choice(len(ids), size=n_sample, replace=False))
    truth: dict[int, set] = {}
    for i in sample:
        scores = A[i] @ A.T
        scores[i] = -np.inf
        truth[int(ids[i])] = {
            int(ids[j]) for j in np.argpartition(-scores, k)[:k]
        }

    sink = open(os.path.join(OUT_ROOT, "knn_ladder.jsonl"), "a")

    def emit(rec):
        sink.write(json.dumps(rec) + "\n")
        sink.flush()
        print(json.dumps(rec), flush=True)

    graph_path = os.path.join(OUT_ROOT, "x100_ladder_graph")
    # untimed warm-up build (first heavy plan pays JIT)
    registry.QUERIES["q_sim_cosine_topk"](spark, CORPUS).count()
    for p in probes:
        old = sim.KNN_PROBES
        sim.KNN_PROBES = p
        try:
            t0 = time.time()
            registry.QUERIES["q_sim_knn_graph"](spark, CORPUS).write.mode(
                "overwrite"
            ).parquet(graph_path)
            wall = round(time.time() - t0, 1)
        finally:
            sim.KNN_PROBES = old
        gt = ds.dataset(graph_path).to_table(
            filter=ds.field("src").isin(list(truth)),
            columns=["src", "dst"],
        )
        got: dict[int, set] = {}
        for s, d in zip(gt["src"].to_numpy(), gt["dst"].to_numpy()):
            got.setdefault(int(s), set()).add(int(d))
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        emit({
            "n_vecs": len(ids), "bits": sim.KNN_BITS_PER_BAND,
            "bands": sim.KNN_GRAPH_BANDS, "probes": p,
            "wall_s": wall,
            "recall_at_5": round(hits / (len(truth) * k), 4),
            "n_sample_queries": n_sample,
        })


if __name__ == "__main__":
    main()
