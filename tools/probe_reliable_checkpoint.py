#!/usr/bin/env python
"""A/B the superstep materialization strategy on iterative kernels at
x10 scale: default ``localCheckpoint`` vs reliable ``checkpoint()``
into a directory (VERDICT r11 #5 - SCALING §19 documents the trade
but never measured it; this pins the overhead number that makes the
dynamic-allocation guidance quantitative).

Every iterative kernel routes materialization through ONE helper,
``session.superstep_checkpoint``, which picks the strategy from the
runtime conf ``spark.pudatalake.checkpoint.dir`` - so the A/B is a
conf flip on the same session, same corpus, same code.

    python tools/measure_graph_scale.py --gen-only    # once (x10 corpus)
    python tools/measure_dedup_scale.py --gen-only    # once (dedup x10)
    python tools/probe_reliable_checkpoint.py

Protocol (BASELINE.md measurement-hygiene rules): one untimed warm
run per kernel absorbs JIT/codegen, then INTERLEAVED timed passes
(A,B,A,B - r11: same-session A/B is order-biased toward the second
arm otherwise); the reported number is the median of the per-arm
samples. Caches cleared between runs. The checkpoint dir is LOCAL
disk here, so the measured reliable-arm overhead is a LOWER bound on
a real cluster's (HDFS/S3 adds replication + network to the same
write+read round-trip).

Appends JSONL to .scratch/reliable_ckpt/ab.jsonl.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT_ROOT = os.path.join(REPO, ".scratch", "reliable_ckpt")
GRAPH_X10 = os.path.join(REPO, ".scratch", "graph_scale", "x10")
DEDUP_X10 = os.path.join(REPO, ".scratch", "dedup_scale", "x10")
REPS = 2  # timed samples per arm, interleaved

#: kernel -> corpus dir. pagerank/kcore/bfs are the superstep-heavy
#: graph kernels; dedup_groups is the CC loop this round re-shaped
#: (r12 one-job rounds), measured on the dedup family's own corpus.
KERNELS: list[tuple[str, str]] = [
    ("q_graph_pagerank", GRAPH_X10),
    ("q_graph_kcore", GRAPH_X10),
    ("q_graph_bfs_levels", GRAPH_X10),
    ("q_dedup_groups", DEDUP_X10),
]


def main() -> None:
    missing = sorted({d for _, d in KERNELS if not os.path.isdir(d)})
    if missing:
        sys.exit(
            f"corpus dirs missing: {missing} - run "
            "`python tools/measure_graph_scale.py --gen-only` and "
            "`python tools/measure_dedup_scale.py --gen-only` first"
        )
    os.makedirs(OUT_ROOT, exist_ok=True)
    ckdir = os.path.join(OUT_ROOT, "ckpt")
    shutil.rmtree(ckdir, ignore_errors=True)
    os.makedirs(ckdir, exist_ok=True)

    from pudatalake_spark import registry
    from pudatalake_spark.session import CHECKPOINT_DIR_CONF, get_spark

    registry.load_all()
    spark = get_spark(app_name="reliable-ckpt-ab")
    spark.sparkContext.setLogLevel("ERROR")

    sink = open(os.path.join(OUT_ROOT, "ab.jsonl"), "a")

    def emit(rec):
        sink.write(json.dumps(rec) + "\n")
        sink.flush()
        print(json.dumps(rec), flush=True)

    def set_arm(arm: str) -> None:
        if arm == "reliable":
            spark.conf.set(CHECKPOINT_DIR_CONF, ckdir)
        else:
            try:
                spark.conf.unset(CHECKPOINT_DIR_CONF)
            except Exception:  # noqa: BLE001 - already unset
                pass

    for key, sf_dir in KERNELS:
        fn = registry.QUERIES[key]
        # untimed warm run on the default arm: JIT + codegen + scan
        # init belong to the session, not either arm
        set_arm("local")
        try:
            fn(spark, sf_dir).count()
        except Exception as e:  # noqa: BLE001
            emit({"key": key, "error": f"warm: {str(e)[:300]}"})
            continue
        samples: dict[str, list[float]] = {"local": [], "reliable": []}
        rows: dict[str, int] = {}
        for _ in range(REPS):
            for arm in ("local", "reliable"):
                set_arm(arm)
                t0 = time.time()
                try:
                    rows[arm] = fn(spark, sf_dir).count()
                    samples[arm].append(round(time.time() - t0, 2))
                except Exception as e:  # noqa: BLE001
                    emit({"key": key, "arm": arm,
                          "error": str(e)[:300]})
        set_arm("local")
        if samples["local"] and samples["reliable"]:
            med_l = statistics.median(samples["local"])
            med_r = statistics.median(samples["reliable"])
            emit({
                "key": key,
                "corpus": os.path.basename(os.path.dirname(sf_dir))
                + "/" + os.path.basename(sf_dir),
                "local_s": med_l,
                "reliable_s": med_r,
                "overhead_x": round(med_r / med_l, 3) if med_l else None,
                "samples": samples,
                "out_rows": rows,
                "rows_equal": len(set(rows.values())) == 1,
            })


if __name__ == "__main__":
    main()
