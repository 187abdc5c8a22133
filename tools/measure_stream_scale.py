#!/usr/bin/env python
"""Measure the true-streaming family's throughput at 1x / 10x / 100x
the sf0.1 event count (r10 — SCALING §5 asserts state bounds; this
adds the measured rows/s and the growth curve).

Corpus: disjoint-copy growth in the USER direction — event_id and
user_id shift per copy, ts stays — so the event-time horizon (and
therefore watermark/window geometry) is preserved while the keyed
state (windows per user, dedup keys, per-user frames) grows 10x/100x.
That is precisely the direction streaming state grows in production
(more users, same day), and the adversarial one for the state store.

Each key runs exactly as the registry defines it: stage the events
table as multi-file scratch input, run the streaming query with
trigger(availableNow=True) to completion, count the result. The wall
therefore INCLUDES the staging write — noted in the artifact;
events/s is computed against total wall (conservative).

Usage:
    python tools/measure_stream_scale.py            # all
    python tools/measure_stream_scale.py --gen-only # just corpora
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
OUT_ROOT = os.path.join(REPO, ".scratch", "stream_scale")
OFF = 10_000_000
SIZES = {"x10": 10, "x100": 100}
BUDGET_S = 420.0
KEYS = [
    "s_watermark_late",
    "s_session_window",
    "s_stream_dedup",
    "s_stateful_running",
    "s_anomaly_score",
    "s_window_approx_distinct",
    "s_stream_stream_join",
    "s_stream_static_join",
]
N_EVENTS_X1 = 100_000


def generate(tag: str, k: int) -> str:
    out_dir = os.path.join(OUT_ROOT, tag)
    done = os.path.join(out_dir, ".done")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 16")
    con.execute(
        f"COPY (SELECT event_id + i * {OFF} AS event_id, ts, "
        f"user_id + i * {OFF} AS user_id, event_type, value, props "
        f"FROM read_parquet('{SRC}/events.parquet'), "
        f"(SELECT unnest(range({k})) AS i) t) "
        f"TO '{out_dir}/events.parquet' (FORMAT PARQUET)"
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
    spark = get_spark(app_name="stream-scale")
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
        n_events = N_EVENTS_X1 * k
        for key in KEYS:
            if key in over:
                emit({"corpus": tag, "k": k, "key": key,
                      "skipped": "over budget at smaller size"})
                continue
            t0 = time.time()
            try:
                rows = registry.QUERIES[key](spark, d).count()
                wall = round(time.time() - t0, 2)
                emit({"corpus": tag, "k": k, "key": key, "wall_s": wall,
                      "out_rows": rows, "n_events": n_events,
                      "events_per_s": round(n_events / wall),
                      "note": "wall includes staging write"})
                if wall > BUDGET_S:
                    over.add(key)
            except Exception as e:
                emit({"corpus": tag, "k": k, "key": key,
                      "wall_s": round(time.time() - t0, 2),
                      "error": str(e)[:300]})
                over.add(key)


if __name__ == "__main__":
    main()
