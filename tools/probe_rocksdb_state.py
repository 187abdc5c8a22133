#!/usr/bin/env python
"""A/B the streaming state-store provider: default (HDFS-backed
in-memory) vs RocksDB, on the per-user-state keys at 10x/100x event
counts (VERDICT r10 #5; corpora from tools/measure_stream_scale.py).

RocksDB keeps keyed state off-heap/on-disk with changelog-free local
checkpoints - the production posture when per-key state exceeds
executor heap. The question here is whether it also WINS (or at
least holds) at this workload's state sizes, where the default
provider keeps every version in heap maps.

    python tools/measure_stream_scale.py --gen-only   # once
    python tools/probe_rocksdb_state.py [x10 x100]
        [--changelog] [--reps N] [--keys k1,k2] [--warm]

r13 (VERDICT r12 #5): ``--changelog`` adds a third arm -
RocksDB WITH changelog checkpointing + bounded memory
(spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing
.enabled=true, boundedMemoryUsage=true) - the configuration a
production deployment actually runs (per-batch delta upload instead
of full snapshot). ``--reps N`` interleaves the arms N times
(A,B,C,A,B,C,...) so a steal burst cannot bias one arm;
``--warm`` runs one untimed pass of the first key first (the
first heavy stream in a fresh session pays JIT warm-up).

Appends JSONL to .scratch/stream_scale/rocksdb_ab.jsonl and prints
each measurement. Each (provider, corpus, key) runs in the SAME
session (provider is a per-query conf read at stream start); caches
and scratch are cleared between runs.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT_ROOT = os.path.join(REPO, ".scratch", "stream_scale")
ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
DEFAULT = (
    "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider"
)
KEYS = ["s_session_window", "s_stateful_running", "s_stream_dedup"]
N_EVENTS_X1 = 100_000


def main() -> None:
    # positional corpus tags = non-flag args that are NOT a flag's
    # value (r13: --reps 3 / --keys k1,k2 take values)
    _valued_flags = {"--reps", "--keys"}
    tags = [
        a
        for i, a in enumerate(sys.argv[1:], 1)
        if not a.startswith("--")
        and sys.argv[i - 1] not in _valued_flags
    ] or ["x10", "x100"]

    from pudatalake_spark import registry
    from pudatalake_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="rocksdb-ab")
    spark.sparkContext.setLogLevel("ERROR")
    # The corpora come from measure_stream_scale.py --gen-only; fail
    # loudly if they are missing instead of FileNotFoundError on the
    # sink open (ADVICE r11).
    missing = [t for t in tags if not os.path.isdir(os.path.join(OUT_ROOT, t))]
    if missing:
        sys.exit(
            f"corpus dirs missing under {OUT_ROOT}: {missing} - run "
            "`python tools/measure_stream_scale.py --gen-only` first"
        )
    os.makedirs(OUT_ROOT, exist_ok=True)
    sink = open(os.path.join(OUT_ROOT, "rocksdb_ab.jsonl"), "a")

    def emit(rec):
        sink.write(json.dumps(rec) + "\n")
        sink.flush()
        print(json.dumps(rec), flush=True)

    from pudatalake_spark.streaming import streams as _streams

    reps = (
        int(sys.argv[sys.argv.index("--reps") + 1])
        if "--reps" in sys.argv
        else 1
    )
    keys = (
        sys.argv[sys.argv.index("--keys") + 1].split(",")
        if "--keys" in sys.argv
        else KEYS
    )
    CHANGELOG_CONFS = {
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
        "spark.sql.streaming.stateStore.rocksdb."
        "boundedMemoryUsage": "true",
    }
    arms = [(DEFAULT, "default", False), (ROCKSDB, "rocksdb", False)]
    if "--changelog" in sys.argv:
        arms.append((ROCKSDB, "rocksdb_changelog", True))

    def run_arm(tag, sf_dir, n_events, provider, label, changelog, rep):
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", provider
        )
        for c, v in CHANGELOG_CONFS.items():
            if changelog:
                spark.conf.set(c, v)
            else:
                try:
                    spark.conf.unset(c)
                except Exception:  # noqa: BLE001 - never set yet
                    pass
        # s_session_window / s_stateful_running hardwire
        # state_provider=ROCKSDB_PROVIDER since r11, which would
        # override the ambient conf and make the 'default' arm
        # measure RocksDB vs RocksDB (ADVICE r11). Repoint the
        # module constant so the per-query override resolves to
        # THIS arm's provider; restored implicitly by the next
        # loop iteration setting it again.
        _streams.ROCKSDB_PROVIDER = provider
        for key in keys:
            t0 = time.time()
            try:
                rows = registry.QUERIES[key](spark, sf_dir).count()
                wall = round(time.time() - t0, 2)
                emit({"corpus": tag, "provider": label, "key": key,
                      "rep": rep, "wall_s": wall, "out_rows": rows,
                      "events_per_s": round(n_events / wall)})
            except Exception as e:  # noqa: BLE001 - record and move on
                emit({"corpus": tag, "provider": label, "key": key,
                      "rep": rep, "wall_s": round(time.time() - t0, 2),
                      "error": str(e)[:300]})

    for tag in tags:
        sf_dir = os.path.join(OUT_ROOT, tag)
        n_events = N_EVENTS_X1 * int(tag.lstrip("x"))
        if "--warm" in sys.argv:
            # untimed JIT/codegen warm-up pass
            registry.QUERIES[keys[0]](spark, sf_dir).count()
        # Interleave (A,B,C),(A,B,C),... so a hypervisor steal burst
        # lands across arms instead of inside one (r12 hygiene).
        for rep in range(1, reps + 1):
            for provider, label, changelog in arms:
                run_arm(tag, sf_dir, n_events, provider, label,
                        changelog, rep)


if __name__ == "__main__":
    main()
