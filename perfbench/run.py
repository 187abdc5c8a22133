#!/usr/bin/env python3
"""Seeded closed-loop benchmark of the lake engine.

    python3 perfbench/run.py --workload lake_sql --seed 1 --seconds 10 --trace 0

Run from the repository root. One client (this process) drives one Spark
session at ``local[<cpus / 2>]`` and issues the next op only when the
previous one has finished. Half the cpus, because the JVM's JIT and GC
threads, the Python driver and the Python workers need the rest: at
``local[<cpus>]`` they contend with the task threads, and a pass was still
getting faster after eight passes, at a rate that varied from run to run.
An op is one registered builder call plus a forced ``noop`` write of its
result; a pass is the workload's op list once, in an order the seed
chooses. A run is:

1. set-up, once cold (it launches the JVM) and then three times warm:
   ``session.get_spark`` + ``registry.load_all`` + the first
   ``loaders.load``, with the package imported afresh each time;
2. one first pass on lake 0, each op followed (outside its timing) by the
   correctness check of its key: the DuckDB oracle on the same lake, or,
   for keys without one, a non-empty schema;
3. steady passes, each on a lake of its own: the workload's
   ``steady_passes`` (``workloads.py``) per 20 s of ``--seconds``, at
   least one. The count depends on nothing measured.

Every lake is generated from ``--seed`` by ``lakegen.py`` before it is
read, inside a work directory under the checkout that is removed at exit.
Nothing calls ``registry.clear_caches``, so whatever an op persists stays.

``--trace 0`` reports the end-to-end metrics. ``pass_s`` sums each key's
best time over the steady passes: on a shared host, interference only
ever adds time, and one slow sample of a key does not move its best one.
``--trace 1`` makes the same run, then one traced pass on a fresh session
with Spark's event log on, job groups
``build:<key>``/``plan:<key>``/``exec:<key>``, a
``StreamingQueryListener`` and /proc sampling, and reports the per-layer
metrics and, beside them, the tracing overhead. Every run prints the host's
1-minute load and CPU steal. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_FILES = ("pudatalake_spark/registry.py", "bench.py", "tests/conftest.py")

import eventlog  # noqa: E402
import lakegen  # noqa: E402
import probes  # noqa: E402
from workloads import BUILD_KEYS, END_TO_END, LAYERS, PER_LAYER, WORKLOADS  # noqa: E402

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}
#: warm set-ups per run, after the cold one; ``setup_s`` is their median.
#: The cold one is left out: it launches the JVM and varies with the host.
WARM_SETUPS = 3
#: The JVM compiles a method after a tenth of its default invocation
#: count. With the defaults, the driver-side code of an op (Catalyst's
#: rules, the planner) was still being compiled after eight steady passes,
#: and a pass got faster by 1.6-2.5x over a run at a rate that varied
#: from run to run; with this, by 1.2-1.5x, most of it in the first pass.
JIT_OPTIONS = "-XX:CompileThresholdScaling=0.1"
#: ``ops.tail_s`` is the highest percentile with this many steady ops
#: beyond it, and never below the median.
TAIL_BEYOND = 10


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.01,
                    help="lake scale factor (0.01: 60k lineitem rows, ~2 MB)")
    return ap.parse_args(argv)


# ---------------------------------------------------------------- lakes


class Lakes:
    """Lake ``i`` of the run, written on first use."""

    def __init__(self, root: str, seed: int, scale: float):
        self.root, self.seed, self.scale = root, seed, scale
        self.bytes_read = 0
        self._made: dict[int, str] = {}

    def get(self, i: int) -> str:
        if i not in self._made:
            path = os.path.join(self.root, f"lake{i}")
            stats = lakegen.write_lake(path, self.seed, i, self.scale)
            self.bytes_read += sum(b for _, b in stats.values())
            print(f"lake {i}: " + ", ".join(
                f"{t} {r} rows {b} B" for t, (r, b) in stats.items()))
            self._made[i] = path
        return self._made[i]


# -------------------------------------------------------------- session


class Session:
    """One engine session, with the package imported afresh for it."""

    def __init__(self, cores: int, lake: str):
        for m in [m for m in sys.modules if m.split(".")[0] == "pudatalake_spark"]:
            del sys.modules[m]
        t0 = time.perf_counter()
        session = importlib.import_module("pudatalake_spark.session")
        self.spark = session.get_spark(app_name="perfbench", master=f"local[{cores}]")
        t1 = time.perf_counter()
        self.registry = importlib.import_module("pudatalake_spark.registry")
        self.registry.load_all()
        t2 = time.perf_counter()
        self.loaders = importlib.import_module("pudatalake_spark.loaders")
        self.loaders.load(self.spark, lake)
        t3 = time.perf_counter()
        self.times = {"load_all": t2 - t1, "load": t3 - t2, "total": t3 - t0}
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext

    def layer(self, key: str) -> str:
        return self.registry.QUERIES[key].__module__.split(".")[1]

    def stop(self) -> None:
        self.spark.stop()


def _why(e: Exception) -> str:
    lines = str(e).strip().splitlines()
    return f"{type(e).__name__}: {lines[0][:200] if lines else ''}"


class Op:
    __slots__ = ("key", "op_s", "build_s", "plan_s", "exec_s", "error", "windows")

    def __init__(self, key):
        self.key, self.error, self.windows = key, None, []
        self.op_s = self.build_s = self.plan_s = self.exec_s = 0.0


def run_op(sess: Session, key: str, lake: str, traced: bool):
    """Run one op; return ``(Op, frame)``. With ``traced``, tag its Spark
    jobs by phase and time Catalyst planning on its own."""
    op = Op(key)
    fn = sess.registry.QUERIES[key]
    df = None

    def phase(kind, body):
        if traced:
            sess.sc.setJobGroup(f"{kind}:{key}", key)
        w0, t0 = time.time(), time.perf_counter()
        try:
            return body()
        finally:
            dt = time.perf_counter() - t0
            setattr(op, f"{kind}_s", dt)
            op.windows.append((kind, key, w0 * 1e3, time.time() * 1e3))

    try:
        df = phase("build", lambda: fn(sess.spark, lake))
        if traced:
            phase("plan", lambda: df._jdf.queryExecution().executedPlan())
        phase("exec", lambda: df.write.format("noop").mode("overwrite").save())
    except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
        op.error = _why(e)
    finally:
        if traced:
            sess.sc.setLocalProperty("spark.jobGroup.id", None)
            sess.sc.setLocalProperty("spark.job.description", None)
    op.op_s = op.build_s + op.plan_s + op.exec_s
    return op, df


# ---------------------------------------------------------- correctness


class Checker:
    """Compares an op's output with its key's DuckDB oracle on the same
    lake, order-insensitively, with the canonicalization of
    ``tests/conftest.py``."""

    def __init__(self, lake: str):
        import duckdb

        self.lake = lake
        self.con = duckdb.connect()
        for t in sorted(f[:-len(".parquet")] for f in os.listdir(lake)):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake}/{t}.parquet')")

    def check(self, sess: Session, key: str, df) -> str | None:
        """None when the output is right, else why not."""
        from tests.conftest import assert_frames_match

        try:
            if not df.schema.fields:
                return "empty schema"
            oracle = sess.registry.ORACLES.get(key)
            if oracle is None:
                return None
            assert_frames_match(df.toPandas(), self.con.execute(oracle).df(), key)
            return None
        except Exception as e:  # noqa: BLE001
            return _why(e)


# ---------------------------------------------------------------- passes


class StorageSampler:
    """Cached blocks and their MB after every op of one session."""

    def __init__(self, spark):
        self.spark, self.mb, self.blocks = spark, [], []

    def sample(self, _op) -> None:
        mb, blocks = probes.storage(self.spark)
        self.mb.append(mb)
        self.blocks.append(blocks)


class Pass:
    """One pass: the switch to its lake (``loaders.load``, a schema read
    of every table on a new lake) and then its ops. The switch is timed
    apart, so that it is not charged to whichever op the order puts
    first."""

    def __init__(self, load_s: float, ops: list[Op]):
        self.load_s, self.ops = load_s, ops

    @property
    def seconds(self) -> float:
        return self.load_s + sum(o.op_s for o in self.ops)


def run_pass(sess, keys, lake, traced=False, checker=None, on_op=None) -> Pass:
    t0 = time.perf_counter()
    sess.loaders.load(sess.spark, lake)
    load_s = time.perf_counter() - t0
    ops = []
    for key in keys:
        op, df = run_op(sess, key, lake, traced)
        if checker is not None and op.error is None:
            bad = checker.check(sess, key, df)
            if bad:
                op.error = f"check: {bad}"
        if on_op is not None:
            on_op(op)
        ops.append(op)
    return Pass(load_s, ops)


def quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ------------------------------------------------------------- traced phase


def traced_phase(sess, keys, lakes, lake_index, work, cores):
    """Per-layer metrics from one pass of a fresh session with the event
    log on."""
    evdir = os.path.join(work, "eventlog")
    os.makedirs(evdir, exist_ok=True)
    system = sess.spark._jvm.java.lang.System
    sess.stop()
    for k, v in {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + evdir,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}.items():
        system.setProperty(k, v)
    sess = Session(cores, lakes.get(0))
    listener = probes.progress_listener()
    sess.spark.streams.addListener(listener)
    scratch = os.environ["PUDL_SCRATCH"]
    samples = {"files": 0, "bytes": 0}

    def on_op(op):
        if sess.layer(op.key) == "sources":
            n, b = probes.files_since(scratch, op.windows[0][2] / 1e3)
            samples["files"] += n
            samples["bytes"] += b

    cpu0 = probes.python_worker_cpu()
    p = run_pass(sess, keys, lakes.get(lake_index), traced=True, on_op=on_op)
    pyworker = probes.cpu_delta(cpu0, probes.python_worker_cpu())
    time.sleep(0.5)  # let the listener bus deliver the last progress events
    progress = list(listener.progress)
    sess.stop()
    logs = glob.glob(os.path.join(evdir, "*"))
    ev = eventlog.parse(logs[0], [w for o in p.ops for w in o.windows])

    m: dict[str, float] = {}
    for layer in LAYERS:
        m[f"{layer}.build_s"] = sum(o.build_s for o in p.ops if sess.layer(o.key) == layer)
        m[f"{layer}.build_jobs"] = sum(
            c for (kind, key), c in ev["jobs"].items()
            if kind == "build" and sess.layer(key) == layer)
    for key in BUILD_KEYS:
        m[f"build_s.{key}"] = sum(o.build_s for o in p.ops if o.key == key)
    last_state = {q["run"]: q["state_rows"] for q in progress}
    m.update({
        "sources.files_written": samples["files"],
        "sources.bytes_written_mb": samples["bytes"] / 1e6,
        "streaming.batches": len(progress),
        "streaming.trigger_s": sum(q["trigger_ms"] for q in progress) / 1e3,
        "streaming.state_rows": sum(last_state.values()),
        "catalyst.plan_s": sum(o.plan_s for o in p.ops),
        "spark.exec_s": sum(o.exec_s for o in p.ops),
        "spark.jobs": sum(ev["jobs"].values()),
        "spark.tasks": ev["tasks"],
        "spark.executor_run_s": ev["executor_run_s"],
        "spark.executor_cpu_s": ev["executor_cpu_s"],
        "spark.cpu_run_ratio": (ev["executor_cpu_s"] / ev["executor_run_s"]
                                if ev["executor_run_s"] else 0.0),
        "spark.gc_s": ev["gc_s"],
        "spark.shuffle_write_mb": ev["shuffle_write_bytes"] / 1e6,
        "spark.shuffle_read_mb": ev["shuffle_read_bytes"] / 1e6,
        "spark.spill_mb": ev["spill_bytes"] / 1e6,
        "spark.input_mb": ev["input_bytes"] / 1e6,
        "pyworker.cpu_s": pyworker,
        "stored_bytes_per_input_byte": probes.tree_bytes(scratch) / lakes.bytes_read,
    })
    return m, p


# ------------------------------------------------------------------ run


def run(args, work: str) -> dict:
    from bench import _cpu_stat

    cpus = len(os.sched_getaffinity(0))
    cores = max(1, cpus // 2)
    load1, stat0 = os.getloadavg()[0], _cpu_stat()
    spec = WORKLOADS[args.workload]
    keys = list(spec["keys"])
    n_passes = max(1, round(spec["steady_passes"] * args.seconds / 20))
    random.Random(args.seed).shuffle(keys)
    print(f"perfbench workload={args.workload} seed={args.seed} scale={args.scale} "
          f"cpus={cpus} spark=local[{cores}] seconds={args.seconds} trace={args.trace}")
    lakes = Lakes(os.path.join(work, "lakes"), args.seed, args.scale)
    lake0 = lakes.get(0)
    print("pass order: " + " ".join(keys))

    sess = Session(cores, lake0)
    cold, setups = sess.times, []
    for _ in range(WARM_SETUPS):
        sess.stop()
        sess = Session(cores, lake0)
        setups.append(sess.times)
    t0 = time.perf_counter()
    sess.loaders.load(sess.spark, lake0)
    load_hit = time.perf_counter() - t0

    storage = StorageSampler(sess.spark)
    first = run_pass(sess, keys, lake0, checker=Checker(lake0), on_op=storage.sample)
    passes = [run_pass(sess, keys, lakes.get(i), on_op=storage.sample)
              for i in range(1, 1 + n_passes)]
    steady = [o for p in passes for o in p.ops]
    pass_times = [p.seconds for p in passes]
    tail_q = max(0.5, (len(steady) - TAIL_BEYOND) / len(steady))
    per_key = {k: min(o.op_s for o in steady if o.key == k) for k in keys}
    e2e = {
        "setup_s": statistics.median(s["total"] for s in setups),
        "pass_s": min(p.load_s for p in passes) + sum(per_key.values()),
    }
    untraced = {
        "first_pass_s": first.seconds,
        "op_s_geomean": math.exp(statistics.fmean(math.log(v) for v in per_key.values())),
        "ops.p50_s": statistics.median(o.op_s for o in steady),
        "ops.tail_s": quantile([o.op_s for o in steady], tail_q),
    }
    all_ops = first.ops + steady
    per_layer = None
    if args.trace:
        per_layer, traced = traced_phase(sess, keys, lakes, 1 + n_passes, work, cores)
        all_ops += traced.ops
    else:
        sess.stop()
    stat1 = _cpu_stat()
    steal = (100.0 * (stat1[1] - stat0[1]) / (stat1[0] - stat0[0])
             if stat0 and stat1 and stat1[0] > stat0[0] else 0.0)

    failed = [o for o in all_ops if o.error]
    print(f"host: loadavg1={load1:.2f} steal_pct={steal:.3f}")
    print(f"set-ups (s): cold {cold['total']:.3f}, warm "
          + ", ".join(f"{s['total']:.3f}" for s in setups)
          + f"; steady passes: {len(passes)} (" + ", ".join(f"{t:.3f}" for t in pass_times) + ")")
    notes = {"setup_s": f"median of {WARM_SETUPS} warm set-ups",
             "pass_s": f"best lake switch + each key's best op, over {len(passes)} steady "
                       f"passes (median pass {statistics.median(pass_times):.3f} s)",
             "op_s_geomean": f"of each key's best op, over {len(keys)} keys",
             "first_pass_s": "cold",
             "ops.p50_s": f"of {len(steady)} steady ops",
             "ops.tail_s": f"p{100 * tail_q:.0f} of {len(steady)} steady ops"}
    print("end-to-end:")
    for name, value in e2e.items():
        print(f"  {name:<28} {value:12.6f} {UNITS[name]:<6} {notes[name]}")
    print(f"  {'failed_op_ratio':<28} {len(failed) / len(all_ops):12.6f} ratio  "
          f"{len(failed)}/{len(all_ops)} failed; failing keys: "
          + (", ".join(sorted({o.key for o in failed})) or "none"))
    print("untraced, not gated:")
    for name, value in untraced.items():
        print(f"  {name:<28} {value:12.6f} {UNITS[name]:<6} {notes[name]}")
    print("steady op bests (s): " + ", ".join(
        f"{k} {v:.3f}" for k, v in sorted(per_key.items(), key=lambda kv: kv[1])))
    for o in failed[:20]:
        print(f"    {o.key}: {o.error}")
    if per_layer is not None:
        per_layer["registry.load_all_s"] = statistics.median(s["load_all"] for s in setups)
        per_layer["loaders.load_s"] = statistics.median(s["load"] for s in setups)
        per_layer["loaders.load_hit_s"] = load_hit
        per_layer["setup.cold_s"] = cold["total"]
        per_layer.update(untraced)
        per_layer["storage.blocks_max"] = max(storage.blocks)
        per_layer["storage.blocks_end"] = storage.blocks[-1]
        per_layer["storage_peak_mb"] = max(storage.mb)
        print("per-layer:")
        for name, unit, _ in PER_LAYER:
            print(f"  {name:<34} {per_layer[name]:14.6f} {unit}")
        print(f"  tracing overhead: traced pass {traced.seconds:.3f} s - untraced pass_s "
              f"{e2e['pass_s']:.3f} s = {traced.seconds - e2e['pass_s']:+.3f} s")
        report = {name: per_layer[name] for name, _, _ in PER_LAYER}
    else:
        report = {name: e2e[name] for name, *_ in END_TO_END}
    return {
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in report.items()},
    }


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the engine write in ``work``."""
    for d in ("tmp", "spark-local", "scratch", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PUDL_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT_OPTIONS}' "
        "pyspark-shell")


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {', '.join(missing)}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    _prepare_env(work)
    # A terminated run still stops its JVM and removes its work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, work)
    finally:
        if "pyspark" in sys.modules:
            probes.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
