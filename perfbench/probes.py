"""Measurements taken from outside the engine: /proc, the file system,
Spark's storage status and its streaming listener bus."""

from __future__ import annotations

import os
import subprocess


def _proc_stat(pid: int) -> tuple[int, str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    return int(rest[1]), comm, rest  # rest[0] is the state field


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live process below ``root`` (default: this one)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def python_worker_cpu() -> dict[int, float]:
    """CPU seconds (own plus reaped children) of each Python process
    below this one: the engine's Python workers and their daemon."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for pid in descendants():
        st = _proc_stat(pid)
        if st and "python" in st[1]:
            # utime, stime, cutime, cstime are fields 14-17 of stat.
            out[pid] = sum(int(x) for x in st[2][11:15]) / tick
    return out


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def files_since(path: str, since: float) -> tuple[int, int]:
    """(count, bytes) of files under ``path`` modified at or after
    ``since`` (epoch seconds)."""
    n = nbytes = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(root, f))
            except OSError:
                continue
            if st.st_mtime >= since:
                n += 1
                nbytes += st.st_size
    return n, nbytes


def storage(spark) -> tuple[float, int]:
    """(MB, cached blocks) over ``getRDDStorageInfo``."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
    return mb, sum(i.numCachedPartitions() for i in infos)


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Keep(StreamingQueryListener):
        def __init__(self):
            self.progress = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({
                "run": str(p.runId),
                "trigger_ms": (p.durationMs or {}).get("triggerExecution", 0),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Keep()


def stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it to end.
    The JVM ends its Python workers before it exits."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
