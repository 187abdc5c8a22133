"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke test starts one Spark JVM per workload (a few minutes in all).
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import pytest

import lakegen
from workloads import END_TO_END, PER_LAYER, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_generator_is_deterministic(tmp_path):
    a = lakegen.write_lake(str(tmp_path / "a"), seed=5, index=1, scale=0.001)
    lakegen.write_lake(str(tmp_path / "b"), seed=5, index=1, scale=0.001)
    lakegen.write_lake(str(tmp_path / "c"), seed=6, index=1, scale=0.001)
    lakegen.write_lake(str(tmp_path / "d"), seed=5, index=2, scale=0.001)
    names = [f"{t}.parquet" for t in a]
    same, diff, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert same == names and not diff
    for other in ("c", "d"):
        _, diff, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / other, names, shallow=False)
        assert {"lineitem.parquet", "documents.parquet", "embeddings.parquet"} <= set(diff)


def test_metric_names_and_units_match_benchmark_json():
    for name, unit, *_ in END_TO_END + PER_LAYER:
        assert NAME.fullmatch(name) and UNIT.fullmatch(unit), (name, unit)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] \
        == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == PER_LAYER


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_one_pass(workload):
    """A first pass and one steady pass, untraced then traced, at scale
    0.001: no op fails, and every metric comes out named and with a unit."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", "1", "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, p.stdout
    assert list(result["metrics"]) == [name for name, *_ in PER_LAYER]
    for name, m in result["metrics"].items():
        assert NAME.fullmatch(name) and UNIT.fullmatch(m["unit"]), (name, m)
    printed = "\n".join(lines[:-1])
    for name, unit, *_ in END_TO_END:
        assert re.search(rf"^\s+{re.escape(name)}\s+\S+\s+{re.escape(unit)}\b", printed, re.M), name
    for note in ("failed_op_ratio", "pass order:", "host: loadavg1=", "tracing overhead:"):
        assert note in printed, note


def test_refuses_to_run_without_the_program(tmp_path):
    """A checkout holding only the benchmark exits non-zero and prints
    no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lake_sql", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and not p.stdout.strip()
