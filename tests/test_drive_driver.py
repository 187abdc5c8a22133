"""The per-key gate of tools/drive_driver.py: each of its three checks
(oracle, determinism, partition) can fail a key, and the adverse layout
never outlives the check."""

from __future__ import annotations

import itertools
import os
import sys

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from pudatalake_spark import registry
from pudatalake_spark.loaders import TABLES

from .conftest import SF_DIR

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from drive_driver import ADVERSE, check_key, failed, sweep_key  # noqa: E402

SHUFFLE = "spark.sql.shuffle.partitions"


def _real_key(duck):
    key = "q_agg_groupby"
    return registry.queries()[key], duck.execute(registry.oracles()[key]).df()


def test_real_oracle_key_passes_all_three_checks(spark, duck):
    build, oracle = _real_key(duck)
    rec = check_key(spark, build, SF_DIR, oracle)
    assert (rec["status"], rec["determinism"], rec["partition"]) == (
        "oracle-match", "ok", "ok"), rec.get("detail")
    assert rec["rows"] > 0 and not failed(rec)


def test_output_that_reads_the_layout_is_partition_sensitive(spark):
    def build(s, sf):
        return s.range(1).select(F.lit(s.conf.get(SHUFFLE)).alias("n"))

    default = spark.conf.get(SHUFFLE)
    rec = check_key(spark, build, SF_DIR)
    assert (rec["status"], rec["determinism"], rec["partition"]) == (
        "rows-only", "ok", "sensitive")
    assert f"'n': '{ADVERSE[SHUFFLE]}'" in rec["detail"]
    assert failed(rec)
    assert spark.conf.get(SHUFFLE) == default
    # A key declared to report its layout is recorded, not failed.
    declared = check_key(spark, build, SF_DIR, layout_reporting=True)
    assert declared["partition"] == "by-design" and not failed(declared)


def test_output_that_changes_between_calls_is_nondeterministic(spark):
    calls = itertools.count()

    def build(s, sf):
        return s.range(1).select(F.lit(next(calls)).alias("n"))

    rec = check_key(spark, build, SF_DIR)
    assert rec["determinism"] == "nondeterministic" and failed(rec)
    assert "run B" in rec["detail"]


def test_wrong_oracle_fails(spark, duck):
    build, oracle = _real_key(duck)
    wrong = oracle.head(len(oracle) - 1)
    rec = check_key(spark, build, SF_DIR, wrong)
    assert rec["status"] == "FAIL" and failed(rec)
    assert "rowcount" in rec["detail"]
    rec = check_key(spark, build, SF_DIR, pd.DataFrame({"n": [1]}))
    assert rec["status"] == "FAIL"


def test_defaults_are_restored_when_the_adverse_run_raises(spark):
    def build(s, sf):
        if s.conf.get(SHUFFLE) == ADVERSE[SHUFFLE]:
            raise RuntimeError("adverse run")
        return s.range(3)

    before = {k: spark.conf.get(k) for k in ADVERSE}
    try:
        check_key(spark, build, SF_DIR)
    except RuntimeError:
        pass
    else:
        raise AssertionError("the adverse run's error was swallowed")
    assert {k: spark.conf.get(k) for k in ADVERSE} == before


def _low_j_lake(tmp_path):
    """The fixture lake with its documents replaced by 40 doc pairs
    whose shingle Jaccard sits just above tau=0.5: base text of 100
    'wXX' tokens, the twin replaces every second token. 8 bands of 8
    rows catch a pair at J~0.52 with P = 1-(1-J^8)^8 ~ 4%, so the
    seeded banding misses most pairs."""
    rows = []
    for p in range(40):
        words = [f"w{p:02d}{i:03d}" for i in range(100)]
        twin = [w if i % 2 == 0 else f"v{p:02d}{i:03d}" for i, w in enumerate(words)]
        rows += [(2 * p, " ".join(words)), (2 * p + 1, " ".join(twin))]
    docs = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    for t in TABLES:
        if t != "documents":
            os.symlink(os.path.join(SF_DIR, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    return str(tmp_path)


def test_minhash_banding_miss_fails_the_sweep(spark, tmp_path):
    """q_dedup_near_minhash claims its exact-pair oracle on any lake:
    a banding miss is a short row count, and the sweep fails the key."""
    sf = _low_j_lake(tmp_path)
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')")
        rec = sweep_key(spark, con, sf, "q_dedup_near_minhash",
                        registry.queries(), registry.oracles())
    assert rec["status"] == "FAIL" and failed(rec), rec
    assert "rowcount" in rec["detail"] and rec["rows"] < 40
