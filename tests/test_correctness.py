"""Pytest mirror of the driver's t2 gate (SURVEY §5.2): every
registered query with an oracle runs on Spark AND DuckDB at sf0.001
and must match exactly after canonicalization. Keys without an oracle
get the rows-only check (runs, stable schema, >= 0 rows)."""

from __future__ import annotations

import pytest

from pudatalake_spark import registry

from tests.conftest import SF_DIR, assert_driver_canon_safe, assert_frames_match

registry.load_all()
ORACLED = sorted(k for k in registry.QUERIES if k in registry.ORACLES)
ROWS_ONLY = sorted(k for k in registry.QUERIES if k not in registry.ORACLES)

# Streaming keys are exercised in test_streaming.py (slow path).
_STREAMING = {k for k in ROWS_ONLY if k.startswith("s_")}


@pytest.mark.parametrize("key", ORACLED)
def test_vs_duckdb(spark, duck, key):
    sdf = registry.QUERIES[key](spark, SF_DIR)
    assert_driver_canon_safe(sdf.schema, key)
    spark_pdf = sdf.toPandas()
    duck_pdf = duck.execute(registry.ORACLES[key]).df()
    assert_frames_match(spark_pdf, duck_pdf, key)


@pytest.mark.parametrize("key", sorted(set(ROWS_ONLY) - _STREAMING))
def test_rows_only(spark, key):
    sdf = registry.QUERIES[key](spark, SF_DIR)
    assert_driver_canon_safe(sdf.schema, key)
    n = sdf.count()
    assert n >= 0
    assert len(sdf.schema.fields) > 0


def test_minhash_matches_exact_jaccard(spark):
    """q_dedup_near_minhash quality gate: its verified output must be
    FP-free against the exact-Jaccard truth (guaranteed by the exact
    verify on full shingle sets) and must find every planted near-dup
    (recall 1.0 on this fixture - banding miss probability at the
    planted J~0.9 is ~1%, observed 0)."""
    mh = registry.QUERIES["q_dedup_near_minhash"](spark, SF_DIR)
    jc = registry.QUERIES["q_dedup_near_jaccard"](spark, SF_DIR)
    m = {(r.doc1, r.doc2) for r in mh.collect()}
    j = {(r.doc1, r.doc2) for r in jc.collect()}
    assert m - j == set(), f"false positives: {sorted(m - j)[:5]}"
    assert j - m == set(), f"missed near-dups: {sorted(j - m)[:5]}"


def test_survey_inventory_matches_registry():
    """SURVEY.md §2 is THE contract: every backticked operator key in
    its tables must be registered, and every registered query must
    appear in SURVEY (combo rows like `q_join_left / right / full`
    expand by prefix). The declared inventory count must match too."""
    import re

    text = open("SURVEY.md").read()
    declared: set[str] = set()
    # Backticked identifiers (covers `a` / `b` combo rows with separate
    # backticks) plus slash-shorthand inside ONE backtick group
    # (`q_join_left / right / full` -> left, right, full siblings).
    for ident in re.findall(r"`([a-z0-9_]+)`", text):
        declared.add(ident)
    for combo in re.findall(r"`([a-z0-9_]+(?: / [a-z0-9_]+)+)`", text):
        parts = [p.strip() for p in combo.split("/")]
        head = parts[0]
        declared.add(head)
        for p in parts[1:]:
            declared.add(p if p in registry.QUERIES
                         else head.rsplit("_", 1)[0] + "_" + p)
    # Keep only operator-shaped identifiers (drops table names, file
    # names, config keys that happen to be backticked in prose).
    declared = {
        k for k in declared
        if k in registry.QUERIES
        or k.startswith(("q_", "s_", "src_", "sink_", "udf_", "udtf_"))
    }
    registered = set(registry.QUERIES)
    assert declared - registered == set(), (
        f"SURVEY declares unregistered keys: {sorted(declared - registered)}"
    )
    assert registered - declared == set(), (
        f"registered but missing from SURVEY: {sorted(registered - declared)}"
    )
    m = re.search(r"Inventory size: (\d+) declared operators, (\d+) with", text)
    assert m, "inventory-size line missing from SURVEY"
    assert int(m.group(1)) == len(registered), (
        f"SURVEY claims {m.group(1)} operators, registry has {len(registered)}"
    )
    assert int(m.group(2)) == len(registry.ORACLES), (
        f"SURVEY claims {m.group(2)} oracled, registry has {len(registry.ORACLES)}"
    )
