"""Empty-relation sweep: every oracled operator runs against
ZERO-ROW versions of all ten tables and must still agree with DuckDB
on the same empty files. This pins the empty-input semantics the
sf>0 fixtures can never exercise (global aggregates over nothing,
joins with an empty side, empty partitioned writes).

Found when first run (2026-08-13): (1) partitioned-layout operators
crashed reading back a zero-file layout (fixed: explicit read
schemas); (2) Spark's ROLLUP/CUBE/GROUPING SETS on an empty relation
emit NO rows, while the SQL standard (and DuckDB) emit the
grand-total grouping-set row with count 0 - a genuine engine
divergence, pinned below as KNOWN_EMPTY_DIVERGENT so a behavior
change in either engine is caught.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow.parquet as pq
import pytest

import pudatalake_spark.loaders as loaders
from pudatalake_spark import registry

from tests.conftest import SF_DIR, assert_frames_match

registry.load_all()

# Spark emits no rows for ROLLUP/CUBE/GROUPING SETS over an empty
# relation; DuckDB (per the standard) emits the () grouping-set row.
KNOWN_EMPTY_DIVERGENT = {"q_agg_rollup", "q_agg_cube", "q_agg_grouping_sets"}

EMPTY_DIR = os.path.join(os.path.dirname(__file__), "..", ".scratch", "empty_sf")


@pytest.fixture(scope="module")
def empty_sf(spark):
    shutil.rmtree(EMPTY_DIR, ignore_errors=True)
    os.makedirs(EMPTY_DIR, exist_ok=True)
    for t in loaders.TABLES:
        tbl = pq.read_table(f"{SF_DIR}/{t}.parquet")
        pq.write_table(tbl.slice(0, 0), f"{EMPTY_DIR}/{t}.parquet")
    yield EMPTY_DIR
    # The sweep re-pointed the session's temp views at the empty
    # tables; loading SF_DIR again points them back.
    loaders.load(spark, SF_DIR)


@pytest.fixture(scope="module")
def empty_duck():
    con = duckdb.connect()
    for t in loaders.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{EMPTY_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def test_empty_avro_roundtrip(spark, empty_sf):
    """src_avro over a zero-row lake: every partition still writes a
    (legal, empty) container, the read-back is empty, and the
    value-proving aggregate degrades to (0, NULL, 0) instead of
    crashing - the empty-partitioned-write class this sweep exists
    for, applied to the stdlib codec path."""
    row = registry.QUERIES["src_avro"](spark, empty_sf).collect()[0]
    assert row.n_rows == 0
    assert row.acctbal_cents is None  # sum over nothing is NULL
    assert row.n_nations == 0


@pytest.mark.parametrize("key", sorted(registry.ORACLES))
def test_empty_input_matches_oracle(spark, empty_sf, empty_duck, key):
    spark_pdf = registry.QUERIES[key](spark, empty_sf).toPandas()
    duck_pdf = empty_duck.execute(registry.ORACLES[key]).df()
    if key in KNOWN_EMPTY_DIVERGENT:
        assert len(spark_pdf) == 0 and len(duck_pdf) == 1, (
            f"{key}: the known Spark-vs-standard empty-ROLLUP divergence "
            f"changed shape: spark={len(spark_pdf)} duck={len(duck_pdf)} rows"
        )
        return
    assert_frames_match(spark_pdf, duck_pdf, f"{key}[empty]")
