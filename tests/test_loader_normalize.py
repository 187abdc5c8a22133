"""Loader type-normalization invariants (VERDICT r3 next-round item #2).

The r3 wipeout: the testdata generator regenerated events.parquet with
ts as timestamp[us] instead of TIMESTAMP(NANOS), and the loader's
unconditional int64-nanos conversion crashed every query. The contract
is "load() normalizes ts to TIMESTAMP", NOT "the file is what
FIXTURES.md says" — so these tests write tiny parquet fixtures in every
physical encoding the generator has ever shipped (plus the raw-int64
shape nanosAsLong produces) and assert the normalized output is
identical for all of them.

Had this file existed in r3, the schema drift would have been caught
pre-driver.
"""

from __future__ import annotations

import datetime
import decimal
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pudatalake_spark.loaders import TABLES, _normalize_ts, load, parquet_reader
from pudatalake_spark.plans.audit import capture_build

from tests.conftest import SF_DIR

# Three instants with sub-second parts, as epoch-nanoseconds.
EPOCH_NANOS = [
    1_700_000_000_123_456_000,  # 2023-11-14 22:13:20.123456
    1_700_000_001_000_000_000,
    1_700_086_400_999_999_000,
]
EPOCH_MICROS = [n // 1000 for n in EPOCH_NANOS]


def _write(tmp_path, name: str, arr: pa.Array) -> str:
    path = str(tmp_path / f"{name}.parquet")
    pq.write_table(pa.table({"ts": arr, "k": list(range(len(arr)))}), path)
    return path


ENCODINGS = {
    # Physical TIMESTAMP(NANOS): Spark 4 reads it as int64 nanos under
    # spark.sql.legacy.parquet.nanosAsLong (rejects it without).
    "timestamp_ns": pa.array(EPOCH_NANOS, type=pa.timestamp("ns")),
    # Current generator output: TIMESTAMP(MICROS, isAdjustedToUTC=false)
    # -> Spark reads TIMESTAMP_NTZ. This is the encoding that killed r3.
    "timestamp_us_ntz": pa.array(EPOCH_MICROS, type=pa.timestamp("us")),
    # TIMESTAMP(MICROS, isAdjustedToUTC=true) -> Spark reads TIMESTAMP.
    "timestamp_us_utc": pa.array(EPOCH_MICROS, type=pa.timestamp("us", tz="UTC")),
    # Raw int64 nanos column (what the ns file LOOKS like post-read).
    "int64_nanos": pa.array(EPOCH_NANOS, type=pa.int64()),
    # Raw int64 MICROS: as plausible a future regeneration as the ones
    # above; the pre-r5 loader would have divided these by 1000 and
    # silently landed every timestamp in 1970 (ADVICE r4). The
    # magnitude sniff must classify, not guess.
    "int64_micros": pa.array(EPOCH_MICROS, type=pa.int64()),
}


@pytest.mark.parametrize("encoding", sorted(ENCODINGS))
def test_normalize_ts_all_physical_encodings(spark, tmp_path, encoding):
    """Whatever the file stores, the loaded ts is TIMESTAMP with the
    same epoch-microsecond values (UTC session TZ)."""
    path = _write(tmp_path, encoding, ENCODINGS[encoding])
    df = _normalize_ts(spark.read.parquet(path))
    assert dict(df.dtypes)["ts"] == "timestamp", (
        f"{encoding}: normalized dtype is {dict(df.dtypes)['ts']}"
    )
    got = [
        r["us"]
        for r in df.select(F.unix_micros("ts").alias("us")).orderBy("k").collect()
    ]
    assert got == EPOCH_MICROS, f"{encoding}: values drifted"


WHOLE_SECONDS = [1_700_000_000, 1_700_000_001, 1_700_086_400]


@pytest.mark.parametrize(
    "unit,scale",
    [("s", 1), ("ms", 1_000), ("us", 1_000_000), ("ns", 1_000_000_000)],
)
def test_normalize_bigint_every_epoch_unit(spark, tmp_path, unit, scale):
    """Raw int64 in ANY of the four epoch units normalizes to the same
    TIMESTAMP values — the magnitude sniff picks the right divisor."""
    path = _write(
        tmp_path, f"i64_{unit}", pa.array([v * scale for v in WHOLE_SECONDS], pa.int64())
    )
    df = _normalize_ts(spark.read.parquet(path))
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [
        r["us"]
        for r in df.select(F.unix_micros("ts").alias("us")).orderBy("k").collect()
    ]
    assert got == [v * 1_000_000 for v in WHOLE_SECONDS], unit


def test_normalize_bigint_ambiguous_magnitude_raises(spark, tmp_path):
    """A bigint ts whose magnitude fits no plausible epoch unit must
    RAISE, never silently pick a divisor (ADVICE r4)."""
    path = _write(tmp_path, "i64_junk", pa.array([42, 43, 44], pa.int64()))
    with pytest.raises(ValueError, match="no plausible epoch unit"):
        _normalize_ts(spark.read.parquet(path))


def test_normalize_date32_and_string_dates(spark, tmp_path):
    """date32 and ISO-string regenerations of the date-at-midnight
    columns (o_orderdate / l_shipdate shape) normalize to TIMESTAMP at
    midnight UTC — the unix_micros callers keep working."""
    days = [datetime.date(1995, 1, 1), datetime.date(1998, 9, 2)]
    want = [
        int(
            datetime.datetime(d.year, d.month, d.day, tzinfo=datetime.timezone.utc).timestamp()
        )
        * 1_000_000
        for d in days
    ]
    for name, arr in {
        "date32": pa.array(days, type=pa.date32()),
        "strdate": pa.array([d.isoformat() for d in days], type=pa.string()),
    }.items():
        path = _write(tmp_path, name, arr)
        df = _normalize_ts(spark.read.parquet(path))
        assert dict(df.dtypes)["ts"] == "timestamp", name
        got = [
            r["us"]
            for r in df.select(F.unix_micros("ts").alias("us")).orderBy("k").collect()
        ]
        assert got == want, name


def test_normalize_ts_noop_without_ts_column(spark):
    df = spark.range(3).withColumnRenamed("id", "x")
    assert _normalize_ts(df) is df


def test_load_all_ts_columns_are_timestamp(spark):
    """Every declared timestamp column (TS_COLUMNS) normalizes, not
    just events.ts — orders/lineitem date columns were also re-encoded
    in the r3 regeneration."""
    from pudatalake_spark.loaders import TS_COLUMNS

    t = load(spark, "/root/testdata/sf0.001")
    for table, cols in TS_COLUMNS.items():
        for c in cols:
            assert dict(t[table].dtypes)[c] == "timestamp", f"{table}.{c}"


def test_load_events_ts_is_timestamp(spark):
    """The real testdata, whatever encoding this regeneration shipped."""
    t = load(spark, "/root/testdata/sf0.001")
    assert dict(t["events"].dtypes)["ts"] == "timestamp"
    # unix_micros (the r3 NTZ casualty in windows/batch_windows) must
    # resolve against the loaded column.
    row = t["events"].select(F.min(F.unix_micros("ts")).alias("lo")).first()
    assert row["lo"] is not None
    # Sanity: epoch range is post-2000, i.e. the values are real
    # instants, not mis-scaled (ns-as-us would land in 1970).
    assert row["lo"] > 946_684_800_000_000
    assert isinstance(
        t["events"].select("ts").first()["ts"], datetime.datetime
    )


TESTDATA_SFS = [os.path.join(os.path.dirname(SF_DIR), f"sf{sf}") for sf in ("0.001", "0.01", "0.1")]

# Column types beyond the timestamp encodings that the footer read
# must map exactly as Spark's inference does.
FOOTER_TYPES = {
    **ENCODINGS,
    "date32": pa.array([datetime.date(1995, 1, d) for d in (1, 2, 3)], pa.date32()),
    "decimal": pa.array([decimal.Decimal("1.25")] * 3, pa.decimal128(12, 2)),
    "uint32": pa.array([1, 2, 3], pa.uint32()),
    "int8": pa.array([1, 2, 3], pa.int8()),
    "binary": pa.array([b"a", b"b", b""], pa.binary()),
    "list": pa.array([[1], [], None], pa.list_(pa.int32())),
    "map": pa.array([[("a", 1)], [], None], pa.map_(pa.string(), pa.int32())),
    "struct": pa.array([{"x": 1, "y": "a"}] * 3,
                       pa.struct([("x", pa.int64()), ("y", pa.string())])),
}


@pytest.mark.parametrize(
    "source",
    [f"{sf}/{t}" for sf in TESTDATA_SFS for t in TABLES]
    + [f"encoding:{e}" for e in sorted(FOOTER_TYPES)],
)
def test_footer_schema_equals_inferred(spark, tmp_path, source):
    """The schema ``parquet_reader`` declares from a file's footer is
    the one Spark's inference resolves under the session's confs:
    under nanosAsLong, TIMESTAMP(NANOS) is bigint in both."""
    if source.startswith("encoding:"):
        name = source.split(":", 1)[1]
        path = _write(tmp_path, name, FOOTER_TYPES[name])
    else:
        path = f"{source}.parquet"
    declared = parquet_reader(spark)(path).schema
    assert declared == spark.read.parquet(path).schema
    if source == "encoding:timestamp_ns":
        assert declared["ts"].dataType.simpleString() == "bigint"


def _load_jobs(spark, lake: str) -> tuple[dict[str, DataFrame], int]:
    dfs, work = capture_build(spark, "loaders.load", lambda: load(spark, lake))
    return dfs, sum(a.jobs for a in work)


def test_load_of_an_unseen_lake_runs_no_job(spark):
    """Every table is a single file, so every schema comes from its
    footer on the driver: 0 Spark jobs, where inference runs 10."""
    load(spark, SF_DIR)
    try:
        _, jobs = _load_jobs(spark, TESTDATA_SFS[1])
        assert jobs == 0
    finally:
        load(spark, SF_DIR)


def test_views_point_at_the_last_lake_loaded(spark, monkeypatch):
    """After load(a); load(b); load(a) the views read a again; a
    repeated load(a) is a memo hit and registers no view."""
    a, b = SF_DIR, TESTDATA_SFS[1]
    rows = pq.ParquetFile(f"{a}/lineitem.parquet").metadata.num_rows
    frame_type = type(load(spark, a)["lineitem"])
    load(spark, b)
    try:
        assert load(spark, a) is load(spark, a)
        assert spark.sql("SELECT count(*) AS n FROM lineitem").first()["n"] == rows
        registered = []
        monkeypatch.setattr(frame_type, "createOrReplaceTempView",
                            lambda df, name: registered.append(name))
        load(spark, a)
        assert registered == []
    finally:
        monkeypatch.undo()
        load(spark, a)


def test_directory_table_loads_through_inference(spark, tmp_path):
    """A table stored as a directory written by Spark still loads, with
    its one inference job; the single-file tables beside it run none."""
    lake = tmp_path / "lake"
    lake.mkdir()
    for t in TABLES:
        if t != "region":
            shutil.copy(f"{SF_DIR}/{t}.parquet", lake / f"{t}.parquet")
    spark.read.parquet(f"{SF_DIR}/region.parquet").write.parquet(str(lake / "region.parquet"))
    try:
        dfs, jobs = _load_jobs(spark, str(lake))
        assert jobs == 1
        want = spark.read.parquet(f"{SF_DIR}/region.parquet")
        assert dfs["region"].schema == want.schema
        assert dfs["region"].count() == want.count()
    finally:
        load(spark, SF_DIR)
