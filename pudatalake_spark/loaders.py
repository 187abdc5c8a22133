"""Table loaders: parquet dir -> dict of DataFrames + temp views.

The lake layout is one parquet file or directory per table
(TESTDATA.md:13-15). A single-file table's schema is read from its
footer on the driver (``parquet_reader``), so loading a lake of files
runs no Spark job; a directory table keeps Spark's inference, one job
per table. Inference cost 10 jobs and about 1.1 s per lake load
(docs/SCALING.md §27).

100 TB posture: one footer read per single-file table, and one
inference job (one footer, mergeSchema off) per directory table,
whatever its size. Scans get column pruning and predicate pushdown
from Catalyst as long as callers select/filter on native columns
(SURVEY §4).
"""

from __future__ import annotations

import os
from typing import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import _parse_datatype_json_string

from .registry import hold
from .session import ensure_conf

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# The last lake ``load`` read: (session, dir, frames). The temp views
# of that session point at these frames.
_LOADED: tuple[SparkSession, str, dict[str, DataFrame]] | None = None


# Timestamp-typed columns per table. The generator has re-encoded
# these across regenerations (r3: TIMESTAMP(NANOS) -> timestamp[us]);
# every one of them gets the same sniff-and-normalize treatment so the
# NEXT regeneration can't take the engine down either.
TS_COLUMNS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


# Plausible epoch ranges for years 1990..2100 per integer unit. The
# units are 1000x apart while the year span is only ~1.7x, so the
# ranges are pairwise disjoint and one sampled value classifies the
# unit unambiguously (or provably fails to).
_EPOCH_RANGES = {
    "s": (631_152_000, 4_102_444_800),
    "ms": (631_152_000_000, 4_102_444_800_000),
    "us": (631_152_000_000_000, 4_102_444_800_000_000),
    "ns": (631_152_000_000_000_000, 4_102_444_800_000_000_000),
}


def _sniff_bigint_ts_unit(df: DataFrame, c: str) -> str:
    """Classify a raw-bigint ts column's unit by value magnitude.

    A bigint ts column only appears under nanosAsLong legacy reads —
    but a future regeneration could just as plausibly ship raw int64
    epoch-MICROS, and dividing those by 1000 would silently mis-scale
    every timestamp 1000x (ADVICE r4). One non-null value decides:
    the candidate units' plausible-epoch ranges (1990..2100) are
    pairwise disjoint, so the sample lands in exactly one — or in
    none, which RAISES instead of guessing. The probe is a limit-1
    scan of a single column (first row group only, once per
    ``load`` miss, only on the rare bigint path), never a full scan.
    """
    from pyspark.sql import functions as F

    rows = df.select(F.col(c).alias("v")).filter(F.col("v").isNotNull()).limit(1).collect()
    if not rows:  # all-null column: unit is irrelevant, any works
        return "ns"
    v = abs(int(rows[0]["v"]))
    for unit, (lo, hi) in _EPOCH_RANGES.items():
        if lo <= v <= hi:
            return unit
    raise ValueError(
        f"bigint ts column {c!r}: sample value {v} matches no plausible "
        f"epoch unit (s/ms/us/ns, years 1990-2100); refusing to guess a "
        f"divisor — inspect the file's physical encoding"
    )


def _normalize_ts(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Normalize timestamp columns to session-TZ TIMESTAMP regardless
    of the file's physical encoding.

    The testdata generator has shipped events.ts three different ways
    across regenerations, so the loader SNIFFS the resolved Spark type
    instead of trusting any conf or doc:

    - ``bigint``: raw epoch integers (e.g. parquet TIMESTAMP(NANOS)
      read under ``spark.sql.legacy.parquet.nanosAsLong``) -> the unit
      is classified by value magnitude (`_sniff_bigint_ts_unit`), then
      converted exactly; ns truncates ns->us (what DuckDB does reading
      the same file). Ambiguous magnitudes raise instead of guessing.
    - ``timestamp_ntz``: parquet TIMESTAMP(MICROS, isAdjustedToUTC=false)
      -> cast to TIMESTAMP; values are identical under the UTC session
      TZ, and downstream ``unix_micros()`` callers require TIMESTAMP.
    - ``date``: a date32-encoded regeneration would otherwise break
      every ``unix_micros`` caller -> cast to TIMESTAMP (midnight UTC,
      exactly what the current timestamp[us] files store).
    - ``string``: ISO text dates -> cast to TIMESTAMP (ANSI cast
      raises on malformed input rather than nulling it silently).
    - ``timestamp``: already what we want -> no-op.

    Never assume a conf applied: ``ensure_conf`` swallows failures on
    static conf, so only the observed dtype is trustworthy.
    """
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    for c in cols if cols is not None else ["ts"]:
        t = dtypes.get(c)
        if t == "bigint":
            unit = _sniff_bigint_ts_unit(df, c)
            if unit == "ns":
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
            elif unit == "us":
                df = df.withColumn(c, F.timestamp_micros(F.col(c)))
            elif unit == "ms":
                df = df.withColumn(c, F.timestamp_millis(F.col(c)))
            else:  # "s"
                df = df.withColumn(c, F.timestamp_seconds(F.col(c)))
        elif t in ("timestamp_ntz", "date", "string"):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def parquet_reader(spark: SparkSession) -> Callable[[str], DataFrame]:
    """Return ``read(path)``, a scan of one parquet table.

    For a single file, the driver reads the footer and Spark's own
    converter maps it under the session's confs (``nanosAsLong``,
    TIMESTAMP_NTZ inference), the mapping inference runs in its job;
    the scan declares that schema and runs no job. Any other path (a
    directory, or a missing one) goes to ``spark.read.parquet``: one
    inference job, or Spark's own error. The returned function shares
    one Hadoop conf and one converter across calls."""
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = parquet.ParquetToSparkSchemaConverter(state.conf())
    skip_row_groups = (
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    )

    def read(path: str) -> DataFrame:
        p = jvm.org.apache.hadoop.fs.Path(path)
        if not p.getFileSystem(hconf).isFile(p):
            return spark.read.parquet(path)
        meta = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            hconf, p, skip_row_groups
        )
        schema = parquet.ParquetFileFormat.readSchemaFromFooter(
            jvm.org.apache.parquet.hadoop.Footer(p, meta), converter
        )
        return spark.read.schema(_parse_datatype_json_string(schema.json())).parquet(path)

    return read


def load(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all tables under sf_dir and register them as temp views.

    A single-file table loads with no Spark job; a directory table
    with Spark's inference (``parquet_reader``). The memo holds one
    entry, the last lake loaded: only this function registers the
    table views, so a hit means this session's views already point at
    this lake, and it returns without touching the catalog. A miss
    reads the lake, re-points the views and replaces the entry, so
    after ``load(a); load(b); load(a)`` the SQL-text operators read
    ``a`` again. A frame returned for an earlier lake stays valid: it
    names its own files, not the views."""
    global _LOADED
    ensure_conf(spark)
    sf_dir = sf_dir.rstrip("/")
    if _LOADED is not None and _LOADED[0] is spark and _LOADED[1] == sf_dir:
        return _LOADED[2]
    _LOADED = None  # the views stop matching any entry from here on
    read = parquet_reader(spark)
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        df = read(f"{sf_dir}/{name}.parquet")
        if name in TS_COLUMNS:
            df = _normalize_ts(df, TS_COLUMNS[name])
        df.createOrReplaceTempView(name)
        dfs[name] = df
    _LOADED = (spark, sf_dir, dfs)
    return dfs


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load(spark, sf_dir)[name]


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition a scan to full parallelism before CPU-heavy per-row
    work (shingling, hashing, vector math).

    Small local fixtures are a single parquet row-group -> a single
    input split -> ONE task, so compute-bound operators would run on
    one core of 32. On a real cluster a 100 TB scan already has
    thousands of splits, so this repartition is skipped there: we only
    shuffle when the scan's parallelism is below the cluster's
    (defaultParallelism / 2), which a large scan never is. Keyed
    repartition (pass the grouping key) lets a downstream
    groupBy(key) finish its partial aggregation at full reduction
    locally.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        # File count is a pure-metadata read on a scan; df.rdd (the
        # previous probe) forces a full plan-to-RDD conversion.
        width = len(df.inputFiles())
    except Exception:
        width = df.rdd.getNumPartitions()
    if width >= max(1, target // 2):
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


def cached(df: DataFrame) -> DataFrame:
    """persist() a diamond-shaped intermediate (both join branches read
    it and exchange reuse does not recognize the diamond), and record
    it with the registry. It is freed when the enclosing
    ``registry.scope()`` exits, else when the next registered build
    starts (``registry.release``): a returned frame fills the blocks
    only when its caller materializes it. Default MEMORY_AND_DISK
    level: evictable, so pressure recomputes instead of failing."""
    out = df.persist()
    hold(out)
    return out

def broadcast_below(small: DataFrame, source: DataFrame,
                    max_bytes: int) -> DataFrame:
    """Return ``small`` hinted for broadcast only while ``source``, the
    scan whose size bounds it, is at most ``max_bytes`` on disk
    (``scan_bytes``, a metadata stat). Otherwise, or when the size
    cannot be known (remote FS), return ``small`` itself, unhinted:
    the join plans shuffled and AQE may still broadcast it from
    runtime sizes. For derived sets whose row count grows with the
    data, where a forced broadcast would fail at scale."""
    from pyspark.sql import functions as F

    nb = scan_bytes(source)
    if nb is not None and nb <= max_bytes:
        return F.broadcast(small)
    return small


def scan_bytes(df: DataFrame) -> int | None:
    """On-disk bytes behind a scan, from PURE METADATA (inputFiles +
    stat) - no job, no count(). Plan-strategy switches (e.g.
    q_dedup_cross_corpus's exact-index vs minhash-probe split) key off
    this instead of a row count so the builder stays action-free (the
    registry's lazy-DataFrame contract and plan-audit rule #4).
    Returns None when the files aren't local-stat-able (remote FS) -
    callers must then default to their SCALE-SAFE branch, which is
    also the honest cluster posture: an unknown-size corpus is a
    large one."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return 0
    total = 0
    for f in files:
        p = urlparse(f).path or f
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total
