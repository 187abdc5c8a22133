"""Driver simulation and the per-key gate.

    python tools/drive_driver.py [SF_DIR] [KEY ...]

Runs ``entry(spark)`` on a plain session, as the harness does at
verify time, then checks each key of ``queries()`` at SF_DIR (default
/root/testdata/sf0.01) by building it three times on that session
(``check_key``):

- run A, under the session's defaults, is compared with the key's
  ``oracle_sql()`` run in DuckDB; a key without an oracle is checked
  rows-only;
- run B, under the defaults again, must equal run A: the determinism
  check (arrival-order scoring, unstable tie-breaks under a limit,
  an accidental ``rand()``);
- run C, under ``ADVERSE``, must equal run A: the partition check
  (emitted values that depend on task layout), except for the keys in
  ``LAYOUT_REPORTING``.

Without keys it sweeps the whole inventory and records the sweep in
``SELFCHECK.json`` (``SELFCHECK_<sf>.json`` for another SF dir); with
keys it runs only those and writes nothing. Exits 1 when a key fails
its oracle, raises, is nondeterministic, is partition-sensitive
outside ``LAYOUT_REPORTING``, or is not registered. Sweep at sf0.1 as
well: overflow bugs show only at the larger SF.
"""
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests.conftest import canonicalize  # noqa: E402

#: Layout a key's output must not depend on: an odd, non-power-of-two
#: shuffle width, and 64 KiB input splits with no file-open cost, which
#: cut even sf0.01's single-row-group files into many splits.
ADVERSE = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": "65536",
    "spark.sql.files.openCostInBytes": "0",
}

#: key -> why its output reports physical layout by design.
LAYOUT_REPORTING = {
    "q_lake_orphan_files": "reports orphan files under its own scratch lake",
}


def compare(a, b, names=("spark", "oracle")):
    """None when two canonical frames match, else why they differ."""
    if list(a.columns) != list(b.columns):
        return f"cols {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rowcount {len(a)} vs {len(b)}"
    if a.equals(b):
        return None
    diff = (a != b).any(axis=1)
    return (f"{int(diff.sum())}/{len(a)} rows differ"
            f"\n    {names[0]}: {a[diff].head(3).to_dict('records')}"
            f"\n    {names[1]}: {b[diff].head(3).to_dict('records')}")


def check_key(spark, build, sf, oracle=None, layout_reporting=False):
    """Build ``build(spark, sf)`` three times on ``spark`` and return
    the key's record.

    ``status`` is oracle-match or FAIL against the ``oracle`` frame, or
    rows-only when there is none; ``rows`` and ``secs`` are run A's.
    ``determinism`` is ok or nondeterministic (run B vs A). ``partition``
    is ok, sensitive, or by-design when the key reports its layout
    (run C, under ``ADVERSE``, vs A). ``detail`` holds the first
    differing rows of each check that failed."""
    t0 = time.time()
    a = canonicalize(build(spark, sf).toPandas())
    why = None if oracle is None else compare(a, canonicalize(oracle))
    rec = {"status": ("rows-only" if oracle is None
                      else "FAIL" if why else "oracle-match"),
           "rows": int(len(a)), "secs": round(time.time() - t0, 2)}
    nondet = compare(a, canonicalize(build(spark, sf).toPandas()),
                     ("run A", "run B"))
    rec["determinism"] = "nondeterministic" if nondet else "ok"
    defaults = {k: spark.conf.get(k) for k in ADVERSE}
    try:
        for k, v in ADVERSE.items():
            spark.conf.set(k, v)
        c = canonicalize(build(spark, sf).toPandas())
    finally:
        for k, v in defaults.items():
            spark.conf.set(k, v)
    sensitive = compare(a, c, ("run A", "adverse"))
    rec["partition"] = ("ok" if not sensitive
                        else "by-design" if layout_reporting else "sensitive")
    detail = [f"{check}: {msg}" for check, msg in
              (("oracle", why), ("determinism", nondet),
               ("partition", None if layout_reporting else sensitive))
              if msg]
    if detail:
        rec["detail"] = "\n  ".join(detail)
    return rec


def sweep_key(spark, con, sf, name, queries, oracles):
    """Check key ``name`` of ``queries`` at ``sf`` with ``check_key``,
    against its ``oracles`` SQL (if any) run on the DuckDB connection
    ``con``, and return its record. An unregistered key, or one whose
    build or oracle raises, is an ERR record."""
    if name not in queries:
        return {"status": "ERR", "detail": "not registered"}
    t0 = time.time()
    try:
        oracle = con.execute(oracles[name]).df() if name in oracles else None
        oracle_s = time.time() - t0
        rec = check_key(spark, queries[name], sf, oracle, name in LAYOUT_REPORTING)
        # secs is run A plus its oracle query: the driver's cost.
        rec["secs"] = round(rec["secs"] + oracle_s, 2)
    except Exception as e:
        rec = {"status": "ERR",
               "detail": f"EXC {type(e).__name__}: {str(e)[:200]}"}
    return rec


def failed(rec):
    """Whether a key's record fails the gate."""
    return (rec["status"] in ("FAIL", "ERR")
            or rec.get("determinism") == "nondeterministic"
            or rec.get("partition") == "sensitive")


def main(argv):
    sf = argv.pop(0) if argv and "/" in argv[0] else "/root/testdata/sf0.01"
    keys = argv

    import duckdb
    from pyspark.sql import SparkSession

    # Driver-owned session: plain, NOT our factory (entry must cope).
    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.ui.enabled", "false")
             .appName("driver-sim").getOrCreate())

    import __spark_entry__ as E
    from pudatalake_spark.loaders import TABLES

    t0 = time.time()
    df = E.entry(spark)
    rows = df.collect()
    print(f"T1 SMOKE: entry() -> {len(rows)} rows in {time.time()-t0:.1f}s "
          f"schema={[f.name for f in df.schema.fields]}")
    assert len(rows) > 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    Q, O = E.queries(), E.oracle_sql()

    results = {}
    for name in keys or sorted(Q):
        t0 = time.time()
        rec = results[name] = sweep_key(spark, con, sf, name, Q, O)
        print(f"  {name}: {rec['status']}, determinism "
              f"{rec.get('determinism', '-')}, partition {rec.get('partition', '-')} "
              f"({rec.get('rows', '-')} rows, {time.time()-t0:.1f}s)", flush=True)

    count = {k: sum(1 for r in results.values() if r.get(field) == value)
             for k, field, value in (
                 ("oracle_match", "status", "oracle-match"),
                 ("rows_only", "status", "rows-only"),
                 ("fail", "status", "FAIL"), ("error", "status", "ERR"),
                 ("nondeterministic", "determinism", "nondeterministic"),
                 ("partition_sensitive", "partition", "sensitive"),
                 ("partition_by_design", "partition", "by-design"))}
    print(f"\nT2: {count['oracle_match']} oracle-match, {count['rows_only']} "
          f"rows-only, {count['fail']} FAIL, {count['error']} ERR, "
          f"{count['nondeterministic']} nondeterministic, "
          f"{count['partition_sensitive']} partition-sensitive "
          f"({count['partition_by_design']} by design)")
    bad = sorted(n for n, r in results.items() if failed(r))
    for n in bad:
        print(f"FAIL {n}:\n  {results[n].get('detail', '')}")

    if not keys:
        # Durable artifact: the driver's own CORRECTNESS file caps at 50
        # keys, so this full-inventory sweep is recorded in-repo.
        sfname = sf.rstrip("/").rsplit("/", 1)[-1]
        out = os.path.join(REPO, "SELFCHECK.json" if sfname == "sf0.01"
                           else f"SELFCHECK_{sfname}.json")
        with open(out, "w") as f:
            json.dump({
                "sweep": "tools/drive_driver.py full-inventory sweep: "
                         "oracle, determinism and partition checks",
                "sf_dir": sf,
                "n_queries": len(Q),
                **count,
                "adverse_conf": ADVERSE,
                "layout_reporting": LAYOUT_REPORTING,
                "per_query": results,
            }, f, indent=1, sort_keys=True)
        print(f"wrote {out}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
