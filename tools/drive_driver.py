"""Driver simulation: what the harness does at verify time.

    python tools/drive_driver.py [SF_DIR] [KEY ...]

Runs ``entry(spark)`` on a plain session, then each key of
``queries()`` at SF_DIR (default /root/testdata/sf0.01), comparing it
with its ``oracle_sql()`` run in DuckDB. Without keys it sweeps the
whole inventory and records the sweep in ``SELFCHECK.json``
(``SELFCHECK_<sf>.json`` for another SF dir); with keys it runs only
those and writes nothing. Exits 1 when a key fails or is not
registered. Sweep at sf0.1 as well: overflow bugs show only at the
larger SF.
"""
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Parse before touching Spark: a usage error must not pay the
# multi-second session startup.
args = sys.argv[1:]
SF = args.pop(0) if args and "/" in args[0] else "/root/testdata/sf0.01"
KEYS = args

import duckdb
from pyspark.sql import SparkSession

# Driver-owned session: plain session, NOT our factory (entry must cope).
spark = (SparkSession.builder.master("local[32]")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.ui.enabled", "false")
         .appName("driver-sim").getOrCreate())

import __spark_entry__ as E
from pudatalake_spark.llmops import dedup as _dedup
from pudatalake_spark.loaders import TABLES
from tests.conftest import canonicalize

t0 = time.time()
df = E.entry(spark)
rows = df.collect()
print(f"T1 SMOKE: entry() -> {len(rows)} rows in {time.time()-t0:.1f}s schema={[f.name for f in df.schema.fields]}")
assert len(rows) > 0

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

Q = E.queries(); O = E.oracle_sql()

# ADVICE r11: the import-time minhash gate is fail-open for fixtures
# it never measured (an absent dir contradicts nothing). THIS sweep
# knows its SF dir, so it demotes the key to rows-only when the
# recall=1.0 claim was never measured on these exact fixture bytes.
_MH_KEY = "q_dedup_near_minhash"
_mh_covered, _mh_cover_reason = _dedup.minhash_oracle_covers(SF)
if _MH_KEY in O and not _mh_covered:
    del O[_MH_KEY]
    print(f"NOTE: {_MH_KEY} demoted to rows-only for THIS sweep: "
          f"{_mh_cover_reason}")


def compare(spdf, dpdf):
    """None when the canonical frames match, else why they differ."""
    a, b = canonicalize(spdf), canonicalize(dpdf)
    if list(a.columns) != list(b.columns):
        return f"cols {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rowcount {len(a)} vs {len(b)}"
    if a.equals(b):
        return None
    diff = (a != b).any(axis=1)
    return (f"{int(diff.sum())}/{len(a)} rows differ"
            f"\n    spark:  {a[diff].head(3).to_dict('records')}"
            f"\n    oracle: {b[diff].head(3).to_dict('records')}")


fails, results = [], {}
for name in KEYS or sorted(Q):
    if name not in Q:
        fails.append((name, "not registered"))
        print(f"  {name}: NOT REGISTERED")
        continue
    t0 = time.time()
    try:
        spdf = Q[name](spark, SF).toPandas()
        why = compare(spdf, con.execute(O[name]).df()) if name in O else None
        status = ("rows-only" if name not in O
                  else "FAIL" if why else "oracle-match")
        results[name] = {"status": status, "rows": int(len(spdf)),
                         "secs": round(time.time() - t0, 2)}
        if why:
            fails.append((name, why))
            results[name]["detail"] = why
        print(f"  {name}: {status} ({len(spdf)} rows, {time.time()-t0:.1f}s)")
    except Exception as e:
        fails.append((name, f"EXC {type(e).__name__}: {str(e)[:200]}"))
        results[name] = {"status": "ERR", "detail": fails[-1][1]}
        print(f"  {name}: EXC {str(e)[:150]}")

ok = sum(r["status"] == "oracle-match" for r in results.values())
rows_only = sum(r["status"] == "rows-only" for r in results.values())
print(f"\nT2: {ok} oracle-match, {rows_only} rows-only, {len(fails)} FAIL")
for n, msg in fails:
    print(f"FAIL {n}: {msg}")
if not _dedup.MINHASH_ORACLE_ENABLED:
    print("NOTE: q_dedup_near_minhash ran rows-only (oracle self-demoted): "
          + _dedup.MINHASH_ORACLE_REASON)

if not KEYS:
    # Durable artifact: the driver's own CORRECTNESS file caps at 50
    # keys, so this full-inventory sweep is recorded in-repo.
    _sfname = SF.rstrip("/").rsplit("/", 1)[-1]
    _out = os.path.join(REPO, "SELFCHECK.json" if _sfname == "sf0.01"
                        else f"SELFCHECK_{_sfname}.json")
    with open(_out, "w") as f:
        json.dump({
            "sweep": "tools/drive_driver.py full-inventory oracle sweep",
            "sf_dir": SF,
            "n_queries": len(Q),
            "oracle_match": ok,
            "rows_only": rows_only,
            "fail": len(fails),
            # Loud record of the self-demotion gate (VERDICT r10 #3):
            # if a testdata regen dropped banding recall below 1.0, the
            # minhash key runs rows-only and this says so.
            "minhash_oracle": {
                "enabled": _dedup.MINHASH_ORACLE_ENABLED,
                "reason": _dedup.MINHASH_ORACLE_REASON,
                # ADVICE r11: per-sweep coverage of THIS SF dir (the
                # import-time gate cannot see dirs it never measured).
                "covers_sf_dir": _mh_covered,
                "covers_reason": _mh_cover_reason,
            },
            "per_query": results,
        }, f, indent=1, sort_keys=True)
    print(f"wrote {_out}")
sys.exit(1 if fails else 0)
