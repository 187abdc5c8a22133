"""Driver simulation: what the harness does at verify time."""
import sys, time, json
sys.path.insert(0, "/root/repo")
import duckdb
import pandas as pd
from pyspark.sql import SparkSession

# Driver-owned session: plain session, NOT our factory (entry must cope).
spark = (SparkSession.builder.master("local[32]")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.ui.enabled", "false")
         .appName("driver-sim").getOrCreate())

import __spark_entry__ as E

t0 = time.time()
df = E.entry(spark)
rows = df.collect()
print(f"T1 SMOKE: entry() -> {len(rows)} rows in {time.time()-t0:.1f}s schema={[f.name for f in df.schema.fields]}")
assert len(rows) > 0

# Optional SF-dir argument (VERDICT r7 #5: the overflow bug class
# only manifests at larger SF, so the round-close protocol runs this
# sweep at BOTH sf0.01 and sf0.1).
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

sys.path.insert(0, "/root/repo/tests")
from tests.conftest import canonicalize

Q = E.queries(); O = E.oracle_sql()

# ADVICE r11: the import-time minhash gate is fail-open for fixtures
# it never measured (an absent dir contradicts nothing). THIS sweep
# knows its SF dir, so it demotes the key to rows-only when the
# recall=1.0 claim was never measured on these exact fixture bytes.
from pudatalake_spark.llmops import dedup as _dedup
_MH_KEY = "q_dedup_near_minhash"
_mh_covered, _mh_cover_reason = _dedup.minhash_oracle_covers(SF)
if _MH_KEY in O and not _mh_covered:
    del O[_MH_KEY]
    print(f"NOTE: {_MH_KEY} demoted to rows-only for THIS sweep: "
          f"{_mh_cover_reason}")

fails, ok, rows_only = [], 0, 0
results = {}
for name in sorted(Q):
    t0 = time.time()
    try:
        sdf = Q[name](spark, SF)
        spdf = sdf.toPandas()
        if name in O:
            dpdf = con.execute(O[name]).df()
            a, b = canonicalize(spdf), canonicalize(dpdf)
            if list(a.columns) != list(b.columns):
                fails.append((name, f"cols {list(a.columns)} vs {list(b.columns)}"))
            elif len(a) != len(b):
                fails.append((name, f"rowcount {len(a)} vs {len(b)}"))
            elif not a.equals(b):
                n = int((a != b).any(axis=1).sum())
                fails.append((name, f"{n}/{len(a)} rows differ"))
            else:
                ok += 1
            status = "oracle-match" if (not fails or fails[-1][0] != name) else "FAIL"
        else:
            rows_only += 1
            status = "rows-only"
        results[name] = {"status": status, "rows": int(len(spdf)),
                         "secs": round(time.time() - t0, 2)}
        if status == "FAIL":
            results[name]["detail"] = fails[-1][1]
        print(f"  {name}: {'OK' if status != 'FAIL' else 'FAIL'} ({len(spdf)} rows, {time.time()-t0:.1f}s)")
    except Exception as e:
        fails.append((name, f"EXC {type(e).__name__}: {str(e)[:200]}"))
        results[name] = {"status": "ERR", "detail": fails[-1][1]}
        print(f"  {name}: EXC {str(e)[:150]}")

print(f"\nT2: {ok} oracle-match, {rows_only} rows-only, {len(fails)} FAIL")
for n, msg in fails:
    print(f"FAIL {n}: {msg}")

# Durable artifact: the driver's own CORRECTNESS file caps at 50 keys,
# so this full-inventory sweep is recorded in-repo for auditability.
_sfname = SF.rstrip("/").rsplit("/", 1)[-1]
_out = ("/root/repo/SELFCHECK.json" if _sfname == "sf0.01"
        else f"/root/repo/SELFCHECK_{_sfname}.json")
with open(_out, "w") as f:
    json.dump({
        "sweep": "tools/drive_driver.py full-inventory oracle sweep",
        "sf_dir": SF,
        "n_queries": len(Q),
        "oracle_match": ok,
        "rows_only": rows_only,
        "fail": len(fails),
        # Loud record of the self-demotion gate (VERDICT r10 #3): if
        # a testdata regen dropped banding recall below 1.0, the
        # minhash key runs rows-only and this says so in the artifact.
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
if not _dedup.MINHASH_ORACLE_ENABLED:
    print("NOTE: q_dedup_near_minhash ran rows-only (oracle self-demoted): "
          + _dedup.MINHASH_ORACLE_REASON)
