"""Seeded lake generator.

Writes the ten tables the engine reads (``pudatalake_spark.loaders.TABLES``)
as one parquet file each, with the schemas and value domains of the
fixture tables documented in FIXTURES.md. Every value comes from a
numpy ``PCG64`` stream seeded by ``(seed, lake_index)``, and the files are
written with fixed writer options, so the same seed and index give
byte-identical files and another seed gives another lake.

``scale`` follows the fixtures' scale factor: 0.01 gives 60,000 lineitem
rows and about 2 MB of parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_ORDER_DAY0 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _ORDER_DAY0).astype(int)) + 1
_SHIP_DAY0 = np.datetime64("1995-01-02", "D")
_SHIP_DAYS = int((np.datetime64("2001-11-04", "D") - _SHIP_DAY0).astype(int)) + 1
_EVENT_T0_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _rows(scale: float) -> dict[str, int]:
    return {
        "supplier": max(10, round(10_000 * scale)),
        "customer": max(150, round(150_000 * scale)),
        "part": max(200, round(200_000 * scale)),
        "orders": max(1_500, round(1_500_000 * scale)),
        "lineitem": max(6_000, round(6_000_000 * scale)),
        "events": max(1_000, round(1_000_000 * scale)),
        "documents": max(500, round(50_000 * scale)),
        "embeddings": max(500, round(20_000 * scale)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _days(day0: np.datetime64, codes: np.ndarray) -> pa.Array:
    return pa.array((day0 + codes.astype("timedelta64[D]")).astype("datetime64[us]"),
                    pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word soup over a 30-word vocabulary; about one document in twenty
    repeats an earlier one with `` dup`` appended (the planted
    near-duplicates the dedup operators look for)."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = rng.choice(len(WORDS), int(rng.integers(8, 81)))
        texts.append(" ".join(WORDS[w] for w in words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors scattered around ten label centroids."""
    centers = rng.standard_normal((10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + 0.8 * rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)),
        pa.array(vecs.reshape(-1), pa.float32()),
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels.astype(np.int32)),
    })


def build_tables(seed: int, index: int = 0, scale: float = 0.01) -> dict[str, pa.Table]:
    """All ten tables of lake ``index`` for ``seed``, in memory."""
    rng = np.random.Generator(np.random.PCG64(np.random.SeedSequence([seed, index])))
    r = _rows(scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    n = r["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })
    n = r["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })
    n = r["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    keys = np.arange(n, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2)),
    })
    n = r["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": _days(_ORDER_DAY0, rng.integers(0, _ORDER_DAYS, n)),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })
    n = r["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, r["orders"], n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, r["part"], n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, RETURN_FLAGS, n),
        "l_linestatus": _pick(rng, LINE_STATUS, n),
        "l_shipdate": _days(_SHIP_DAY0, rng.integers(0, _SHIP_DAYS, n)),
    })
    n = r["events"]
    ts = np.sort(rng.integers(0, _EVENT_SPAN_US, n)) + _EVENT_T0_US
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, r["customer"] // 10), n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(_money(rng, 0.01, 490.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })
    t["documents"] = _documents(rng, r["documents"])
    t["embeddings"] = _embeddings(rng, r["embeddings"])
    return t


def write_lake(out_dir: str, seed: int, index: int = 0, scale: float = 0.01) -> dict[str, tuple[int, int]]:
    """Write lake ``index`` of ``seed`` under ``out_dir``; return
    ``{table: (rows, bytes)}``."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, table in build_tables(seed, index, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy", row_group_size=1 << 24,
                       write_statistics=True, store_schema=False)
        stats[name] = (table.num_rows, os.path.getsize(path))
    return stats

