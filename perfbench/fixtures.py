"""Deterministic fixture tables for the benchmark.

Writes the TPC-H-ish star schema plus the ``events``, ``documents`` and
``embeddings`` tables the engine's operators read, with the same column
names and types as the engine's own test fixtures, at a given scale
factor. Generation uses numpy's PCG64 with a fixed data seed, so two
checkouts build byte-identical inputs; the benchmark's ``--seed`` picks
the workload (statement order, parameters), never the table contents.

Tables are cached under ``<cache>/<sf>-<source hash>/`` and rebuilt only
when this file changes. Each build is checked against the row counts it
promises before the cache directory is published.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
ROW_GROUP = 500_000
WORDS = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table value "
    "window shuffle state watermark sink source plan task stage index"
).split()
LANGS = ("en", "en", "de", "fr", "es", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_ADJ = ("large", "small", "hot", "cold", "blue", "red", "old", "new")
PART_NOUN = ("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EMBED_DIM = 64
DAY_US = 86_400_000_000


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (lineitem is derived
    from orders, 1-7 lines each, so only its expected mean is fixed)."""
    return {
        "region": 5,
        "nation": 25,
        "supplier": max(10, int(10_000 * sf)),
        "customer": max(10, int(150_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "events": max(10, int(1_000_000 * sf)),
        "documents": max(10, int(50_000 * sf)),
        "embeddings": max(10, int(20_000 * sf)),
    }


def _strings(values: tuple[str, ...], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(list(values))
    ).cast(pa.string())


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _date_us(year: int, month: int, day: int) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": pa.array(np.char.add("Customer#", np.char.zfill(np.arange(nc).astype(str), 9))),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _strings(SEGMENTS, rng.integers(0, 5, nc)),
        }
    )
    npart = n["part"]
    adj, noun = rng.integers(0, 8, npart), rng.integers(0, 8, npart)
    names = tuple(f"{a} {b}" for a in PART_ADJ for b in PART_NOUN)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": _strings(names, adj * 8 + noun),
            "p_brand": _strings(tuple(f"Brand#{i}" for i in range(25)), rng.integers(0, 25, npart)),
            "p_type": _strings(PART_TYPES, rng.integers(0, 6, npart)),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )
    no = n["orders"]
    start = _date_us(1995, 1, 1)
    odate = start + rng.integers(0, 2405, no) * DAY_US
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": _strings(("F", "O", "P"), rng.integers(0, 3, no)),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _ts(odate),
            "o_orderpriority": _strings(PRIORITIES, rng.integers(0, 5, no)),
        }
    )
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": pa.array(np.arange(nl) - first + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _strings(("A", "N", "R"), rng.integers(0, 3, nl)),
            "l_linestatus": _strings(("F", "O"), rng.integers(0, 2, nl)),
            "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, nl) * DAY_US),
        }
    )
    ne = n["events"]
    ev_start = _date_us(2024, 1, 1)
    ets = np.sort(ev_start + rng.integers(0, 30 * DAY_US, ne))
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": _ts(ets),
            "user_id": rng.integers(0, max(10, ne // 66), ne).astype(np.int64),
            "event_type": _strings(EVENT_TYPES, rng.integers(0, 5, ne)),
            "value": np.round(rng.exponential(25.0, ne), 2),
            "props": _strings(tuple(f'{{"k": {i}}}' for i in range(100)), rng.integers(0, 100, ne)),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    """Word-salad documents; one in ten is a near copy of an earlier
    document with one word replaced, so MinHash/LSH has pairs to find."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(vocab[int(rng.integers(0, len(vocab)))])
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 80)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": _strings(LANGS, rng.integers(0, len(LANGS), nd)),
            "source": _strings(tuple(f"src{i}" for i in range(20)), np.arange(nd) % 20),
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    """Unit vectors around ten label centroids (cosine = dot product)."""
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    label = rng.integers(0, 10, nv)
    vec = centroids[label] + rng.normal(0.0, 0.8, (nv, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vec.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, nv * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label, pa.int32()),
        }
    )


def source_hash() -> str:
    return hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]


def ensure(cache_root: Path, sf: float) -> Path:
    """Return the fixture directory for ``sf``, building it on a miss.

    The directory name carries this module's source hash, so an edit to
    the generator never serves stale tables. A build goes to a sibling
    temporary directory and is renamed into place only after every table
    is written and its row count checked."""
    target = cache_root / f"sf{sf:g}-{source_hash()}"
    if (target / "manifest.json").exists():
        manifest = json.loads((target / "manifest.json").read_text())
        for name, rows in manifest["rows"].items():
            if pq.ParquetFile(target / f"{name}.parquet").metadata.num_rows != rows:
                raise RuntimeError(f"fixture {target}/{name} has lost rows")
        return target
    tmp = cache_root / f".build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        rows: dict[str, int] = {}
        expected = sizes(sf)
        for name, table in build_tables(sf).items():
            pq.write_table(table, tmp / f"{name}.parquet", row_group_size=ROW_GROUP)
            rows[name] = pq.ParquetFile(tmp / f"{name}.parquet").metadata.num_rows
            if name in expected and rows[name] != expected[name]:
                raise RuntimeError(f"{name}: wrote {rows[name]} rows, expected {expected[name]}")
        (tmp / "manifest.json").write_text(json.dumps({"sf": sf, "rows": rows}, indent=1))
        shutil.rmtree(target, ignore_errors=True)
        tmp.rename(target)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return target
