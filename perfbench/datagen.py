"""Deterministic fixture generator for the benchmark.

Writes the engine's star schema (``region nation customer supplier part
orders lineitem``) plus the ``events``, ``documents`` and ``embeddings``
tables, one parquet file per table, with the column names and types the
query registry reads. Sizes follow TPC-H ratios per scale factor
(lineitem ~ 6,000,000 x sf). Documents are random sentences over a
30-word vocabulary; 5% are near-duplicates of an earlier document with a
trailing ``dup`` token, so the dedup entries find pairs. Embeddings are
64-dim unit vectors, near-isotropic with a weak pull toward one of ten
label centres (a few hundred pairs above cosine 0.4 at sf0.1).

A dataset is built once per directory and reused: ``ensure_dataset``
checks the manifest and every table's row count (from parquet footers)
before reuse, and rebuilds on any mismatch.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1
DATA_SEED = 42
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
WORDS = (
    "a the data row column table key value query join group order sort hash "
    "merge scan filter agg window stream batch vector spark line part "
    "customer big small fast slow"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "green", "small", "red"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table (lineitem is drawn per order, so approximate)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": max(10, round(10_000 * sf)),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "D")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _ts(days) -> pa.Array:
    return pa.array(days.astype("datetime64[us]"), type=pa.timestamp("us"))


def generate(sf: float) -> dict[str, pa.Table]:
    """All tables at scale factor ``sf`` from the fixed data seed."""
    rng = np.random.default_rng([DATA_SEED, round(sf * 1_000_000)])
    n = table_sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), npart)],
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2),
    })
    no = n["orders"]
    odate = _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(nl) - starts + 1).astype(np.int32)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, nl).astype(
        "timedelta64[D]"
    )
    perm = rng.permutation(nl)
    out["lineitem"] = pa.table({
        "l_orderkey": okey[perm],
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": lnum[perm],
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(ship[perm]),
    })
    ne = n["events"]
    secs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, ne))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + secs.astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, round(15_000 * sf)), ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0, 560, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, nd)],
        "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centres[labels] + rng.normal(scale=8.0, size=(nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def _row_counts(path: str) -> dict[str, int]:
    counts = {}
    for t in TABLES:
        f = os.path.join(path, f"{t}.parquet")
        counts[t] = pq.ParquetFile(f).metadata.num_rows if os.path.exists(f) else -1
    return counts


def ensure_dataset(root: str, sf: float) -> tuple[str, float, bool]:
    """Return ``(dir, build_seconds, reused)`` for the dataset at ``sf``
    under ``root``. A manifest whose version and per-table row counts
    match the files on disk is reused; anything else is rebuilt."""
    path = os.path.join(root, f"sf{sf:g}")
    manifest = os.path.join(path, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            meta = json.load(fh)
        if meta.get("version") == GENERATOR_VERSION and meta.get(
            "rows"
        ) == _row_counts(path):
            return path, meta["build_s"], True
    t0 = time.perf_counter()
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in generate(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    rows = _row_counts(tmp)
    build_s = time.perf_counter() - t0
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump({"version": GENERATOR_VERSION, "sf": sf, "rows": rows,
                   "build_s": build_s}, fh)
    os.rename(tmp, path)
    return path, build_s, False
