"""Seeded input builder for the benchmark.

Writes the ten engine tables (``region`` … ``embeddings``) as one
parquet file each, with the schemas, value shapes and sf0.01 row counts
of the engine's testdata generations, from nothing but a seed. The
engine only ever sees the generated directory.

A directory is reused only when its ``MANIFEST.json`` names the same
build parameters and every parquet file still hashes to the recorded
content fingerprint; otherwise it is rebuilt from scratch.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated content changes, so stale dirs are rebuilt.
GENERATOR_VERSION = 1

# Row counts per table: the testdata's sf0.01 shape.
ROWS = dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
            lineitem=60_000, events=10_000, documents=500, embeddings=500)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "small", "large", "hot", "old", "green", "steel"]
PART_NOUN = ["anvil", "widget", "ring", "plate", "rod", "bolt", "gear", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EMB_DIM = 64
ORDER_EPOCH = np.datetime64("1995-01-01", "D")
EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span):
    d = ORDER_EPOCH + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _tables(seed: int) -> dict[str, pa.Table]:
    n = ROWS
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": _pick(rng, names, npart),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": _money(rng, 900.0, 999.99, npart),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, no, 2405),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, nl, 2500),
    })
    ne = n["events"]
    # sorted arrivals over 30 days; µs offsets made strictly increasing
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne)) + np.arange(ne)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array((EVENT_EPOCH + offs.astype("timedelta64[us]")), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(ne // 67, 1), ne).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    nd = n["documents"]
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(8, 100))])
             for _ in range(nd)]
    # 5 % near-duplicates: another document's text plus one token
    for i in rng.choice(nd, nd // 20, replace=False):
        j = int(rng.integers(0, nd))
        if j != i:
            texts[i] = texts[j] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, nd, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)], pa.string()),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    nv = n["embeddings"]
    v = rng.standard_normal((nv, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
    })
    return t


def _digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def fingerprint(out_dir: str) -> str | None:
    """Content fingerprint of a built dir: one hash over the parquet
    files' bytes; None when the manifest is missing or a file's bytes
    no longer match it."""
    try:
        with open(os.path.join(out_dir, "MANIFEST.json")) as f:
            manifest = json.load(f)
        files = manifest["files"]
        if any(_digest(os.path.join(out_dir, name)) != h for name, h in files.items()):
            return None
    except (OSError, KeyError, ValueError):
        return None
    return hashlib.sha256(json.dumps(files, sort_keys=True).encode()).hexdigest()


def build(out_dir: str, seed: int) -> str:
    """Make ``out_dir`` hold the tables for ``seed`` and return its
    content fingerprint, reusing the dir only if it checks out."""
    params = {"version": GENERATOR_VERSION, "seed": seed}
    try:
        with open(os.path.join(out_dir, "MANIFEST.json")) as f:
            same = json.load(f).get("params") == params
    except (OSError, ValueError):
        same = False
    fp = fingerprint(out_dir) if same else None
    if fp is not None:
        return fp
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    files = {}
    for name, table in _tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        files[f"{name}.parquet"] = _digest(path)
    with open(os.path.join(out_dir, "MANIFEST.json"), "w") as f:
        json.dump({"params": params, "files": files}, f, indent=1, sort_keys=True)
    return fingerprint(out_dir)


if __name__ == "__main__":
    # python3 inputs.py DIR SEED [DIR SEED ...]
    for out_dir, seed in zip(sys.argv[1::2], sys.argv[2::2]):
        build(out_dir, int(seed))
