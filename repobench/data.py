"""Seeded benchmark inputs.

Every table the workloads read is generated here from ``--seed``; the
program under test sees only these files. The generator reproduces the
layout the registry queries are written against (a slim TPC-H star, an
``events`` log, a small text corpus and unit embeddings): same schemas,
value vocabularies, key ranges and per-scale-factor row counts, with
every column drawn independently and uniformly as in that layout. At a
fixed scale factor a seed therefore changes values, row order and
parquet row-group size, but not volume.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit scale factor; ``documents``/``embeddings`` never go below
# 500 rows and ``events`` users scale like customers
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
MIN_CORPUS_ROWS = 500
EVENT_USERS_PER_SF = 15_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DUP_SHARE = 0.05  # documents that repeat another document's text plus " dup"
EMBED_DIM = 64


def _days(rng, n, first: str, last: str) -> np.ndarray:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    off = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + off).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _list_column(mat: np.ndarray) -> pa.Array:
    n, d = mat.shape
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1)))


def seeded_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """Every table ``sources.load_tables`` registers, at scale factor ``sf``."""
    n = {t: max(1, int(r * sf)) for t, r in ROWS_PER_SF.items()}
    n["documents"] = max(MIN_CORPUS_ROWS, n["documents"])
    n["embeddings"] = max(MIN_CORPUS_ROWS, n["embeddings"])
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, c, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, c),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(rng, s, -999.99, 9999.99),
        }
    )
    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": np.char.add(
                np.char.add(rng.choice(PART_ADJ, p), " "), rng.choice(PART_NOUN, p)
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
            "p_type": rng.choice(PART_TYPES, p),
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": _money(rng, o, 1000, 500000),
            "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li),
            "l_partkey": rng.integers(0, p, li),
            "l_suppkey": rng.integers(0, s, li),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, li, 900, 105000),
            "l_discount": np.round(rng.uniform(0, 0.10, li), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, li), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["F", "O"], li),
            "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    out["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": start + np.sort(rng.integers(0, span_us, e)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, int(EVENT_USERS_PER_SF * sf)), e),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    lengths = rng.integers(10, 101, d)
    words = rng.choice(VOCAB, int(lengths.sum()))
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    dups = rng.choice(d, int(d * DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(d), dups)
    for i, src in zip(dups, rng.choice(originals, len(dups))):
        texts[i] = texts[src] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, d, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": _list_column(vecs),
            "label": rng.integers(0, 10, m).astype(np.int32),
        }
    )
    return out


def features(rng: np.random.Generator, rows: int) -> pa.Table:
    """``rows`` seeded FLOAT[64] feature vectors keyed by ``vec_id``."""
    x = rng.standard_normal((rows, EMBED_DIM), dtype=np.float32)
    return pa.table({"vec_id": np.arange(rows, dtype=np.int64), "embedding": _list_column(x)})


def _write(table: pa.Table, path: str, rng: np.random.Generator, permute: bool, files: int = 1):
    """Write ``table`` with a seeded row order and row-group size."""
    if permute and table.num_rows > 1:
        table = table.take(pa.array(rng.permutation(table.num_rows)))
    groups = int(rng.integers(2, 9))
    row_group = max(1, -(-table.num_rows // groups))
    if files == 1:
        pq.write_table(table, path, row_group_size=row_group)
        return
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"), row_group_size=row_group)


def materialize(work: str, seed: int, kind: str, scale: float, files: int = 1) -> str:
    """Generate the inputs of ``kind`` ("tables" at scale factor ``scale``
    or "features" with ``scale`` rows) for ``seed`` under ``work`` and
    return their directory. A finished directory is reused; inputs of
    other seeds are removed so the work dir holds one seed at a time."""
    root = os.path.join(work, "inputs")
    name = f"seed-{seed}-{kind}-{scale:g}"
    out = os.path.join(root, name)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    if os.path.isdir(root):
        for old in os.listdir(root):
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng([seed, 0 if kind == "tables" else 1])
    if kind == "tables":
        for tname, table in seeded_tables(rng, scale).items():
            # the event log stays in time order, as a log arrives
            _write(table, os.path.join(out, f"{tname}.parquet"), rng, permute=tname != "events")
    else:
        _write(features(rng, int(scale)), os.path.join(out, "feats"), rng, True, files)
    with open(os.path.join(out, "_DONE"), "w") as f:
        json.dump({"seed": seed, "kind": kind, "scale": scale}, f)
    return out
