"""Seeded input tables for the benchmark.

The tables mirror the engine's testdata schema (a TPC-H-like star
schema, an ``events`` stream table, a text corpus and an embedding
table). Their *structure* -- fan-outs, the text corpus and its
near-duplicate pairs, the vectors -- comes from a fixed structure seed,
so every workload seed sees the same shape of work. The workload seed
only changes:

- keys: one offset is added to every key column (one offset for all,
  so every join between key columns keeps its fan-out);
- row order: every table is permuted;
- numeric measures: prices, balances and event values get a bounded
  multiplicative jitter (at most +/-1%, rounded to cents);
- embeddings: a seeded orthogonal map (a cyclic rotation of the
  dimensions plus per-dimension sign flips), which keeps every cosine.

Text is byte-identical across seeds, so near-duplicate structure,
language tags and PII hits do not change.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRUCTURE_SEED = 20240101
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "old", "small", "new", "red", "hot", "large", "cold")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMBED_DIM = 64
NEAR_DUP_FRAC = 0.05
JITTER = 0.01
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
KEY_COLS = {
    "customer": ("c_custkey",), "supplier": ("s_suppkey",),
    "part": ("p_partkey",), "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"), "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
MEASURES = {
    "customer": ("c_acctbal",), "supplier": ("s_acctbal",),
    "orders": ("o_totalprice",), "lineitem": ("l_extendedprice",),
    "events": ("value",),
}


@dataclass(frozen=True)
class Size:
    """Row counts of one input size. ``orders`` sets the TPC-H-like
    tables (testdata ratios); the corpus tables are sized apart."""
    orders: int
    documents: int
    embeddings: int

    @property
    def rows(self) -> dict[str, int]:
        o = self.orders
        return {"region": 5, "nation": 25, "customer": o // 10,
                "supplier": max(10, o // 150), "part": max(200, (o * 2) // 15),
                "orders": o, "lineitem": o * 4, "events": (o * 2) // 3,
                "documents": self.documents, "embeddings": self.embeddings}


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n) * np.timedelta64(86_400_000_000, "us")


def _documents(rng, n: int) -> tuple[np.ndarray, list[str]]:
    n_words = rng.integers(10, 101, n)
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k))
             for k in n_words]
    # A near-duplicate is another original document plus one token.
    dups = rng.choice(n, int(n * NEAR_DUP_FRAC), replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for d in dups:
        texts[d] = texts[int(rng.choice(originals))] + " dup"
    lang = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    return lang, texts


def base_tables(size: Size) -> dict[str, dict[str, np.ndarray | list]]:
    """Column arrays of the structure dataset (no workload seed)."""
    rng = np.random.default_rng(STRUCTURE_SEED)
    r = size.rows
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": list(REGIONS)}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    n = r["customer"]
    t["customer"] = {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]}
    n = r["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)}
    n = r["part"]
    keys = np.arange(n, dtype=np.int64)
    t["part"] = {
        "p_partkey": keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)}
    n = r["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, r["customer"], n).astype(np.int64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]}
    n = r["lineitem"]
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, r["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, r["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, r["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, "1995-01-02", 2499, n)}
    n = r["events"]
    t["events"] = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.sort(
            rng.integers(0, 30 * 86_400_000_000, n)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, r["customer"] // 10), n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(np.maximum(0.01, rng.exponential(50.0, n)), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}
    n = r["documents"]
    lang, texts = _documents(rng, n)
    t["documents"] = {
        "doc_id": np.arange(n, dtype=np.int64), "text": texts,
        "lang": lang, "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    n = r["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {"vec_id": np.arange(n, dtype=np.int64),
                       "embedding": vecs.astype(np.float32),
                       "label": rng.integers(0, 10, n).astype(np.int32)}
    return t


def key_offset(seed: int) -> int:
    """One offset for every key column; a multiple of 1000 so key
    residues (``key % 5`` splits, ``key % 20`` buckets) keep their
    class sizes."""
    return (seed % 9973 + 1) * 1_000_000


def orthogonal_map(seed: int, dim: int = EMBED_DIM) -> tuple[int, np.ndarray]:
    """Rotation amount and sign vector of the seed's orthogonal map."""
    signs = np.array([1.0 if int(hashlib.md5(f"bench_{seed}_{d}".encode())
                                 .hexdigest()[0], 16) >= 8 else -1.0
                      for d in range(dim)], dtype=np.float32)
    return seed % dim, signs


def seeded_tables(size: Size, seed: int) -> dict[str, pa.Table]:
    """Apply the workload seed to the structure dataset."""
    base = base_tables(size)
    rng = np.random.default_rng(seed)
    off = key_offset(seed)
    rot, signs = orthogonal_map(seed)
    out = {}
    for name in TABLES:
        cols = dict(base[name])
        for c in KEY_COLS.get(name, ()):
            cols[c] = cols[c] + off
        for c in MEASURES.get(name, ()):
            j = rng.uniform(1 - JITTER, 1 + JITTER, len(cols[c]))
            cols[c] = np.maximum(0.01, np.round(cols[c] * j, 2)) \
                if name == "events" else np.round(cols[c] * j, 2)
        n = len(next(iter(cols.values())))
        perm = rng.permutation(n)
        arrays = {}
        for c, v in cols.items():
            if c == "embedding":
                m = (np.roll(v, -rot, axis=1) * signs)[perm]
                arrays[c] = pa.array(list(m), type=pa.list_(pa.float32()))
            elif isinstance(v, list):
                arrays[c] = pa.array([v[i] for i in perm], type=pa.string())
            else:
                a = np.asarray(v)[perm]
                arrays[c] = pa.array(a.astype(object) if a.dtype.kind == "U"
                                     else a,
                                     type=pa.string() if a.dtype.kind == "U"
                                     else None)
        out[name] = pa.table(arrays)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """Write one parquet file per table; returns on-disk bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tab in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path)
        sizes[name] = os.path.getsize(path)
    return sizes
