"""Seeded synthetic corpus for the benchmark, plus the key-shifted replica.

The corpus has the schema of the engine's test corpus (FIXTURES.md): a
TPC-H-shaped star (region .. lineitem), an ``events`` stream table and the
LLM-pipeline tables ``documents`` and ``embeddings``, one parquet file per
table. Value distributions follow that corpus (uniform keys, five event
types, a 30-word document vocabulary with a few exact and near duplicates,
unit-norm 64-dim embeddings), so every registered operator runs on it.

``build`` writes a corpus for a scale factor and a replica factor into a
cache directory keyed by those parameters and the generator version, and
reuses it when present. ``fingerprint`` hashes the parquet footers of the
base corpus together with the replica factor: two results are comparable
only when their fingerprints are equal.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1
CORPUS_SEED = 42
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(sf: float, seed: int = CORPUS_SEED) -> dict[str, pa.Table]:
    """Build every corpus table in memory for scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)
        ],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    d0, d1 = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, (d1 - d0) // _DAY_US + 1, n_ord)
                           * _DAY_US + d0),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    s1 = _epoch_us(2001, 11, 4)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(1, (s1 - d0) // _DAY_US + 1, n_line)
                          * _DAY_US + d0),
    })
    e0 = _epoch_us(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + e0),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    vec = rng.standard_normal((n_emb, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel(), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n)
    ]
    # ~0.2% exact copies and ~1% near duplicates (one 'dup' token inserted)
    for i in rng.choice(np.arange(1, n), max(1, n // 500), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    for i in rng.choice(np.arange(1, n), max(1, n // 100), replace=False):
        toks = texts[rng.integers(0, i)].split(" ")
        toks.insert(int(rng.integers(0, len(toks) + 1)), "dup")
        texts[i] = " ".join(toks)
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n)],
        "source": np.array([f"src{i}" for i in range(20)])[
            rng.integers(0, 20, n)
        ],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })


# Replica recipe (key shifting, dims replicated with unchanged names,
# salted documents, sign-flipped embeddings): each replica `rep` shifts
# every key column by rep x (max key of its domain + 1), so referential
# integrity holds and join cardinalities grow linearly with the factor.
_DOMAINS = {
    "region": ("region", "r_regionkey"),
    "nation": ("nation", "n_nationkey"),
    "customer": ("customer", "c_custkey"),
    "supplier": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "orders": ("orders", "o_orderkey"),
    "events": ("events", "event_id"),
    "users": ("events", "user_id"),
    "documents": ("documents", "doc_id"),
    "embeddings": ("embeddings", "vec_id"),
}
_REP_KEYS = {
    "region": {"r_regionkey": "region"},
    "nation": {"n_nationkey": "nation", "n_regionkey": "region"},
    "customer": {"c_custkey": "customer", "c_nationkey": "nation"},
    "supplier": {"s_suppkey": "supplier", "s_nationkey": "nation"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier",
    },
    "events": {"event_id": "events", "user_id": "users"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}


def replicate(base: dict[str, pa.Table], factor: int) -> dict[str, pa.Table]:
    """Key-shifted ``factor``-x replica of ``base`` (factor 1 is ``base``)."""
    if factor == 1:
        return base
    strides = {
        dom: int(pa.compute.max(base[tbl][col]).as_py()) + 1
        for dom, (tbl, col) in _DOMAINS.items()
    }
    out = {}
    for name, keymap in _REP_KEYS.items():
        parts = []
        for rep in range(factor):
            tbl = base[name]
            for col, dom in keymap.items():
                i = tbl.schema.get_field_index(col)
                shifted = pa.compute.add(
                    tbl[col], pa.scalar(rep * strides[dom], tbl[col].type)
                )
                tbl = tbl.set_column(i, col, shifted)
            if name == "documents" and rep:
                tbl = _salt_documents(tbl, rep)
            if name == "embeddings" and rep:
                tbl = _flip_embeddings(tbl, rep)
            parts.append(tbl)
        out[name] = pa.concat_tables(parts)
    return out


def _salt_documents(tbl: pa.Table, rep: int) -> pa.Table:
    # a marker token after every 3rd token: every 5-gram shingle differs
    # across replicas, so near-duplicate density does not grow with scale
    mark = f"zrep{rep}"
    texts = []
    for s in tbl["text"].to_pylist():
        toks = s.split(" ")
        salted = []
        for i, tok in enumerate(toks):
            salted.append(tok)
            if i % 3 == 2:
                salted.append(mark)
        texts.append(" ".join(salted))
    tbl = tbl.set_column(tbl.schema.get_field_index("text"), "text", pa.array(texts))
    return tbl.set_column(
        tbl.schema.get_field_index("n_chars"), "n_chars",
        pa.array([len(s) for s in texts], pa.int64()),
    )


def _flip_embeddings(tbl: pa.Table, rep: int) -> pa.Table:
    # per-replica sign flips per dimension: within-replica geometry is
    # preserved, cross-replica cosines are near zero
    signs = np.random.default_rng(rep).choice([-1.0, 1.0], 64).astype("float32")
    flat = np.asarray(
        tbl["embedding"].combine_chunks().flatten(), dtype="float32"
    ).reshape(-1, 64) * signs
    arr = pa.FixedSizeListArray.from_arrays(
        pa.array(flat.ravel(), pa.float32()), 64
    ).cast(pa.list_(pa.float32()))
    return tbl.set_column(tbl.schema.get_field_index("embedding"), "embedding", arr)


def _write(tables: dict[str, pa.Table], out_dir: str) -> None:
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)


def fingerprint(base_dir: str, factor: int) -> str:
    """Hash of the base corpus parquet footers plus the replica factor."""
    h = hashlib.sha256(f"factor={factor}".encode())
    for name in TABLES:
        md = pq.ParquetFile(os.path.join(base_dir, f"{name}.parquet")).metadata
        h.update(name.encode())
        h.update(str(md.schema.to_arrow_schema()).encode())
        h.update(str(md.num_rows).encode())
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            h.update(str(rg.num_rows).encode())
            for c in range(rg.num_columns):
                col = rg.column(c)
                h.update(str(col.total_compressed_size).encode())
                if col.statistics is not None and col.statistics.has_min_max:
                    h.update(repr((col.statistics.min, col.statistics.max)).encode())
    return h.hexdigest()[:16]


def build(cache_dir: str, sf: float, factor: int = 1) -> tuple[str, str, float]:
    """Return (corpus dir, fingerprint, seconds its generation took).

    A cached corpus is reused; its recorded generation time is returned.
    """
    t0 = time.perf_counter()
    base_dir = os.path.join(cache_dir, f"corpus-v{GENERATOR_VERSION}-sf{sf:g}")
    base = None
    if not os.path.isdir(base_dir):
        base = generate(sf)
        _write(base, base_dir)
    out_dir = base_dir if factor == 1 else f"{base_dir}-x{factor}"
    if not os.path.isdir(out_dir):
        if base is None:
            base = {n: pq.read_table(os.path.join(base_dir, f"{n}.parquet"))
                    for n in TABLES}
        _write(replicate(base, factor), out_dir)
    meta_path = os.path.join(out_dir, "generated.json")
    if not os.path.exists(meta_path):
        with open(meta_path, "w") as fh:
            json.dump({"sf": sf, "factor": factor, "generate_s": time.perf_counter() - t0}, fh)
    with open(meta_path) as fh:
        generate_s = json.load(fh)["generate_s"]
    return out_dir, fingerprint(base_dir, factor), generate_s
