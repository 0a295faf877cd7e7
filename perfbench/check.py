"""Result digests for the correctness check, computed in Arrow and DuckDB.

A digest is (row count, sorted column names, order-insensitive value hash).
Both sides of a comparison are normalized the same way before hashing, so
a Spark result fetched as Arrow and a DuckDB oracle result compare equal
exactly when the parity harness in ``tests/parity.py`` would call them
equal: integer widths, float widths, timestamp time zones and units, and
negative zero do not matter; values, NULLs and row multiplicity do.
"""

from __future__ import annotations

import json
import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

from corpus import TABLES


def _norm_type(t: pa.DataType) -> pa.DataType:
    if pa.types.is_floating(t):
        return pa.float64()
    if pa.types.is_integer(t):
        return pa.int64()
    if pa.types.is_timestamp(t):
        return pa.timestamp("us")
    if pa.types.is_large_string(t):
        return pa.string()
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return pa.list_(_norm_type(t.value_type))
    return t


def _normalize(tbl: pa.Table) -> tuple[pa.Table, list[str]]:
    """Columns in name order, cast to one type per kind; and their names."""
    cols, names = [], []
    for name in sorted(tbl.column_names):
        col = tbl[name]
        t = col.type
        if pa.types.is_timestamp(t) and t.tz is not None:
            # a tz-aware instant and its UTC wall time share the int64 value
            col = pa.chunked_array(
                [c.cast(pa.int64()) for c in col.chunks], pa.int64()
            ).cast(pa.timestamp(t.unit))
        target = _norm_type(col.type)
        if target != col.type:
            col = col.cast(target)
        if pa.types.is_floating(col.type):
            col = pc.add(col, 0.0)  # -0.0 + 0.0 == +0.0
        cols.append(col)
        names.append(name)
    return pa.table(cols, names=[f"c{i}" for i in range(len(names))]), names


def digest(con: duckdb.DuckDBPyConnection, tbl: pa.Table) -> list:
    """[rows, sorted column names, multiset hash] of an Arrow table."""
    norm, names = _normalize(tbl)
    if not names:
        return [tbl.num_rows, [], "0"]
    row = ", ".join(
        f"coalesce(CAST(c{i} AS VARCHAR), '\\N')" for i in range(len(names))
    )
    con.register("__digest", norm)
    try:
        n, h = con.execute(
            f"SELECT count(*), coalesce(sum(hash(concat_ws(chr(31), {row}))"
            "::HUGEINT), 0) FROM __digest"
        ).fetchone()
    finally:
        con.unregister("__digest")
    return [int(n), names, str(h)]


def corpus_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_digests(
    cache_dir: str, fingerprint: str, sf_dir: str, oracles: dict[str, str]
) -> dict[str, list]:
    """Digest of each op's DuckDB oracle, cached per corpus fingerprint."""
    path = os.path.join(cache_dir, f"oracle-{fingerprint}.json")
    cached: dict[str, list] = {}
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
    missing = {k: v for k, v in oracles.items() if k not in cached}
    if missing:
        con = corpus_connection(sf_dir)
        try:
            for name, sql in sorted(missing.items()):
                cached[name] = digest(con, con.execute(sql).arrow())
        finally:
            con.close()
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(cached, fh, indent=0, sort_keys=True)
        os.replace(tmp, path)
    return {k: cached[k] for k in oracles}
