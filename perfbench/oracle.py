"""Order-insensitive result hashing and the DuckDB oracle side.

The canonical form follows the engine's oracle-parity harness: columns
sorted by name, NaN as NULL, floats rounded to 9 places (which also folds
-0.0 into 0.0), timestamps as ISO strings, rows sorted.
"""

from __future__ import annotations

import hashlib
import math
import os


def _canon_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return round(v, 9) + 0.0
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_cell(x) for x in v)
    return v


def result_hash(cols: list[str], rows) -> tuple[int, str]:
    """(row count, sha256) of a result, independent of row and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = [tuple(_canon_cell(r[i]) for i in order) for r in rows]
    canon.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for r in canon:
        h.update(repr(r).encode())
    return len(canon), h.hexdigest()


def oracle_hashes(data_dir: str, tables: list[str], sql: dict[str, str]) -> dict:
    """Expected (row count, hash) of each query, computed by DuckDB over
    the same parquet files the engine reads."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, q in sql.items():
            res = con.execute(q)
            out[name] = result_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()
