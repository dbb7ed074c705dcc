"""Order-independent result digests, shared by the Spark side and the
DuckDB oracle side of every check.

A result is its column names (sorted) and its rows, each row's values
taken in sorted-column order. Rows are hashed one by one and the row
hashes sorted, so neither row order nor partitioning changes the
digest. Values are compared by ``repr``, which is exact for floats;
-0.0 is folded into 0.0 because the two compare equal.
"""

from __future__ import annotations

import hashlib


def _canon(v) -> str:
    if isinstance(v, float):
        return repr(v + 0.0)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def digest(columns, rows) -> dict:
    """{"rows": n, "digest": hex} of ``rows`` whose values are in the
    order of ``columns``; columns and values are re-sorted by name."""
    columns = list(columns)
    order = sorted(range(len(columns)), key=columns.__getitem__)
    hashes = sorted(
        hashlib.sha1(
            "\x1f".join(_canon(r[i]) for i in order).encode()
        ).digest()
        for r in rows
    )
    h = hashlib.sha256("\x1f".join(sorted(columns)).encode())
    for x in hashes:
        h.update(x)
    return {"rows": len(hashes), "digest": h.hexdigest()}


def duckdb_digest(con, sql: str) -> dict:
    res = con.execute(sql)
    names = [d[0] for d in res.description]
    return digest(names, res.fetchall())
