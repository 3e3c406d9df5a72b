"""Engine-vs-reference result comparison.

Rows are compared as multisets, columns matched by (lower-cased) name.
Floats and decimals compare with a 1e-9 relative tolerance, so a last-bit
difference in summation order between engines is not an error; dates and
timestamps compare as ISO strings.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math


def _canon(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else f
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):  # arrays, and structs (Row is a tuple)
        return tuple(_canon(x) for x in v)
    return str(v)


def _sort_key(row):
    return repr(tuple(f"{x:.9g}" if isinstance(x, float) else x for x in row))


def canon(cols, rows) -> tuple[tuple[str, ...], list[tuple]]:
    """Canonical (sorted column names, sorted rows) of a result."""
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return tuple(names[i] for i in order), out


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same(got, want) -> str | None:
    """None when the canonical results match, else a short reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for a, b in zip(gr, wr):
        if not _close(a, b):
            return f"row {a!r} != {b!r}"
    return None


def duck_result(con, sql: str) -> tuple:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return canon(cols, cur.fetchall())
