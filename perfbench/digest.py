"""Order-insensitive, type-sensitive digests of query results.

Both sides of a check go through :func:`digest`: Spark ``Row`` lists
and DuckDB ``fetchall`` tuples normalise to the same form. Floats are
compared bit-exactly (``-0.0`` folds to ``0.0``), ints and floats never
compare equal, and timestamps at midnight compare as dates — the same
rules as the engine's differential tests.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", repr(v + 0.0))
    if isinstance(v, Decimal):
        return ("d", str(v.normalize()))
    if isinstance(v, dt.datetime):
        if v.time() == dt.time(0):
            return ("t", v.strftime("%Y-%m-%d"))
        return ("t", v.strftime("%Y-%m-%d %H:%M:%S.%f"))
    if isinstance(v, dt.date):
        return ("t", v.strftime("%Y-%m-%d"))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((repr(_norm(k)), _norm(x))
                                  for k, x in v.items())))
    return ("s", str(v))


def digest(columns: list[str], rows) -> str:
    """sha256 over the column names and the sorted, normalised rows
    (columns taken in name order, so column order does not matter)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in norm:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def spark_digest(df) -> tuple[str, int]:
    rows = df.collect()
    return digest(df.columns, rows), len(rows)


def _key(v):
    if v is None:
        return (0, "", 0.0)
    if isinstance(v, (int, float, Decimal)) and not isinstance(v, bool):
        return (1, "", float(v))
    return (2, repr(_norm(v)), 0.0)


def rows_close(columns_a: list[str], rows_a, columns_b: list[str], rows_b,
               rtol: float = 1e-9) -> bool:
    """Order-insensitive match of two results whose numbers may differ
    by ``rtol`` (relative): for reports that two engines each round
    from decimals to doubles. Non-numbers must be equal."""
    if sorted(columns_a) != sorted(columns_b) or len(rows_a) != len(rows_b):
        return False

    def canon(columns, rows):
        order = sorted(range(len(columns)), key=lambda i: columns[i])
        return sorted((tuple(r[i] for i in order) for r in rows),
                      key=lambda t: [_key(v) for v in t])

    for ra, rb in zip(canon(columns_a, rows_a), canon(columns_b, rows_b)):
        for a, b in zip(ra, rb):
            ka, kb = _key(a), _key(b)
            if ka[0] != kb[0]:
                return False
            if ka[0] == 1:
                if not math.isclose(ka[2], kb[2], rel_tol=rtol,
                                    abs_tol=1e-9):
                    return False
            elif ka != kb:
                return False
    return True
