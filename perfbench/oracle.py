"""Result comparison against a DuckDB oracle: same columns, same number of
rows, same multiset of rows. Floats compare with a relative tolerance,
because the two engines sum in different orders."""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

REL_TOL = 1e-9


def _cell(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return _cell(v.tolist())
    return v


def _key(v):
    """Sort key that puts nearly equal floats next to each other."""
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, round(v, 4)) if math.isfinite(v) else (1, str(v))
    if isinstance(v, bool):
        return (2, str(v))
    if isinstance(v, int):
        return (1, float(v))
    if isinstance(v, (datetime, date)):
        return (3, v.isoformat())
    if isinstance(v, tuple):
        return (4, tuple(_key(x) for x in v))
    return (5, str(v))


def _equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_equal(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(cols, rows, want_cols, want) -> str:
    """'' when equal, else a short reason."""
    if sorted(cols) != sorted(want_cols):
        return f"columns {sorted(cols)} != {sorted(want_cols)}"
    if len(rows) != len(want):
        return f"{len(rows)} rows != {len(want)}"
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    worder = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
    got = sorted((tuple(_cell(r[i]) for i in order) for r in rows),
                 key=lambda r: tuple(_key(x) for x in r))
    exp = sorted((tuple(_cell(r[i]) for i in worder) for r in want),
                 key=lambda r: tuple(_key(x) for x in r))
    for g, w in zip(got, exp):
        if not _equal(g, w):
            return f"row {g} != {w}"
    return ""
