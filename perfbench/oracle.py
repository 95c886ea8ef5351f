"""Result comparison against the DuckDB ``oracle_sql()`` twins, after the
rules of ``scripts/check_oracle.py``: same row count, same column names,
and equal values once columns and rows are put in a canonical order. Like pandas there, dates compare equal to
midnight timestamps."""

from __future__ import annotations

import math
from datetime import date, datetime, timezone
from decimal import Decimal


def canon_value(v):
    """One comparable Python value: NaN and None alike, numpy scalars and
    decimals as floats, aware timestamps as naive UTC, nested values as
    tuples."""
    if v is None:
        return None
    if hasattr(v, "asDict"):  # a Spark Row (struct value)
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon_value(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        v = v.to_pydatetime()
    elif hasattr(v, "tolist"):  # numpy array or scalar
        return canon_value(v.tolist())
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
    elif isinstance(v, date):
        # pandas reads DATE and TIMESTAMP alike as datetime64
        v = datetime(v.year, v.month, v.day)
    return v


def _sort_key(v):
    if v is None:
        return (0, 0)
    if isinstance(v, (bool, int, float)):
        return (1, float(v))
    if isinstance(v, str):
        return (2, v)
    if isinstance(v, (date, datetime)):
        return (3, v.isoformat())
    return (4, repr(v))


def canon_rows(columns: list[str], rows: list) -> list[tuple]:
    """Rows (dicts keyed by column, or sequences in ``columns`` order) as
    tuples over sorted column names, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in rows:
        vals = [r[c] for c in columns] if isinstance(r, dict) else list(r)
        out.append(tuple(canon_value(vals[i]) for i in order))
    return sorted(out, key=lambda t: tuple(_sort_key(v) for v in t))


def same_result(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when equal, else the first problem found."""
    if len(got_rows) != len(want_rows):
        return f"row count {len(got_rows)} != oracle {len(want_rows)}"
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}"
    a = canon_rows(list(got_cols), got_rows)
    b = canon_rows(list(want_cols), want_rows)
    names = sorted(got_cols)
    for i, (x, y) in enumerate(zip(a, b)):
        for name, u, v in zip(names, x, y):
            if u != v:
                return f"row {i} [{name}]: {u!r} != oracle {v!r}"
    return None
