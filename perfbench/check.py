"""Order-insensitive comparison of a result against an oracle answer."""

from __future__ import annotations

import datetime as dt
import decimal
import math


def norm_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        # 12 significant digits: sums and averages may be added up in
        # a different order by the two engines
        return float(f"{f:.12g}")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_value(x) for x in v)
    if hasattr(v, "tolist"):
        return norm_value(v.tolist())
    return str(v)


def norm_rows(rows) -> list[tuple]:
    out = [tuple(norm_value(v) for v in r) for r in rows]
    return sorted(out, key=lambda r: tuple((x is None, repr(x)) for x in r))


def same_rows(got, want) -> str | None:
    """None when equal as multisets of rows, else a short reason."""
    a, b = norm_rows(got), norm_rows(want)
    if a == b:
        return None
    if len(a) != len(b):
        return f"rows {len(a)} != expected {len(b)}"
    if a and len(a[0]) != len(b[0]):
        return f"columns {len(a[0])} != expected {len(b[0])}"
    for x, y in zip(a, b):
        if x != y:
            return f"first difference {x!r} != expected {y!r}"[:300]
    return "differs"


def frame_rows(pdf) -> list[tuple]:
    """Rows of a pandas frame with columns in sorted-name order (the
    two engines may emit columns in a different order)."""
    return list(pdf[sorted(pdf.columns)].itertuples(index=False, name=None))
