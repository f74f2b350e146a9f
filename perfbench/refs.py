"""Result comparison against independent references (DuckDB / Python).

Rows are normalised with ``scripts/check_oracle.py``'s ``norm`` (the
repo's oracle-gate normalisation) after two benchmark-side steps: floats
are rounded to 9 significant digits (Spark and DuckDB sum in different
orders, so un-rounded averages can differ in the last bits) and
timestamps are rendered as naive UTC.
"""

from __future__ import annotations

import importlib.util
import math
from collections import Counter
from datetime import datetime, timezone
from pathlib import Path

_ROOT = Path(__file__).resolve().parent.parent
_spec = importlib.util.spec_from_file_location(
    "check_oracle", _ROOT / "scripts" / "check_oracle.py")
_check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_check_oracle)
norm = _check_oracle.norm
table_hash = _check_oracle.table_hash


def _num(v):
    """Numeric-looking strings and floats → a float rounded to 9
    significant digits, so '2878.0' (Spark's double-to-string) and 2878
    compare equal."""
    if isinstance(v, str):
        try:
            v = float(v)
        except ValueError:
            return v
    if isinstance(v, float) and math.isfinite(v) and v != 0:
        return float(f"{v:.9g}")
    return v


def _cell(v):
    if isinstance(v, datetime) and v.tzinfo is not None:
        v = v.astimezone(timezone.utc).replace(tzinfo=None)
    return norm(_num(v))


def rows_key(cols, rows) -> Counter:
    """Order-insensitive multiset of normalised rows, columns by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter("|".join(_cell(r[i]) for i in order) for r in rows)


def diff(name: str, cols_a, rows_a, cols_b, rows_b) -> list[str]:
    """Empty when the two results match; otherwise one line per problem."""
    if sorted(cols_a) != sorted(cols_b):
        return [f"{name}: columns {sorted(cols_a)} != {sorted(cols_b)}"]
    a, b = rows_key(cols_a, rows_a), rows_key(cols_b, rows_b)
    if a == b:
        return []
    only_a = sorted((a - b).elements())[:1]
    only_b = sorted((b - a).elements())[:1]
    return [f"{name}: {sum(a.values())} rows vs {sum(b.values())} expected;"
            f" first extra {only_a}, first missing {only_b}"]


def fetch(con, sql: str):
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()
