"""Order-insensitive result fingerprints, so an op's answer can be
compared with a DuckDB oracle answer computed once and kept on disk.

Columns are sorted by name, cells normalised (floats rounded to 9
places, integral floats folded to ints, dates to ISO strings), rows
sorted; the fingerprint is the row count, the column names and a
SHA-256 of the canonical rows."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math


def norm_cell(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        r = round(v, 9) + 0.0  # also folds -0.0 into 0.0
        return int(r) if r.is_integer() and abs(r) < 2**53 else r
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def fingerprint(columns: list[str], rows) -> dict:
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    canon = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    canon.sort(key=lambda row: tuple((x is None, str(x)) for x in row))
    return {
        "columns": sorted(c.lower() for c in columns),
        "rows": len(canon),
        "sha256": hashlib.sha256(repr(canon).encode()).hexdigest(),
    }


def mismatch(got: dict, want: dict) -> str | None:
    """Why ``got`` differs from ``want``, or None when they agree."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if got["sha256"] != want["sha256"]:
        return "values differ"
    return None
