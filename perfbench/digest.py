"""Order-insensitive result digests shared by the Spark side and the
DuckDB oracle side.

Rows are normalized with ``tools/check_correctness.py::_norm_rows``
(columns sorted by name, floats rounded to 6 dp, timestamps as naive
ISO strings), then canonicalized once more so that values the
correctness gate treats as equal also hash equal: ``Decimal`` and
integral floats collapse onto one numeric spelling before the rows are
sorted and hashed.
"""

from __future__ import annotations

import decimal
import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_correctness import _norm_rows  # noqa: E402


def _canon(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, decimal.Decimal):
        v = round(float(v), 6)
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if isinstance(v, tuple):
        return tuple(_canon(x) for x in v)
    return v


def digest(cols, rows) -> str:
    """sha256 over sorted column names and the canonical sorted rows."""
    norm = sorted((tuple(_canon(c) for c in r) for r in _norm_rows(cols, rows)),
                  key=repr)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for r in norm:
        h.update(repr(r).encode())
    return f"{len(norm)}:{h.hexdigest()[:32]}"
