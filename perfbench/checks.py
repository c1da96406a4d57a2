"""Result digests for the named-query workloads.

A result is canonicalized with the rules of ``tools/check_oracle.py``:
columns sorted by name, rows sorted by the string form of every value,
NULL sorting first, floats compared exactly. The digest is a SHA-256 of
that canonical form, so equal digests mean the same rows, the same
column names and bit-identical floats.
"""

from __future__ import annotations

import hashlib
import json
import math
from decimal import Decimal


def _cell(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "b:" + str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return "f:" + repr(v + 0.0)  # -0.0 == 0.0 under the exact-equality rule
    if isinstance(v, int):
        return "i:" + str(v)
    if isinstance(v, Decimal):
        return "d:" + str(v)
    return "s:" + str(v)


def digest(columns: list[str], rows) -> dict:
    """``{"columns", "rows", "digest"}`` of a result given as row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for r in canon:
        h.update(json.dumps(r).encode())
        h.update(b"\n")
    return {
        "columns": [columns[i] for i in order],
        "rows": len(canon),
        "digest": h.hexdigest(),
    }


def check(expected: dict, columns: list[str], rows) -> str | None:
    """``None`` when the result matches ``expected``, else why not.
    Rows-only entries (no ``digest`` key) check the row count alone."""
    if "digest" not in expected:
        n = len(rows)
        return None if n == expected["rows"] else f"rows {n} != {expected['rows']}"
    got = digest(columns, rows)
    for k in ("columns", "rows", "digest"):
        if got[k] != expected[k]:
            return f"{k} {got[k]} != {expected[k]}"
    return None
