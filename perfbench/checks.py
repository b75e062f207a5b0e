"""Output checks: an order-insensitive digest of a result's rows, and the
comparison of a query's output with the values recorded beside the
benchmark (``expected.json``).

The digest canonicalises every value the same way whichever engine
produced it (Spark ``Row`` objects or DuckDB tuples): columns in name
order, doubles to 10 significant digits, timestamps and dates as ISO
strings, nested values recursively. Rows are hashed one by one and the
sorted row hashes hashed again, so row order never matters.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return "0" if f == 0 else format(f, ".10g")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items(), key=lambda kv: canon(kv[0]))) + "}"
    if hasattr(v, "asDict"):
        return canon(v.asDict())
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(canon(x) for x in seq) + "]"
    return str(v)


def digest(columns: list[str], rows) -> str:
    """Order-insensitive hash of ``rows`` whose values follow ``columns``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    hashes = sorted(
        hashlib.sha1("\x1f".join(canon(r[i]) for i in order).encode()).hexdigest()
        for r in rows
    )
    return hashlib.sha256("".join(hashes).encode()).hexdigest()[:32]


def spark_result(df) -> dict:
    """Row count, schema and digest of a Spark DataFrame's output."""
    rows = df.collect()
    return {
        "rows": len(rows),
        "schema": df.schema.simpleString(),
        "digest": digest(df.columns, rows),
    }


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)


def mismatch(expected: dict, got: dict) -> str | None:
    """Why ``got`` differs from ``expected``, or None when it matches.

    Queries listed as unstable are checked on row count and schema only."""
    for key in ("rows", "schema"):
        if expected[key] != got[key]:
            return f"{key}: expected {expected[key]!r}, got {got[key]!r}"
    if expected["source"] != "unstable" and expected["digest"] != got["digest"]:
        return "value digest differs"
    return None
