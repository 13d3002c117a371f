"""Type-strict, order-insensitive digest of a query result.

Both sides arrive as pandas frames (Spark ``toPandas``, DuckDB
``fetchdf``). Every value is tagged with its kind before hashing, so an
integer never matches a float (``123`` vs ``123.0``), a string never
matches a number, and floats compare by exact ``repr``. Columns are
taken in name order and rows are sorted, so neither column nor row
order matters.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math

import numpy as np
import pandas as pd


def canon_value(v) -> str:
    """One tagged, exact text form per value."""
    if v is None or v is pd.NaT:
        return "n:"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{int(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "n:" if math.isnan(f) else f"f:{f!r}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v.normalize()}"
    if isinstance(v, str):
        return "s:" + json.dumps(v, ensure_ascii=False)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + hashlib.sha256(bytes(v)).hexdigest()
    if isinstance(v, (datetime.datetime, datetime.date)):  # pd.Timestamp too
        return "t:" + v.isoformat()
    if isinstance(v, dict):
        return "m:{" + ",".join(f"{canon_value(k)}={canon_value(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "a:[" + ",".join(canon_value(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}: {v!r}")


def frame_digest(df: pd.DataFrame) -> str:
    """sha256 over column names and the sorted canonical rows."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(canon_value(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    h.update(("\x1e".join(cols) + "\n").encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()}"
