"""Order-insensitive result digests.

The canonical form is the one the engine's parity tests compare with
(``tests/parity.py``): columns sorted by name, each value rendered as a
full-precision string, rows sorted. It is restated here so that the
pinned digests depend only on the benchmark's own files. DATE values
render as ``YYYY-MM-DD`` and timestamps in ISO form, so a DATE column
must arrive as ``datetime.date`` (Spark's ``toPandas`` does this; the
DuckDB side converts, see ``make_pins.oracle_digest``).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal

import numpy as np
import pandas as pd


def canon_value(v) -> str:
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "∅" if math.isnan(f) else repr(f)
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, dt.datetime):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(v[k])}" for k in sorted(v)) + "}"
    try:
        if pd.isna(v):
            return "∅"
    except (TypeError, ValueError):
        pass
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list:
    cols = sorted(df.columns)
    return sorted(
        tuple(canon_value(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )


def frame_digest(df: pd.DataFrame) -> str:
    """sha256 over the sorted column names and canonical rows, with the
    row count in front so a mismatch report says how far off it was."""
    h = hashlib.sha256("\x1f".join(sorted(df.columns)).encode())
    rows = canonical_rows(df)
    for row in rows:
        h.update(b"\x1e" + "\x1f".join(row).encode())
    return f"{len(rows)}:{h.hexdigest()[:32]}"
