"""Output checks: a stage's result is reduced to an order-insensitive
fingerprint and compared with the fingerprint of the catalog's DuckDB
oracle over the same generated files.

Cells are normalized the way the repository's oracle tests compare
them: columns sorted by lower-cased name, floats at full ``repr``
precision, Decimals at 6 significant digits, NULL and NaN as one
token, timestamps and dates in ISO form; rows are then sorted.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal

import numpy as np
import pandas as pd


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if v is pd.NaT:
        return "<null>"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return repr(float(v))
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, Decimal):
        return f"{float(v):.6g}"
    if isinstance(v, (datetime, pd.Timestamp, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def fingerprint(pdf: pd.DataFrame) -> tuple[int, str]:
    """(row count, sha256 of the canonical sorted rows)."""
    pdf = pdf.rename(columns=str.lower)
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e")
        h.update(r.encode())
    return len(rows), h.hexdigest()


def duck_connection(sf_dir: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def oracle_fingerprint(con, sql: str) -> tuple[int, str]:
    return fingerprint(con.execute(sql).fetchdf())
