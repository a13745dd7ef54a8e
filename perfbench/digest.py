"""Order-insensitive digest of a query result.

The normalization is the one the repository's oracle gate applies
(`dev/check.py`): columns sorted by name, every cell rendered as text
(floats that are whole as integers, other floats rounded to 9 places,
arrays element by element, nulls and NaN as NULL), rows sorted. Two
results get the same digest exactly when that gate calls them equal.
"""
import glob
import hashlib
import math

import pandas as pd


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def of_frame(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted("\x1f".join(_cell(v) for v in row)
                  for row in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    h.update("\x1f".join(df.columns).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return f"{len(rows)}:{h.hexdigest()}"


def of_parquet_dir(path: str) -> str:
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    return of_frame(pd.concat([pd.read_parquet(f) for f in files],
                              ignore_index=True))
