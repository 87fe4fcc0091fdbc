"""DuckDB output checks.

``compare`` matches two result frames the way the repo's correctness
gate does: same column set, same row count, and the same multiset of
rows, compared as sorted 64-bit row hashes over canonical cell values
(see ``column_hash``). ``lake_sql`` recomputes a ``lake_cdc`` table version
from its input files: last-wins per key by ``(ts, value)`` descending,
then tombstoned keys dropped.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

NULL = "∅"


def connect(data_dir: str | None, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return NULL
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        return str(_utc_us(pd.Series([v]))[0])
    return str(v)


def _utc_us(s: pd.Series) -> np.ndarray:
    t = pd.to_datetime(s, utc=True)
    return t.dt.tz_localize(None).astype("datetime64[us]").astype("int64").to_numpy()


_NULL_HASH = np.uint64(0x9E3779B97F4A7C15)
_MIX = np.uint64(0x100000001B3)


def column_hash(s: pd.Series) -> np.ndarray:
    """One 64-bit hash per cell of a canonical value: ints as int64,
    floats by their exact bits, timestamps as UTC microseconds, NULL and
    NaN alike, everything else by its text (arrays element-wise). An int
    and a float of equal value hash differently, as in the value hash of
    the repo's correctness gate (tests/oracle_compare.py)."""
    mask = s.isna().to_numpy()
    if pd.api.types.is_datetime64_any_dtype(s):
        v = _utc_us(s.fillna(pd.Timestamp(0)))
    elif pd.api.types.is_float_dtype(s):
        v = s.to_numpy(dtype=s.dtype, na_value=0)
    elif pd.api.types.is_integer_dtype(s):
        v = s.to_numpy(dtype=np.int64, na_value=0)
    elif pd.api.types.infer_dtype(s, skipna=True) == "string":
        v = s.fillna("").to_numpy(dtype=object)
    else:
        v = np.array([_cell(x) for x in s.to_numpy()], dtype=object)
    h = pd.util.hash_array(v)
    h[mask] = _NULL_HASH
    return h


def row_hashes(df: pd.DataFrame) -> np.ndarray:
    h = np.zeros(len(df), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for c in sorted(df.columns):
            h = (h * _MIX) ^ column_hash(df[c].reset_index(drop=True))
    return h


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else what differs."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    ha, hb = row_hashes(got), row_hashes(want)
    if np.array_equal(np.sort(ha), np.sort(hb)):
        return None
    extra = np.flatnonzero(~np.isin(ha, hb))
    row = got.iloc[extra[0]].to_dict() if len(extra) else "(duplicate counts differ)"
    return f"{len(extra)} rows not in the oracle; first: {row}"


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def lake_sql(applied: list[str], corrections: list[str]) -> str:
    cols = "event_id, ts, user_id, event_type, value"
    union = f"SELECT {cols}, false AS _deleted FROM read_parquet({_files(applied)})"
    if corrections:
        union += f" UNION ALL SELECT {cols}, _deleted FROM read_parquet({_files(corrections)})"
    return f"""
        SELECT {cols} FROM (
            SELECT *, row_number() OVER (
                PARTITION BY event_id ORDER BY ts DESC, value DESC) AS rn
            FROM ({union}))
        WHERE rn = 1 AND NOT _deleted
    """


def compare_lake(got: pd.DataFrame, con, applied: list[str], corrections: list[str]) -> str | None:
    """Compare a collected table version with its recomputation."""
    return compare(got, con.execute(lake_sql(applied, corrections)).fetchdf())
