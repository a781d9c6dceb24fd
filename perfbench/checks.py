"""Output checks against DuckDB, run after the timed region.

Query outputs are compared the way the engine's oracle gate compares them
(`tools/check.py`): same columns, same row count, rows sorted on the
non-float columns first, floats within 1e-6 relative / 1e-9 absolute.
Hourly bars are compared the way the kline value oracle does
(`tools/kline_oracle.py`): one md5 over the exact columns and the volume
sum within 1e-9 relative.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

KLINE_COLS = {
    "open_time": "BIGINT", "open": "DOUBLE", "high": "DOUBLE", "low": "DOUBLE",
    "close": "DOUBLE", "volume": "DOUBLE", "close_time": "BIGINT",
    "quote_volume": "DOUBLE", "n_trades": "BIGINT", "taker_base": "DOUBLE",
    "taker_quote": "DOUBLE", "ignore_col": "VARCHAR"}


def oracle_bars(kline_dir, symbol):
    """The flagship hourly aggregate replayed by DuckDB over the landed CSV."""
    csvs = sorted(glob.glob(os.path.join(kline_dir, "landing", "*", "*.csv")))
    cols = ", ".join(f"'{k}': '{v}'" for k, v in KLINE_COLS.items())
    files = "[" + ", ".join(f"'{c}'" for c in csvs) + "]"
    return duckdb.connect().execute(f"""
      WITH events AS (
        SELECT make_timestamp(open_time * 1000) AS ts, close AS value,
               '{symbol}' AS event_type
        FROM read_csv({files}, header=false, columns={{{cols}}}))
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket, event_type,
        arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
        arg_max(value, ts) AS close, sum(value) AS volume, count(*) AS n_trades
      FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""").fetchall()


def read_bars(parquet_dir):
    files = glob.glob(os.path.join(parquet_dir, "**", "*.parquet"), recursive=True)
    if not files:
        return []
    lst = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    return duckdb.connect().execute(f"""
      SELECT bucket, event_type, open, high, low, close, volume, n_trades
      FROM read_parquet({lst}, union_by_name=true)
      ORDER BY bucket, event_type""").fetchall()


def _exact_md5(rows):
    h = hashlib.md5()
    for r in rows:
        h.update(("|".join([str(r[0]), r[1]] + ["%.17g" % v for v in r[2:6]] +
                           [str(r[7])]) + "\n").encode())
    return h.hexdigest()


def same_bars(got, want):
    """(ok, detail) for two bar lists, as the kline value oracle decides."""
    if len(got) != len(want):
        return False, f"{len(got)} bars, oracle has {len(want)}"
    if _exact_md5(got) != _exact_md5(want):
        return False, "exact columns differ from the oracle"
    for a, b in zip(got, want):
        if abs(a[6] - b[6]) > 1e-9 * max(abs(a[6]), abs(b[6]), 1.0):
            return False, f"volume differs at bucket {a[0]}"
    return True, f"{len(got)} bars match"


def sf_connection(sf_dir):
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def same_frame(got, want):
    """(ok, detail) for a query output against its oracle result."""
    scols, dcols = sorted(got.columns), sorted(want.columns)
    if scols != dcols:
        return False, f"columns {scols} vs oracle {dcols}"
    if len(got) != len(want):
        return False, f"{len(got)} rows, oracle has {len(want)}"
    keys = ([c for c in scols if got[c].dtype.kind not in "fc"] +
            [c for c in scols if got[c].dtype.kind in "fc"])
    a = got[scols].sort_values(keys).reset_index(drop=True)
    b = want[scols].sort_values(keys).reset_index(drop=True)
    for c in scols:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av, bv = av.astype(float), bv.astype(float)
            ok = (np.allclose(av, bv, rtol=1e-6, atol=1e-9, equal_nan=True)
                  and (av.isna() == bv.isna()).all())
        elif av.dtype.kind == "M" or bv.dtype.kind == "M":
            ok = av.astype("datetime64[ns]").equals(bv.astype("datetime64[ns]"))
        elif av.dtype == object:
            ok = av.astype(str).equals(bv.astype(str))
        else:
            try:
                ok = (av.astype("int64") == bv.astype("int64")).all()
            except (ValueError, TypeError):
                ok = av.equals(bv)
        if not ok:
            return False, f"column {c} differs"
    return True, f"{len(got)} rows match"


def read_output(path):
    return pd.read_parquet(path)


def oracle_frame(con, cache_dir, name, sql):
    """The oracle's result for one query, cached per seed and SQL text."""
    key = hashlib.md5(sql.encode()).hexdigest()[:12]
    path = os.path.join(cache_dir, f"{name}-{key}.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    df = con.execute(sql).fetchdf()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_parquet(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df
