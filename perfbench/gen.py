"""Seeded inputs for the benchmark workloads.

Every table is a same-shape variant of the sf0.1 star schema the engine is
benchmarked on (same tables, row counts, column types and value ranges),
drawn from a numpy generator seeded by the workload seed. The klines are
gapless 1 s Binance-shaped rows, priced by a hash of (second, seed) in the
manner of the engine's kline scale run, and written as header-less monthly
CSV plus one parquet slice per month (the streaming landing zone).

Nothing here imports the engine: the program only ever sees the files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Kline window: 2 gapless days across one month seam, so the ETL's
# month-partitioned silver zone and the 3600:1 bar ratio are exercised on
# two monthly CSV files, and the stream replays two monthly slices.
KLINE_START = dt.datetime(2025, 8, 31, tzinfo=dt.timezone.utc)
KLINE_DAYS = 2
KLINE_SYMBOL = "BTCUSDT-1s"
M64 = (1 << 64) - 1


def kline_months():
    """[(yyyy-MM, first_sec, n_secs)] for the kline window, in order."""
    start = int(KLINE_START.timestamp())
    end = start + KLINE_DAYS * 86400
    out, t = [], start
    while t < end:
        d = dt.datetime.fromtimestamp(t, dt.timezone.utc)
        nxt = dt.datetime(d.year + (d.month == 12), d.month % 12 + 1, 1,
                          tzinfo=dt.timezone.utc)
        stop = min(end, int(nxt.timestamp()))
        out.append((f"{d.year:04d}-{d.month:02d}", t, stop - t))
        t = stop
    return out


def kline_rows():
    return KLINE_DAYS * 86400


def _mix(x):
    """splitmix64 finaliser over uint64 arrays (wrapping arithmetic)."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _h(sec, seed, salt):
    with np.errstate(over="ignore"):
        k = (np.uint64((seed * 0x9E3779B97F4A7C15 + salt * 0xD1B54A32D192ED03) & M64)
             + sec.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15))
        return _mix(k)


def kline_table(first_sec, n, seed):
    sec = np.arange(first_sec, first_sec + n, dtype=np.int64)

    def px(s):
        return 50000.0 + ((_h(s, seed, 1) % np.uint64(20001)).astype(np.int64)
                          - 10000) / 100.0

    def frac(salt, mod, scale):
        return (_h(sec, seed, salt) % np.uint64(mod)).astype(np.int64) * scale

    o, c = px(sec), px(sec + 1)
    return pa.table({
        "open_time": sec * 1000,
        "open": o,
        "high": np.maximum(o, c) + frac(2, 500, 0.01),
        "low": np.minimum(o, c) - frac(3, 500, 0.01),
        "close": c,
        "volume": frac(4, 10000, 0.01),
        "close_time": sec * 1000 + 999,
        "quote_volume": frac(5, 10000, 500.0),
        "n_trades": (_h(sec, seed, 6) % np.uint64(200)).astype(np.int64),
        "taker_base": frac(7, 10000, 0.005),
        "taker_quote": frac(8, 10000, 250.0),
        "ignore_col": pa.array(np.zeros(n, dtype=np.int64)).cast(pa.string()),
    })


def write_klines(out, seed):
    """landing/<yyyy-MM>/part-0.csv (header-less) and stream/<yyyy-MM>.parquet:
    the same rows as monthly CSV drops and as monthly streaming slices."""
    sd = os.path.join(out, "stream")
    os.makedirs(sd, exist_ok=True)
    for ym, first, n in kline_months():
        t = kline_table(first, n, seed)
        d = os.path.join(out, "landing", ym)
        os.makedirs(d, exist_ok=True)
        pacsv.write_csv(t, os.path.join(d, "part-0.csv"),
                        pacsv.WriteOptions(include_header=False))
        pq.write_table(pa.table({
            "ts": pa.array(t.column("open_time").to_numpy() * 1000,
                           pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "value": t.column("close"),
            "event_type": pa.array([KLINE_SYMBOL] * n, pa.string()),
        }), os.path.join(sd, f"{ym}.parquet"))


# ---------------------------------------------------------------- sf tables

def _ts_days(rng, n, lo, hi):
    """Random midnight timestamps (us) between two dates, inclusive."""
    lo_d = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - lo_d).astype(np.int64)
    days = lo_d + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def sf_tables(seed):
    """The sf0.1-shaped star schema plus corpus tables, as pyarrow tables."""
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, np_, no, nl = 15000, 1000, 20000, 150000, 600000
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["HOUSEHOLD", "MACHINERY", "AUTOMOBILE",
                                    "FURNITURE", "BUILDING"], nc)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    colors = ["small", "new", "large", "hot", "cold", "blue", "old", "red"]
    things = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(colors, np_),
                                              rng.choice(things, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD",
                              "MEDIUM", "PROMO"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts_days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _ts_days(rng, nl, "1995-01-02", "2001-11-04")})
    ne = 100000
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 1_000_000
    ts = np.unique(t0 + rng.integers(0, span, ne + ne // 10))
    ts = np.sort(rng.choice(ts, ne, replace=False))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, ne).astype(np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view",
                                  "purchase"], ne),
        "value": np.minimum(np.round(rng.exponential(50.0, ne), 2), 560.21),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = 5000
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)])
             for n in rng.integers(10, 100, nd)]
    # 5% near-duplicates, the corpus' dedup workload: any document's text
    # plus a marker token. A few chain, and a few share a base, which makes
    # the exact duplicates.
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[rng.integers(0, nd)] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "es", "fr", "zh", "de"], nd,
                           p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})

    # unit vectors in random directions; the labels carry no cluster
    nv, dim = 2000, 64
    labels = rng.integers(0, 10, nv)
    v = rng.normal(0.0, 1.0, (nv, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_sf(out, seed):
    os.makedirs(out, exist_ok=True)
    for name, tbl in sf_tables(seed).items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
