"""Seeded input generators for the benchmark.

Everything the engine reads is made here from the ``--seed`` argument:

* ``write_tables`` -- the TPC-H-like tables plus the LLM-data tables
  (``events``, ``documents``, ``embeddings``) that the declared queries
  read, with the schemas and value domains of the project's fixture
  data (FIXTURES.md), one parquet file per table;
* ``market`` -- the reference's three tickers with daily OHLCV history
  since 2000 and an annual econ series;
* ``interactions`` -- the open-loop dashboard interaction schedule;
* ``query_orders`` -- the per-pass query order of the sweeps.

The same seed always gives the same inputs (``tests/test_stats.py``).
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

TICKERS = ["^GSPC", "^DJI", "^NDX"]
TICKER_START = {"^GSPC": 1469.25, "^DJI": 11357.51, "^NDX": 3790.55}
HISTORY_START = dt.date(2000, 1, 3)
# First simulated trading day; the history covers every business day
# before it (about 6 500 days x 3 tickers, the reference's volume).
LIVE_START = dt.date(2025, 1, 6)
LIVE_DAYS = 400


def _cents(rng, lo, hi, n):
    """Doubles with at most two decimals, as the fixture data carries."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _dates(rng, lo, hi, n):
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def tables(seed, sf):
    """The declared queries' input tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(20_000 * sf))
    n_ord = max(150, int(150_000 * sf))
    n_li = max(600, int(600_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_dates(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_dates(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
                               pa.timestamp("us"))})
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        # about one document in twenty is an earlier one plus a marker
        # word: the near-duplicates the dedup queries look for
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vec = rng.standard_normal((n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    return out


def write_tables(seed, sf, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def business_days(start, n):
    """The first ``n`` weekdays on or after ``start``."""
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def market(seed):
    """Daily OHLCV rows ``(date, ticker, open, high, low, close, volume)``
    for every business day from 2000 through ``LIVE_DAYS`` simulated
    days, and annual econ rows ``(date, gdp_growth, inflation)``."""
    rng = np.random.default_rng([seed, 2])
    n_hist = np.busday_count(HISTORY_START, LIVE_START)
    days = business_days(HISTORY_START, int(n_hist) + LIVE_DAYS)
    rows = []
    for t in TICKERS:
        ret = rng.normal(0.0003, 0.012, len(days))
        close = np.round(TICKER_START[t] * np.exp(np.cumsum(ret)), 2)
        gap = rng.normal(0.0, 0.003, len(days))
        wick = np.abs(rng.normal(0.0, 0.004, (2, len(days))))
        vol = rng.integers(1_000_000, 5_000_000_000, len(days))
        prev = np.concatenate([[TICKER_START[t]], close[:-1]])
        opn = np.round(prev * (1 + gap), 2)
        high = np.round(np.maximum(opn, close) * (1 + wick[0]), 2)
        low = np.round(np.minimum(opn, close) * (1 - wick[1]), 2)
        for i, d in enumerate(days):
            rows.append((d.isoformat(), t, float(opn[i]), float(high[i]),
                         float(low[i]), float(close[i]), int(vol[i])))
    rows.sort()
    econ = [(dt.date(y, 1, 1).isoformat(),
             float(np.round(rng.normal(2.2, 1.5), 2)),
             float(np.round(rng.normal(2.5, 1.0), 2)))
            for y in range(HISTORY_START.year, LIVE_START.year + 2)]
    return rows, econ


# Dashboard traffic follows the reference's call sequence. Streamlit
# reruns the whole page script on every widget interaction (SURVEY.md
# §E3). On the Charts page each rerun reads the index list
# (streamlit/app.py:97-99, `/indexes`), then the date bounds (:101-102,
# `/bounds`), then draws the filtered slice (:105-131, `/chart`). The
# Datasets page (:50-78) shows the stored tables; its sorted read (:90)
# is `/latest` (MIGRATION.md). The weights below have no source in the
# reference or the repo and are assumptions (README.md):
CHARTS_PER_4 = 3                # of every four interactions, those on the
                                # Charts page (the other is a Datasets view)
SERIES_P = 0.5                  # share of chart draws that fetch the data
                                # (`/series`) instead of the figure
TICKER_P = [0.6, 0.3, 0.1]      # ticker skew
WIDTH_DAYS = [31, 92, 365, 1826]
WIDTH_P = [0.4, 0.3, 0.2, 0.1]  # date-range widths, one month to five years
RECENCY_DAYS = 60.0             # mean distance of a range's end from the newest day
LATEST_K = (5, 60)              # rows a Datasets view shows


def interactions(seed, rate, seconds, last_day):
    """Open-loop dashboard interactions: ``(due_ms, [path, ...])`` at a
    fixed ``rate`` per second for ``seconds``; each interaction's paths
    are the requests it issues, in order. Ranges end near ``last_day``
    (the newest history date)."""
    rng = np.random.default_rng([seed, 3])
    n = int(rate * seconds)
    # every run of four interactions holds the same page mix, so runs of
    # any length carry it
    charts = np.concatenate([rng.permutation(4) < CHARTS_PER_4 for _ in range(n // 4 + 1)])
    out = []
    for i in range(n):
        tk = TICKERS[rng.choice(3, p=TICKER_P)].replace("^", "%5E")
        if charts[i]:
            width = WIDTH_DAYS[rng.choice(4, p=WIDTH_P)]
            end = last_day - dt.timedelta(days=int(rng.exponential(RECENCY_DAYS)))
            start = end - dt.timedelta(days=width)
            draw = "series" if rng.random() < SERIES_P else "chart"
            paths = ["/indexes", "/bounds", f"/{draw}?index={tk}&start={start}&end={end}"]
        else:
            paths = [f"/latest?index={tk}&k={int(rng.integers(*LATEST_K))}"]
        out.append((round(i * 1000.0 / rate, 3), paths))
    return out


def query_orders(seed, names, passes):
    """One seeded permutation of ``names`` per pass."""
    rng = np.random.default_rng([seed, 4])
    names = sorted(names)
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(passes)]


def write_json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f)
