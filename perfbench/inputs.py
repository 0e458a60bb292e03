"""Seeded input generators for the graft benchmark.

Every function here is a pure function of its seed and sizes: the same seed
writes the same files. The engine only ever sees what these functions write.

* ``corpus``   — the TPC-H-shaped tables the registered queries read
  (lineitem, orders, part, documents, embeddings), with the column names and
  physical types of the engine's test corpus.
* ``etl_payloads`` — Alpha-Vantage-shaped daily-series envelopes with seeded
  dirt, plus the counts a correct ``Pipeline.runEtl`` must report.
* ``stream_days`` — one parquet file of bars per trading day, for the
  streaming feature job.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_ROWS = {"orders": 1500, "part": 200, "documents": 500, "embeddings": 500}
WORDS = ("the a data table row column key value part line order customer join "
         "scan sort hash merge filter group agg window batch stream query spark "
         "fast slow big small vector").split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.13), ("fr", 0.13))


def _days(start, offsets):
    return (np.datetime64(start, "D") + offsets).astype("datetime64[us]")


def corpus(out_dir, seed):
    """Write the query corpus (about the engine's sf0.001 shape) to out_dir."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_orders, n_parts = CORPUS_ROWS["orders"], CORPUS_ROWS["part"]

    # lineitem: 1-7 lines per order, so (l_orderkey, l_linenumber) is unique
    # and the queries' rid = orderkey * 10 + linenumber tiebreak is total.
    lines = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(orderkey)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    pq.write_table(pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 10, n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(36.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2500, n)),
    }), f"{out_dir}/lineitem.parquet")

    pq.write_table(pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, 150, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1300.0, 500000.0, n_orders), 2),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2400, n_orders)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    }), f"{out_dir}/orders.parquet")

    adjectives = ["cold", "small", "large", "blue", "red", "green", "hot", "tiny"]
    nouns = ["widget", "bolt", "rod", "gear", "valve", "spring", "panel", "clip"]
    pq.write_table(pa.table({
        "p_partkey": np.arange(n_parts, dtype=np.int64),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_parts)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_parts)],
        "p_type": rng.choice(["ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE"], n_parts),
        "p_size": rng.integers(1, 51, n_parts).astype(np.int32),
        "p_retailprice": np.round(900.0 + 0.1 * np.arange(n_parts), 2),
    }), f"{out_dir}/part.parquet")

    n_docs = CORPUS_ROWS["documents"]
    texts = [" ".join(rng.choice(WORDS, rng.integers(8, 80))) for _ in range(n_docs)]
    langs, weights = zip(*LANGS)
    pq.write_table(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(langs, n_docs, p=weights),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet")

    # embeddings: unit vectors scattered around one centre per label
    n_vec, dim = CORPUS_ROWS["embeddings"], 64
    centres = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n_vec)
    vec = centres[label] + rng.normal(scale=1.5, size=(n_vec, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }), f"{out_dir}/embeddings.parquet")


def permuted(names, seed):
    """The names in an order drawn from the seed."""
    order = list(names)
    np.random.default_rng([seed, 0]).shuffle(order)
    return order


def _trading_days(n):
    days, d = [], dt.date(2020, 1, 1)
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def _walk(rng, n_sym, n_days):
    """Per-symbol daily closes: a bounded random walk that stays well inside
    the expectation suite's 0-10000 price bounds and +-50 % daily moves."""
    base = rng.uniform(20.0, 500.0, (n_sym, 1))
    steps = np.clip(rng.normal(0.0, 0.015, (n_sym, n_days)), -0.06, 0.06)
    return base * np.exp(np.cumsum(steps, axis=1))


def _bars(rng, close):
    opn = close * (1.0 + rng.normal(0.0, 0.005, close.shape))
    high = np.maximum(opn, close) * (1.0 + rng.uniform(0.001, 0.01, close.shape))
    low = np.minimum(opn, close) * (1.0 - rng.uniform(0.001, 0.01, close.shape))
    vol = rng.integers(100_000, 10_000_000, close.shape)
    # the engine parses the 4-decimal strings, so predictions use them too
    r = lambda a: np.round(a, 4)
    return r(opn), r(high), r(low), r(close), vol


def etl_payloads(path, seed, n_sym, n_days):
    """Write ``path`` (parquet: payload string, fetch_seq long) and return the
    expected ``runEtl`` outcome.

    Dirt, each on about 1 % of first-fetch bars and never on the same key
    twice: a null open (F1), high < low (F2), a negative low (F3). About 2 %
    of (symbol, date) bars are fetched a second time in a later envelope
    with a slightly different price; the later fetch must win (F4)."""
    rng = np.random.default_rng([seed, 2])
    days = [d.isoformat() for d in _trading_days(n_days)]
    close = _walk(rng, n_sym, n_days)
    opn, high, low, close, vol = _bars(rng, close)
    kind = rng.choice(5, size=(n_sym, n_days), p=[0.95, 0.01, 0.01, 0.01, 0.02])
    refetch = kind == 4
    re_close = np.round(close * 1.002, 4)
    re_high = np.round(np.maximum(high, re_close) * 1.001, 4)

    def fmt(v):
        return f"{v:.4f}"

    payloads, seqs = [], []
    for s in range(n_sym):
        sym = f"SYM{s:04d}"
        series = {}
        for d in range(n_days):
            bar = {"1. open": fmt(opn[s, d]), "2. high": fmt(high[s, d]),
                   "3. low": fmt(low[s, d]), "4. close": fmt(close[s, d]),
                   "5. volume": str(int(vol[s, d]))}
            k = kind[s, d]
            if k == 1:
                bar["1. open"] = "None"
            elif k == 2:
                bar["2. high"], bar["3. low"] = bar["3. low"], bar["2. high"]
            elif k == 3:
                bar["3. low"] = fmt(-low[s, d])
            series[days[d]] = bar
        payloads.append(_envelope(sym, days[-1], series))
        seqs.append(s)
    for s in range(n_sym):
        idx = np.nonzero(refetch[s])[0]
        if len(idx) == 0:
            continue
        series = {days[d]: {"1. open": fmt(opn[s, d]), "2. high": fmt(re_high[s, d]),
                            "3. low": fmt(low[s, d]), "4. close": fmt(re_close[s, d]),
                            "5. volume": str(int(vol[s, d]))} for d in idx}
        payloads.append(_envelope(f"SYM{s:04d}", days[-1], series))
        seqs.append(n_sym + s)
    pq.write_table(pa.table({"payload": payloads,
                             "fetch_seq": np.array(seqs, dtype=np.int64)}), path)

    kept = np.isin(kind, (0, 4))
    winner = np.where(refetch, re_close, close)
    return {
        "loaded": int(kept.sum()),
        "bars_in": int(n_sym * n_days + refetch.sum()),
        "pass_rate": 1.0,
        "unique_symbols": n_sym,
        "earliest_date": days[0],
        "latest_date": days[-1],
        "avg_close": float(winner[kept].mean()),
    }


def _envelope(sym, last, series):
    return json.dumps({
        "Meta Data": {"1. Information": "Daily Prices", "2. Symbol": sym,
                      "3. Last Refreshed": last, "4. Output Size": "Full size",
                      "5. Time Zone": "US/Eastern"},
        "Time Series (Daily)": series,
    })


def stream_days(out_dir, seed, n_sym, n_days):
    """Write one bar file per trading day (symbol, date, close) to out_dir,
    named day-<yyyy-mm-dd>.parquet so that names sort by date."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    close = np.round(_walk(rng, n_sym, n_days), 4)
    symbols = [f"SYM{s:04d}" for s in range(n_sym)]
    for d, day in enumerate(_trading_days(n_days)):
        pq.write_table(pa.table({
            "symbol": symbols,
            "date": pa.array([day] * n_sym, type=pa.date32()),
            "close": close[:, d],
        }), f"{out_dir}/day-{day.isoformat()}.parquet")
