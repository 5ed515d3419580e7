"""Seeded input generators. Every value the engine sees is a function of the
run seed (and, per tick or per corpus, of an index), so two runs with the
same seed feed the engine byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The ten tickers of the engine's indices dimension. The market source's own
# default list carries three tickers the dimension lacks, which would turn
# the FK-enriched columns into NULLs; the benchmark never uses it.
from global_market_index_etl_spark.schemas import INDICES_SEED

TICKERS = [t for t, *_ in INDICES_SEED]
CURRENCIES = sorted({c for *_, c in INDICES_SEED if c != "USD"})

HISTORY_START = dt.datetime(2024, 1, 1)
HOURS_PER_TICK = 24  # windows of 48 hourly bars advance by 24: half overlap
BARS_PER_TICK = 48


def rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def batch_ts(seed: int, tick: int) -> dt.datetime:
    """The explicit, seed-derived batch timestamp of a tick (tick -1 is the
    bulk history). Strictly increasing in ``tick``, so last write wins."""
    base = dt.datetime(2025, 1, 1) + dt.timedelta(minutes=seed % 100_000)
    return base + dt.timedelta(hours=tick + 1)


def tick_window_start(history_days: int, tick: int) -> dt.datetime:
    """Tick k reads 48 bars from here; tick 0 overlaps the history's last
    day and every later tick overlaps its predecessor by half."""
    end = HISTORY_START + dt.timedelta(days=history_days)
    return end - dt.timedelta(hours=HOURS_PER_TICK) + dt.timedelta(
        hours=HOURS_PER_TICK * tick
    )


def tick_source_seed(seed: int, tick: int) -> int:
    return (seed * 1_000_003 + 7919 * (tick + 1)) % (1 << 31)


def write_bars(path: str, seed: int, stream: int, start: dt.datetime, hours: int) -> int:
    """Raw hourly bars (the standardizer's input encoding) for every ticker,
    ``hours`` bars from ``start``, as one parquet file. Returns the row
    count."""
    r = rng(seed, 1, stream)
    ts = np.array(
        [start + dt.timedelta(hours=h) for h in range(hours)],
        dtype="datetime64[us]",
    )
    cols: dict[str, list] = {k: [] for k in (
        "timestamp", "ticker", "Open", "High", "Low", "Close", "Adj Close",
        "Volume")}
    for t in TICKERS:
        base = 100.0 * (1.0 + r.random() * 50.0)
        close = base * np.cumprod(1.0 + (r.random(hours) - 0.5) * 0.02)
        open_ = np.concatenate([[base], close[:-1]])
        hi = np.maximum(open_, close) * (1.0 + r.random(hours) * 0.005)
        lo = np.minimum(open_, close) * (1.0 - r.random(hours) * 0.005)
        cols["timestamp"].append(ts)
        cols["ticker"].append(np.full(hours, t, dtype=object))
        cols["Open"].append(open_)
        cols["High"].append(hi)
        cols["Low"].append(lo)
        cols["Close"].append(close)
        cols["Adj Close"].append(close)
        cols["Volume"].append(np.floor(r.random(hours) * 1e6))
    table = pa.table({k: np.concatenate(v) for k, v in cols.items()})
    pq.write_table(table, path)
    return table.num_rows


def fx_rows(seed: int, days: int) -> list[tuple]:
    """Daily X→USD rates covering the history and every tick window."""
    r = rng(seed, 2)
    start = HISTORY_START.date()
    level = {"CNY": 0.14, "EUR": 1.09, "GBP": 1.27, "INR": 0.012, "JPY": 0.0068}
    rows = []
    for c in CURRENCIES:
        walk = level[c] * np.cumprod(1.0 + (r.random(days) - 0.5) * 0.01)
        for d in range(days):
            rows.append((c, "USD", start + dt.timedelta(days=d), float(walk[d])))
    return rows


# --------------------------------------------------------------- analytics
# The TPC-H-shaped star the registry's report rows read. Column names and
# types follow the repository's fixture tables; sizes are the benchmark's own.

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def write_star_tables(out_dir: str, seed: int, n_orders: int) -> dict[str, int]:
    r = rng(seed, 4)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, n_orders // 10)
    n_li = n_orders * 4
    day0 = np.datetime64("2023-01-01T00:00:00", "us")
    us_per_day = 86_400_000_000
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i:02d}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(r.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": r.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], n_cust),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(1, n_orders + 1), pa.int64()),
            "o_custkey": pa.array(r.integers(1, n_cust + 1, n_orders), pa.int64()),
            "o_orderstatus": r.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(r.uniform(1000, 400_000, n_orders), 2),
            "o_orderdate": day0 + r.integers(0, 700, n_orders) * us_per_day,
            "o_orderpriority": r.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_orders),
        }),
    }
    qty = r.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(1, n_orders + 1, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(1, 20_001, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(1, 1_001, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": day0 + r.integers(0, 730, n_li) * us_per_day,
    })
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


# ------------------------------------------------------------------ corpora
# Documents in the fixture corpus's style (short lower-case word soup) with
# planted exact duplicates, near-duplicates and shared spans, so every
# curation stage has work: the classifier drops some, span removal cleans
# some, near-dup clustering merges some.

VOCAB = (
    "a the of and to in is for on with as by at from data table query row "
    "column index key value join group order sort hash merge scan filter "
    "window stream batch spark part line small big fast slow customer "
    "market price close open volume ticker currency rate daily hourly "
    "report model token span shard split train test valid score quality "
    "corpus document word text clean noise filter sample"
).split()
LANGS = ["en", "en", "en", "de", "fr", "zh", "es"]


def corpus_table(seed: int, index: int, n_docs: int) -> pa.Table:
    """Corpus ``index`` of a run: ``n_docs`` documents with ids that no other
    corpus of the run shares."""
    r = rng(seed, 5, index)
    vocab = np.array(VOCAB, dtype=object)
    spans = [" ".join(r.choice(vocab, 14)) for _ in range(max(4, n_docs // 40))]
    texts: list[str] = []
    for i in range(n_docs):
        u = r.random()
        if i > 10 and u < 0.06:  # exact duplicate
            texts.append(texts[int(r.integers(0, i))])
            continue
        if i > 10 and u < 0.14:  # near duplicate: a few words swapped
            words = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(words), max(1, len(words) // 25)):
                words[int(j)] = str(r.choice(vocab))
            texts.append(" ".join(words))
            continue
        words = list(r.choice(vocab, int(r.integers(12, 90))))
        if u < 0.30:  # shares a boilerplate span with other documents
            at = int(r.integers(0, len(words)))
            words[at:at] = spans[int(r.integers(0, len(spans)))].split()
        texts.append(" ".join(words))
    ids = np.arange(n_docs, dtype=np.int64) + index * 10_000_000
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": r.choice(LANGS, n_docs),
        "source": [f"src{int(x)}" for x in r.integers(0, 8, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_corpus(out_dir: str, seed: int, index: int, n_docs: int) -> str:
    """Write corpus ``index`` as ``<out_dir>/documents.parquet``, the layout
    the registry's curation rows read. Returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(corpus_table(seed, index, n_docs), f"{out_dir}/documents.parquet")
    return out_dir
