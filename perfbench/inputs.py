"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and writes plain parquet
with pyarrow, so the program under test only ever sees files on disk:

- ``write_market``: the reference's VaR market at its production
  dimensions (27 tickers, 5 factors, business days 2018-05-01 to
  2020-05-01), stock closes linear in the factor returns plus noise so
  the per-ticker OLS has signal to recover;
- ``write_tables``: the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` with the column names, types and
  value ranges of the engine's query fixtures (FIXTURES.md §A), so the
  query registry and its DuckDB oracles run on them unchanged;
- ``write_dml_inputs``: ``orders`` replicated with shifted keys and a
  MERGE source, the inputs of the Delta DML workload.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FACTORS = ("SP500", "NYSE", "OIL", "TREASURY", "DOWJONES")
N_TICKERS = 27
MARKET_START = "2018-05-01"
MARKET_END = "2020-05-01"
MODEL_CUT = "2019-09-01"
SIM_START = "2019-09-01"
SIM_END = "2020-05-01"
TICKER_WEIGHT = 1 / 29  # reference portfolio.json: weights do not sum to 1


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def business_days(start: str, end: str) -> list[dt.datetime]:
    d = dt.date.fromisoformat(start)
    stop = dt.date.fromisoformat(end)
    out = []
    while d <= stop:
        if d.weekday() < 5:
            out.append(dt.datetime(d.year, d.month, d.day))
        d += dt.timedelta(days=1)
    return out


def tickers() -> list[str]:
    return [f"T{i:02d}" for i in range(N_TICKERS)]


def write_market(out_dir: str, seed: int) -> dict[str, str]:
    """stocks (ticker, date, close), indicators (date + one close column
    per factor) and portfolio (ticker, weight) as parquet under
    ``out_dir``; returns {table: path}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    dates = business_days(MARKET_START, MARKET_END)
    n, k = len(dates), len(FACTORS)
    cov = 0.0001 * (np.eye(k) + 0.3)
    factor_rets = rng.multivariate_normal(np.zeros(k), cov, size=n)
    factor_px = 100 * np.exp(np.cumsum(factor_rets, axis=0))
    ts = pa.array(dates, pa.timestamp("us"))
    indicators = pa.table(
        {**{f: factor_px[:, j] for j, f in enumerate(FACTORS)}, "date": ts}
    )
    names = tickers()
    betas = rng.normal(0.0, 0.8, size=(len(names), k))
    stock_rets = factor_rets @ betas.T + rng.normal(0, 0.002, (n, len(names)))
    stock_px = 50 * np.exp(np.cumsum(stock_rets, axis=0))
    stocks = pa.table(
        {
            "ticker": np.repeat(names, n),
            "date": pa.array(dates * len(names), pa.timestamp("us")),
            "close": stock_px.T.reshape(-1),
        }
    )
    portfolio = pa.table(
        {"ticker": names, "weight": [TICKER_WEIGHT] * len(names)}
    )
    paths = {}
    for name, tbl in (
        ("stocks", stocks), ("indicators", indicators), ("portfolio", portfolio)
    ):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(tbl, paths[name])
    return paths


_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en"] * 5 + ["de", "es", "fr", "zh"]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - a).astype(int)
    return (a + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """The ten registry tables at scale factor ``sf`` (sf 0.01 gives
    60,000 lineitem rows; documents and embeddings keep at least the
    fixture's 500 rows); returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(10, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(50_000 * sf))
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": _REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
    }
    retail = np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": retail,
        }
    )
    tables["orders"] = orders_table(rng, n_ord, n_cust)
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": l_part,
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(
                qty * retail[l_part] * rng.uniform(0.5, 1.5, n_line), 2
            ),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": pa.array(
                _days(rng, "1995-01-02", "2001-11-04", n_line),
                pa.timestamp("us"),
            ),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": pa.array(
                t0 + np.sort(rng.integers(0, span_us, n_evt)).astype(
                    "timedelta64[us]"
                ),
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, n_users, n_evt),
            "event_type": rng.choice(_EVENT_TYPES, n_evt),
            "value": _money(rng, 0.01, 490.0, n_evt),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    emb = rng.normal(0, 1, (n_emb, 64))
    labels = rng.integers(0, 10, n_emb)
    emb += rng.normal(0, 1, (10, 64))[labels]  # label clusters
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(
                list(emb.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": labels.astype(np.int32),
        }
    )
    for name, tbl in tables.items():
        _write(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def orders_table(rng, n: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": pa.array(
                _days(rng, "1995-01-01", "2001-08-01", n), pa.timestamp("us")
            ),
            "o_orderpriority": rng.choice(_PRIORITIES, n),
        }
    )


def _documents(rng, n: int) -> pa.Table:
    """Random-word documents; one in twenty is a near-duplicate of an
    earlier one (a few words replaced, ``dup`` appended), so the dedup
    and LSH queries have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = str(rng.choice(_WORDS))
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(
                " ".join(rng.choice(_WORDS, int(rng.integers(25, 100))))
            )
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n),
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_dml_inputs(
    out_dir: str, seed: int, sf: float, copies: int, source_share: float
) -> dict[str, str]:
    """``orders`` at ``sf`` replicated ``copies`` times (replica r shifts
    every key by r * the base row count), and a MERGE source of
    ``source_share`` of that many rows: half of it updates existing keys
    drawn from the whole key range, half inserts new keys past the end.
    Returns {"orders": path, "source": path}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = int(1_500_000 * sf)
    base = orders_table(rng, n, int(150_000 * sf)).select(
        ["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    keys = base.column("o_orderkey").to_numpy()
    orders = pa.concat_tables(
        base.set_column(0, "o_orderkey", pa.array(keys + r * n))
        for r in range(copies)
    )
    total = n * copies
    half = int(total * source_share / 2)
    src_keys = np.concatenate(
        [
            np.sort(rng.choice(total, half, replace=False)),
            np.arange(total, total + half),
        ]
    ).astype(np.int64)
    source = pa.table(
        {
            "o_orderkey": src_keys,
            "o_orderstatus": rng.choice(["F", "O", "P"], 2 * half),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, 2 * half),
        }
    )
    paths = {
        "orders": os.path.join(out_dir, "orders.parquet"),
        "source": os.path.join(out_dir, "merge_source.parquet"),
    }
    _write(orders, paths["orders"])
    _write(source, paths["source"])
    return paths
