"""Seeded registry tables for the ``engine`` workload.

Writes ``documents``, ``orders``, ``lineitem`` and ``events`` parquet
files (one file and one row group each, like the TPC-H-style test data
described in TESTDATA.md) with that data's schemas and distributions:

- documents: 10-100 words drawn uniformly from a 30-word vocabulary,
  5% near-duplicates (an earlier document plus one extra token) and a
  few exact copies — the structure the pair engine's 3-gram Jaccard
  join and cluster queries find;
- orders / lineitem: uniform customer, part and supplier keys, line
  quantities 1-50 (the co-purchase graph keeps lines above 40);
- events: five event types spread uniformly over 30 days of
  microsecond timestamps, ids in time order.

``scale`` matches the test data's sf for orders, lineitem and events:
1.0 would be 1.5M orders, 6M lines and 1M events.  Documents are three
times the test data's (150k at 1.0), since the pair join's work grows
with the square of the corpus while its per-job cost stays fixed: warm
q99 on 3 threads spent 2.6-2.8 s of executor CPU against 1.2-1.5 s of
driver-only time with 1,000 documents, and 4.5-5.3 s against 1.1-2.0 s
with 1,500.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
NEAR_DUP_RATE = 0.05
EXACT_DUP_RATE = 0.002
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=table.num_rows or 1)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 0 and u < NEAR_DUP_RATE:
            texts.append(texts[int(rng.integers(i))] + " dup")
        elif i > 0 and u < NEAR_DUP_RATE + EXACT_DUP_RATE:
            texts.append(texts[int(rng.integers(i))])
        else:
            words = rng.integers(len(VOCAB), size=int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": texts,
            "lang": [LANGS[k] for k in rng.choice(len(LANGS), size=n, p=LANG_P)],
            "source": [f"src{k}" for k in rng.permutation(n) % 20],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _dates(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    day = rng.integers(days, size=n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + day, pa.timestamp("us"))


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(n_cust, size=n, dtype=np.int64)),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), size=n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, size=n), 2),
            "o_orderdate": _dates(rng, n, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), size=n
            ),
        }
    )


def _lineitem(rng: np.random.Generator, n: int, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(n_orders, size=n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(n_part, size=n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(n_supp, size=n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n, dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, size=n), 2),
            "l_discount": rng.integers(0, 11, size=n) / 100.0,
            "l_tax": rng.integers(0, 9, size=n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), size=n),
            "l_linestatus": rng.choice(np.array(["O", "F"]), size=n),
            "l_shipdate": _dates(rng, n, "1995-01-02", 2498),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(T0_US, T0_US + 30 * DAY_US, size=n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(n_users, size=n, dtype=np.int64)),
            "event_type": rng.choice(np.array(EVENT_TYPES), size=n),
            "value": np.round(rng.uniform(0.0, 560.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(100, size=n)],
        }
    )


def generate(out_dir: str | Path, seed: int, scale: float) -> dict[str, int]:
    """Write the four tables under ``out_dir``; return their row counts."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = max(10, int(1_500_000 * scale))
    tables = {
        "documents": _documents(rng, max(10, int(150_000 * scale))),
        "orders": _orders(rng, n_orders, max(10, int(150_000 * scale))),
        "lineitem": _lineitem(
            rng,
            max(10, int(6_000_000 * scale)),
            n_orders,
            max(10, int(200_000 * scale)),
            max(10, int(10_000 * scale)),
        ),
        "events": _events(rng, max(10, int(1_000_000 * scale)), max(10, int(15_000 * scale))),
    }
    for name, table in tables.items():
        _write(table, out / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
