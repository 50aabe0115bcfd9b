"""Seeded input generation for the benchmark workloads.

Everything the engine reads is made here from ``--seed`` with numpy and
written with pyarrow, so the same seed always gives byte-identical
inputs and the engine never generates its own data:

- ``write_star``: the TPC-H-shaped star tables the analytics queries and
  the daily ETL read (region, nation, customer, supplier, part, orders,
  lineitem), one single-row-group parquet file per table, value domains
  matching the schemas in ``etl_data_warehouse_spark/schemas.py``.
- ``write_order_day``: one day of streamed orders for the sales stream,
  with a share of late events for the previous day.
- ``write_corpus_day``: one day's document batch and its embeddings for
  the corpus day-2 ingest, with planted near-duplicates.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days * DAY_US


def _days(rng, n: int, lo: tuple, hi: tuple) -> pa.Array:
    a, b = _epoch_us(*lo) // DAY_US, _epoch_us(*hi) // DAY_US
    return pa.array(rng.integers(a, b + 1, n) * DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def star_row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "lineitem": max(40, int(6_000_000 * sf)),
    }


def write_star(
    out_dir: str, sf: float, seed: int, growth: float = 0.0
) -> dict[str, int]:
    """Write the seven star tables at scale ``sf``; returns row counts.
    ``growth > 0`` writes the next day's extract of the same seed."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = star_row_counts(sf)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    keys = np.arange(npart)
    tables["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _pick(rng, names, npart),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _pick(rng, P_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    no, nl = n["orders"], n["lineitem"]
    tables["orders"] = _orders(rng, 0, no, nc, (1995, 1, 1), (2001, 8, 1))
    tables["lineitem"] = _lineitems(rng, nl, 0, no, npart, ns, (1995, 1, 2))
    if growth:
        _grow(tables, np.random.default_rng([seed, 5]), growth, n)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {k: t.num_rows for k, t in tables.items()}


def _orders(rng, lo: int, k: int, n_cust: int, d0: tuple, d1: tuple) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(lo + np.arange(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, k), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": _money(rng, k, 1000.0, 500000.0),
        "o_orderdate": _days(rng, k, d0, d1),
        "o_orderpriority": _pick(rng, PRIORITIES, k),
    })


def _lineitems(
    rng, k: int, order_lo: int, n_orders: int, n_part: int, n_supp: int,
    ship0: tuple,
) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(order_lo + rng.integers(0, n_orders, k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, k, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.10, k), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, k), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _days(rng, k, ship0, (2001, 11, 4)),
    })


def _grow(tables: dict, rng, growth: float, n: dict) -> None:
    """The next day's extract: ``growth`` more orders (with their line
    items) and a status change on 1% of the standing orders."""
    orders, li = tables["orders"], tables["lineitem"]
    no = orders.num_rows
    k = max(1, int(no * growth))
    flip = rng.random(no) < 0.01
    status = np.where(flip, "F", orders["o_orderstatus"].to_numpy(zero_copy_only=False))
    orders = orders.set_column(2, "o_orderstatus", pa.array(status, pa.string()))
    new_orders = _orders(rng, no, k, n["customer"], (2001, 7, 1), (2001, 8, 1))
    new_li = _lineitems(rng, 4 * k, no, k, n["part"], n["supplier"], (2001, 7, 2))
    tables["orders"] = pa.concat_tables([orders, new_orders])
    tables["lineitem"] = pa.concat_tables([li, new_li])


# --- sales stream -----------------------------------------------------------

STREAM_DAY0 = (2024, 1, 1)


def order_day(
    seed: int, day: int, n: int, n_products: int, late_frac: float
) -> pa.Table:
    """Orders for stream day ``day`` (0-based): ``late_frac`` of them are
    late events stamped in the last hours of the previous day, still
    inside the stream's 1-day watermark. Matches the stream's schema
    (order_id, product_id, order_ts, amount, status)."""
    rng = np.random.default_rng([seed, 2, day])
    base = _epoch_us(*STREAM_DAY0) + day * DAY_US
    offs = rng.integers(0, DAY_US, n)
    late = rng.random(n) < (late_frac if day > 0 else 0.0)
    # late rows land in the final 6 hours of the previous day
    offs = np.where(late, -rng.integers(1, DAY_US // 4, n), offs)
    status = np.where(rng.random(n) < 0.05, "CANCELLED", "COMPLETED")
    return pa.table({
        "order_id": pa.array(day * 10_000_000 + np.arange(n), pa.int64()),
        "product_id": pa.array(rng.integers(0, n_products, n), pa.int64()),
        "order_ts": pa.array(base + offs, pa.timestamp("us")),
        "amount": _money(rng, n, 1.0, 500.0),
        "status": status,
    })


def write_order_day(table: pa.Table, in_dir: str, day: int, n_files: int) -> None:
    """Land one day as ``n_files`` parquet files (atomically renamed in,
    as a file source requires)."""
    os.makedirs(in_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        _write(part, os.path.join(in_dir, f"day{day:04d}-{i:02d}.parquet"))


# --- document corpus --------------------------------------------------------

CORPUS_WORDS = 40
CORPUS_VOCAB = 5000
CORPUS_DIM = 16
CORPUS_CLUSTERS = 64


def _doc_words(seed: int, doc: int) -> np.ndarray:
    return np.random.default_rng([seed, 3, doc]).integers(0, CORPUS_VOCAB, CORPUS_WORDS)


def _doc_vec(seed: int, doc: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 4, doc])
    centre = np.random.default_rng([seed, 6, doc % CORPUS_CLUSTERS]).normal(size=CORPUS_DIM)
    return centre + rng.normal(scale=0.6, size=CORPUS_DIM)


def corpus_day(seed: int, day: int, lo: int, n: int, dup_rate: float = 0.15
               ) -> tuple[pa.Table, pa.Table]:
    """Documents ``[lo, lo + n)`` for corpus day ``day`` and their
    embeddings, matching the day-2 ingest's inputs: docs (doc_id, text,
    lang, source, n_chars) and vectors (vec_id, embedding). A
    ``dup_rate`` share are near-duplicates of an earlier document (this
    day's or a previous day's: one word rewritten, embedding nudged),
    and one in 50 is an exact copy of an earlier text, so both dedup
    arms and the exact-fingerprint dedup have work on every day."""
    rng = np.random.default_rng([seed, 7, day])
    texts, vecs = [], []
    for doc in range(lo, lo + n):
        r = rng.random()
        if doc > 0 and r < dup_rate + 0.02:
            base = int(rng.integers(0, doc))
            words = _doc_words(seed, base)
            vec = _doc_vec(seed, base)
            if r < dup_rate:
                words = words.copy()
                words[int(rng.integers(0, CORPUS_WORDS))] = CORPUS_VOCAB + doc
                vec = vec + rng.normal(scale=1e-3, size=CORPUS_DIM)
        else:
            words, vec = _doc_words(seed, doc), _doc_vec(seed, doc)
        texts.append(" ".join(f"w{w}" for w in words))
        vecs.append((vec / np.linalg.norm(vec)).astype(np.float32))
    ids = pa.array(np.arange(lo, lo + n), pa.int64())
    docs = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"day{day}src{i % 8}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vectors = pa.table({
        "vec_id": ids,
        "embedding": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32())),
    })
    return docs, vectors


def write_corpus_day(out_dir: str, seed: int, day: int, lo: int, n: int) -> None:
    docs, vectors = corpus_day(seed, day, lo, n)
    os.makedirs(out_dir, exist_ok=True)
    _write(docs, os.path.join(out_dir, "docs.parquet"))
    _write(vectors, os.path.join(out_dir, "vectors.parquet"))
