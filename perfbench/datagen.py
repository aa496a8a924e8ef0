"""Synthetic input tables for the `curation_build` workload.

Writes the ten tables the engine reads (``pubsub2bq_spark.tables.TABLE_NAMES``)
as one single-row-group parquet file each, with the same column names,
physical types and value ranges as the engine's reference test data: a
TPC-H-like star schema, an ``events`` stream table, a ``documents`` corpus
with planted near-duplicates and a clustered ``embeddings`` table.

The tables come from a fixed generator seed, not the run's seed: the
kernels' data-dependent loop counts (k-means rounds, connected-component
rounds) would otherwise change the job count from seed to seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

_WORDS = (
    "a the data spark stream batch table query scan join agg sort merge hash "
    "key value row column line part order customer group filter window big "
    "small fast slow vector"
).split()
_ADJ = ["red", "blue", "green", "hot", "cold", "new", "small", "large"]
_NOUN = ["ring", "bolt", "gear", "plate", "rod", "anvil", "nut", "pipe"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    picked = np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]
    return pa.array(picked, pa.string())


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n_words))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.06:
            # Near-duplicate of an earlier document: a few words replaced.
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(8, 100))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 0.15, (k, dim))
    labels = rng.integers(0, k, n)
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n, dim))).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (lineitem ~ 6M x sf rows)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 5)
    n_docs = max(int(50_000 * sf), 50)
    n_vecs = max(int(20_000 * sf), 50)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })

    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    n_li = len(l_order)
    l_lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 122, n_li)
    status = np.where(ship_day > 2000, "O", "F")
    flag = np.where(ship_day > 2000, np.asarray(["N", "A"], dtype=object)[rng.integers(0, 2, n_li)],
                    np.asarray(["R", "A", "N"], dtype=object)[rng.integers(0, 3, n_li)])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 900.0, 450_000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995, order_day * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_lineno.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(flag, pa.string()),
        "l_linestatus": pa.array(status.astype(object), pa.string()),
        "l_shipdate": _ts(_EPOCH_1995, ship_day * _DAY_US),
    })

    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(_EPOCH_2024, ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(_money(rng, 0.0, 200.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def write_tables(sf: float, out_dir: str) -> str:
    """Write every table at ``sf`` under ``out_dir`` and return the dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
    return out_dir
