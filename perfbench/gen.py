"""Seeded input generator.

Every table the benchmark feeds the program is built here from a
``numpy.random.Generator``, so one seed gives the same inputs on every
machine. Shapes follow the TPC-H-style tables and the embedding corpus
the repository's queries use (customer, orders, lineitem, part,
supplier, partsupp, nation, region, embeddings); sizes are arguments.
Frames are pandas, so the same rows go to Spark and to the DuckDB
oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
REGIONS = np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])
PART_TYPES = np.array(["BRASS", "COPPER", "NICKEL", "STEEL", "TIN"])
EPOCH = np.datetime64("2020-01-01T00:00:00", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span=2000):
    return EPOCH + rng.integers(0, span, n).astype("timedelta64[D]")


def customers(rng, keys) -> pd.DataFrame:
    keys = np.asarray(keys, dtype=np.int64)
    n = len(keys)
    return pd.DataFrame({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })


def orders(rng, keys, n_cust: int) -> pd.DataFrame:
    keys = np.asarray(keys, dtype=np.int64)
    n = len(keys)
    return pd.DataFrame({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": rng.choice(STATUSES, n),
        "o_totalprice": _money(rng, 900.0, 400000.0, n),
        "o_orderdate": _days(rng, n),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def lineitem(rng, order_keys, first_id: int, n_part: int = 2000,
             n_supp: int = 100) -> pd.DataFrame:
    """One to seven lines per order; ``l_id`` is a unique row id, so rows
    that repeat ``(l_orderkey, l_linenumber)`` are told apart."""
    order_keys = np.asarray(order_keys, dtype=np.int64)
    lines = rng.integers(1, 8, len(order_keys))
    ok = np.repeat(order_keys, lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(ok)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pd.DataFrame({
        "l_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "l_orderkey": ok,
        "l_linenumber": ln,
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_shipdate": _days(rng, n),
    })


def nation(rng) -> pd.DataFrame:
    return pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })


def region(rng) -> pd.DataFrame:
    return pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    })


def part(rng, n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"part{i}" for i in range(n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_retailprice": _money(rng, 900.0, 2000.0, n),
    })


def supplier(rng, n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_regionkey": rng.integers(0, 5, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def partsupp(rng, n_part: int, n_supp: int, per_part: int = 4) -> pd.DataFrame:
    pk = np.repeat(np.arange(n_part, dtype=np.int64), per_part)
    sk = (pk * 7 + np.tile(np.arange(per_part), n_part) * 13) % n_supp
    n = len(pk)
    return pd.DataFrame({
        "ps_partkey": pk,
        "ps_suppkey": sk.astype(np.int64),
        "ps_availqty": rng.integers(1, 10000, n).astype(np.int64),
        "ps_supplycost": _money(rng, 1.0, 1000.0, n),
    })


# --------------------------------------------------------------------------
# embedding corpus


def embeddings(rng, n: int, dim: int = 64, n_labels: int = 10,
               dup_frac: float = 0.05):
    """``n`` unit-ish vectors around ``n_labels`` centres; ``dup_frac``
    of them are a tiny perturbation of an earlier vector. Returns the
    frame and the planted ``(original, copy)`` id pairs."""
    centres = rng.normal(0.0, 1.0, (n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    x = centres[labels] + rng.normal(0.0, 1.5, (n, dim))
    n_dup = int(n * dup_frac)
    copies = rng.choice(np.arange(n // 2, n), n_dup, replace=False)
    origins = rng.integers(0, n // 2, n_dup)
    x[copies] = x[origins] + rng.normal(0.0, 0.01, (n_dup, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    df = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(x),
        "label": labels.astype(np.int32),
    })
    return df, sorted(zip(origins.tolist(), copies.tolist()))
