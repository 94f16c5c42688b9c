"""Seeded generators for the benchmark's input tables.

The engine reads a directory of ``<table>.parquet`` files (the testdata
layout of TESTDATA.md: slimmed TPC-H star schema, doubles for money,
naive microsecond timestamps). These generators write the same schema
and the same value domains (``NATION_<i>`` names, ``Brand#<n>``, the six
``p_type`` words, ...), so every registered builder and the default
semantic manifest run unchanged on them. All randomness comes from a
``numpy.random.Generator`` seeded by the caller: the same seed writes
byte-identical values.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")

_EPOCH = _dt.datetime(1995, 1, 1)
_DATE_SPAN_DAYS = 2400  # 1995-01-01 .. 2001-07 (the testdata's range)


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64(_EPOCH, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _pick(rng: np.random.Generator, words: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(words, dtype=object)[rng.integers(0, len(words), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The seven relational tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 25)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(list(_REGIONS)),
    })
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(
        np.char.add(np.asarray(_P_ADJ)[rng.integers(0, 8, n_part)], " "),
        np.asarray(_P_NOUN)[rng.integers(0, 8, n_part)],
    )
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names.astype(object)),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + np.round((pk % 1000) * 0.1, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(rng.integers(0, _DATE_SPAN_DAYS, n_ord)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _ts(rng.integers(1, _DATE_SPAN_DAYS + 100, n_line)),
    })
    return t


def embeddings(n: int, dim: int, seed: int, n_labels: int = 10) -> pa.Table:
    """``embeddings.parquet`` schema: unit vectors clustered around one
    centre per label (so nearest-neighbour answers are not all ties)."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    vecs = centres[labels] + 0.6 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-file ``<name>.parquet`` per table, as the testdata has."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def ensure_tpch(root: str, sf: float, seed: int) -> str:
    """Write the tables for (sf, seed) under ``root`` unless a complete
    copy is already there; return the directory. Tables are written to a
    temp name and renamed, so an interrupted run never leaves a partial
    directory that a later run would trust."""
    out = os.path.join(root, f"tpch-sf{sf}-seed{seed}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    write_tables(tpch_tables(sf, seed), tmp)
    try:
        os.rename(tmp, out)
    except OSError:
        if not os.path.isdir(out):
            raise
        shutil.rmtree(tmp)  # a concurrent run finished the same tables first
    return out
