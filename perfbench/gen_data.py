"""Deterministic sf0.1 TPC-H-ish tables for the benchmark.

The benchmark reads nothing outside its checkout, so it writes its own
copy of the four tables `GraphStore.tpch` loads (customer, orders, part,
lineitem) with the row counts, key ranges, column types and value
distributions of the sf0.1 test data the repository is developed
against: uniform foreign keys, one row group per file, snappy parquet.
The data seed is fixed (DATA_SEED); the workload seed only chooses
which parameters and orderings are replayed against it.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.1
N_CUSTOMER = int(150_000 * SF)
N_ORDERS = int(1_500_000 * SF)
N_PART = int(200_000 * SF)
N_LINEITEM = int(6_000_000 * SF)
N_SUPPLIER = int(10_000 * SF)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]

TABLES = ("customer", "orders", "part", "lineitem")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return d.astype("datetime64[D]").astype("datetime64[us]")


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def tables():
    rng = np.random.default_rng(DATA_SEED)
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
    })
    ok = np.arange(N_ORDERS, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": _pick(rng, STATUSES, N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
                                type=pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    })
    pk = np.arange(N_PART, dtype=np.int64)
    names = [f"{a} {b}" for a, b in zip(_pick(rng, ADJECTIVES, N_PART),
                                        _pick(rng, NOUNS, N_PART))]
    part = pa.table({
        "p_partkey": pk,
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": _pick(rng, TYPES, N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    n = N_LINEITEM
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, n).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, n).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n),
                               type=pa.timestamp("us")),
    })
    return {"customer": customer, "orders": orders, "part": part,
            "lineitem": lineitem}


def ensure(out_dir):
    """Write the tables under `out_dir` unless a complete copy is there."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables().items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(t, tmp, row_group_size=t.num_rows, compression="snappy")
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write("ok\n")
    return out_dir
