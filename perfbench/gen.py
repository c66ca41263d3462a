#!/usr/bin/env python3
"""Seeded input generator for the gem_pipeline workload.

Writes `region`, `nation`, `supplier`, `customer` and `part` as one
parquet file each, in the schema of the driver's synthetic tables
(column names, physical types, one row group, snappy). Row counts are
the sf0.1 counts times `multiple`. The strings the GEM catalog queries
parse keep their dbgen shape: `Supplier#000000042`, `Customer#...`,
`Brand#N`, two-word part names and two-decimal account balances.

Foreign keys close: every `s_nationkey`/`c_nationkey` is a nation key
and every `n_regionkey` a region key. The same seed gives identical
files; another seed gives other rows.

Usage: python3 perfbench/gen.py <out_dir> <seed> [multiple]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the driver's sf0.1 tables.
SF01_ROWS = {"supplier": 1000, "customer": 15000, "part": 20000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "hot", "large", "old", "red", "small", "steel", "white"]
NOUNS = ["bolt", "gear", "nut", "pipe", "plate", "ring", "screw", "valve"]


def _balances(rng, n):
    return np.round(rng.uniform(-999.99, 9999.99, n), 2)


def tables(seed, multiple=1.0):
    """The five tables as pyarrow Tables, keyed by name."""
    rng = np.random.default_rng(seed)
    n_supp, n_cust, n_part = (max(1, int(round(SF01_ROWS[t] * multiple)))
                              for t in ("supplier", "customer", "part"))
    region = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(N_NATIONS)], pa.string()),
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(N_NATIONS)], pa.int32()),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_balances(rng, n_supp)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_balances(rng, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n_cust)]),
    })
    adj = np.array(ADJECTIVES)[rng.integers(0, len(ADJECTIVES), n_part)]
    noun = np.array(NOUNS)[rng.integers(0, len(NOUNS), n_part)]
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(np.array(TYPES)[rng.integers(0, len(TYPES), n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900.0, 1000.0, n_part), 2)),
    })
    return {"region": region, "nation": nation, "supplier": supplier,
            "customer": customer, "part": part}


def write(out_dir, seed, multiple=1.0):
    """Writes the tables under out_dir; returns {name: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(seed, multiple).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows), compression="snappy")
        rows[name] = t.num_rows
    return rows


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    print(write(sys.argv[1], int(sys.argv[2]),
                float(sys.argv[3]) if len(sys.argv) == 4 else 1.0))
