"""Seeded synthetic TPC-H-style input tables for the benchmark.

Writes the seven tables the graph loader maps onto twins and
relationships (region, nation, customer, supplier, part, orders,
lineitem) with the same column names, types and value formats as the
project's fixture parquet, one file per table as the fixture has.
Value vocabularies and the date helper come from the project's
``scripts/gen_sf1.py``.  Row counts follow the fixture's sf0.001 shape;
every value is drawn from ``numpy``'s generator seeded with ``seed``, so
one seed always gives the same files.  Each customer has the same number
of orders and customers cycle through the nations, so the row counts the
benchmark's queries page through are the same for every seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write the tables under ``out_dir``; return row counts by table."""
    from scripts.gen_sf1 import (
        PADJ, PNOUN, PRIORITIES, PTYPES, REGIONS, SEGMENTS, STATUSES, day_ts,
    )

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        # nation and order counts are fixed by key so every seed pages
        # the same number of rows; the values stay seeded
        "c_nationkey": pa.array(np.arange(n_cust) % 25, pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{PADJ[a]} {PNOUN[b]}"
            for a, b in zip(
                rng.integers(0, len(PADJ), n_part),
                rng.integers(0, len(PNOUN), n_part),
            )
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.uniform(0, 1200, n_part), 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.permutation(np.arange(n_ord) % n_cust), pa.int64()),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 450000, n_ord), 2),
        "o_orderdate": pa.array(
            day_ts(rng, n_ord).astype("datetime64[us]"), pa.timestamp("us")
        ),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    per = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(okeys)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, c + 1) for c in per]), pa.int32()
        ),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            day_ts(rng, n_li, "1995-01-02", "2001-11-04").astype("datetime64[us]"),
            pa.timestamp("us"),
        ),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
