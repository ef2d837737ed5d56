"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs each ``__spark_entry__.queries()`` entry and its ``oracle_sql()``
twin at sf0.01, compares row count, column names, and sorted values
(order-insensitive).  Usage::

    python scripts/oracle_check.py [key ...]   # default: all keys
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def fingerprint(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
    s = df.astype(str)
    s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    h = pd.util.hash_pandas_object(s, index=False).values
    return hashlib.sha1(h.tobytes()).hexdigest()[:12]


def values_match(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        # dtype-class strictness (r14): the driver hashes values
        # exactly, so a NaN-free int-vs-float dtype split (the DuckDB
        # HUGEINT→float64 leak) must FAIL here even when the values
        # agree numerically — the float tolerance below used to hide
        # exactly the mismatch that broke events_drift_stats in r13.
        ai = pd.api.types.is_integer_dtype(a[c])
        bi = pd.api.types.is_integer_dtype(b[c])
        af = pd.api.types.is_float_dtype(a[c])
        bf = pd.api.types.is_float_dtype(b[c])
        if (ai and bf and not b[c].isna().any()) or (
            bi and af and not a[c].isna().any()
        ):
            print(f"    dtype split on {c!r}: {a[c].dtype} vs {b[c].dtype} "
                  f"(NaN-free — driver hash would mismatch)")
            return False
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for x, y in zip(av, bv):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or (math.isnan(x) != math.isnan(y)):
                    return False
                if not math.isnan(x) and abs(x - y) > 1e-9 * max(1.0, abs(x), abs(y)):
                    return False
            elif x != y:
                return False
    return True


def main() -> int:
    keys = sys.argv[1:] or None
    # Deliberately VANILLA on every SEMANTIC conf: the driver's harness
    # builds its own SparkSession, so the entry points must not depend
    # on session.get_spark defaults (the round-1 nanosAsLong failure
    # mode).  Heap SIZING is not semantics: a full 160+-key board run
    # accumulates checkpoint/broadcast blocks across keys, and the 1g
    # default with 32 executor threads (~11 MB execution memory per
    # task) OOMs ~100 keys in — r9 measured, graph_louvain the victim.
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .appName("oracle-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    selected = keys or list(qs)
    failures = []
    for k in selected:
        if k not in qs:
            print(f"{k}: NOT A QUERY KEY")
            failures.append(k)
            continue
        try:
            sdf = qs[k](spark, SF_DIR)
            spd = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{k}: SPARK ERROR {type(e).__name__}: {e}")
            failures.append(k)
            continue
        if k not in oracles:
            print(f"{k}: rows-only check — {len(spd)} rows, cols={list(spd.columns)}"
                  f" fp={fingerprint(spd)}")
            continue
        try:
            opd = con.execute(oracles[k]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"{k}: ORACLE ERROR {type(e).__name__}: {e}")
            failures.append(k)
            continue
        a, b = normalize(spd), normalize(opd)
        if list(a.columns) != list(b.columns):
            print(f"{k}: COLUMN MISMATCH spark={list(a.columns)} oracle={list(b.columns)}")
            failures.append(k)
        elif len(a) != len(b):
            print(f"{k}: ROWCOUNT MISMATCH spark={len(a)} oracle={len(b)}")
            failures.append(k)
        elif not values_match(a, b):
            print(f"{k}: VALUE MISMATCH ({len(a)} rows)")
            diff_shown = 0
            for i in range(len(a)):
                if not a.iloc[i].equals(b.iloc[i]) and diff_shown < 3:
                    print(f"  spark : {a.iloc[i].to_dict()}")
                    print(f"  oracle: {b.iloc[i].to_dict()}")
                    diff_shown += 1
            failures.append(k)
        else:
            print(f"{k}: OK ({len(a)} rows) fp={fingerprint(a)}")
    print(f"\n{len(selected) - len(failures)}/{len(selected)} passed")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
