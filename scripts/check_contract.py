"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query on Spark at sf0.01 and compare against its DuckDB
oracle (row count + column names + order-insensitive values).

    PYTHONPATH=/root/repo python scripts/check_contract.py [name ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def main(names: list[str]) -> int:
    import __spark_entry__ as entrymod
    from text_ocr_spark.pipeline import session_builder

    spark = (
        session_builder(master="local[8]", app="contract-check")
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    todo = names or list(qs)
    failures = []
    for name in todo:
        if name not in oracles:
            print(f"FAIL {name}: no oracle")
            failures.append(name)
            continue
        t0 = time.time()
        try:
            got = qs[name](spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            failures.append(name)
            continue
        dt_s = time.time() - t0
        try:
            want = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
            failures.append(name)
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
            failures.append(name)
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)}")
            failures.append(name)
            continue
        neq = (g != w) & ~(g.isna() & w.isna())
        if neq.any().any():
            bad = neq.any(axis=1)
            print(f"FAIL {name}: {int(bad.sum())}/{len(g)} rows differ; first:")
            idx = bad.idxmax()
            print("  spark :", g.loc[idx].to_dict())
            print("  duckdb:", w.loc[idx].to_dict())
            failures.append(name)
            continue
        print(f"PASS {name}: {len(g)} rows, {dt_s:.1f}s")
    spark.stop()
    print(f"\n{len(todo) - len(failures)}/{len(todo)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
