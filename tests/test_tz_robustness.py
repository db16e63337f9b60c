"""Session-timezone robustness: the driver's harness session may not
pin UTC, so every timestamp-touching query must produce identical
results under any session zone (the DuckDB oracle reads NTZ values
as-is). Catches ltz-literal-vs-ntz-column coercions slipping in."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"

QUERIES = [
    "q1_pricing_summary",
    "events_sessionized",
    "events_rollup",
    "events_props_json",
    "transcript_index",
]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


@pytest.mark.parametrize("name", QUERIES)
def test_query_is_session_tz_proof(spark, name):
    import __spark_entry__ as entrymod

    tokyo = spark.newSession()
    tokyo.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    got = _canon(entrymod.queries()[name](tokyo, SF).toPandas())

    con = duckdb.connect()
    for t in ("lineitem", "events", "documents"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF}/{t}.parquet')"
        )
    want = _canon(con.sql(entrymod.oracle_sql()[name]).df())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
