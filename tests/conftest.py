from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from hunger_games_glue_streaming_etl_spark.session import get_spark
from hunger_games_glue_streaming_etl_spark.sources.batch import TABLE_NAMES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="hg-spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def oracle_con():
    """DuckDB connection with the synthetic tables registered as views,
    mirroring the driver's oracle harness."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    return con


def assert_matches_oracle(spark_df, oracle_con, sql, check_values=True):
    """Order-insensitive comparison of a Spark result vs DuckDB, the same
    shape as the driver's correctness gate (row-count + columns + values)."""
    sdf = spark_df.toPandas()
    odf = oracle_con.execute(sql).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"row count differs: spark={len(sdf)} oracle={len(odf)}"
    if not check_values or len(sdf) == 0:
        return
    cols = sorted(sdf.columns)
    s, o = _row_strings(sdf[cols]), _row_strings(odf[cols])
    assert s == o, f"values differ; first spark={s[:3]} oracle={o[:3]}"


def _row_strings(df):
    """Sorted ``|``-joined string form of each row.  Float columns get
    ``+ 0.0`` first, which turns -0.0 into 0.0: the two compare equal as
    numbers but print differently, and engines disagree on the sign of a
    zero result."""
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c] + 0.0
    return df.astype(str).apply(lambda r: "|".join(r), axis=1).sort_values().tolist()
