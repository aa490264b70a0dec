"""The oracle comparison helper itself: equal values pass, different ones
fail, and a zero's sign is not a difference."""

from __future__ import annotations

import duckdb
import pytest

from conftest import assert_matches_oracle


def test_signed_zero_matches(spark):
    con = duckdb.connect()
    sql = "SELECT 1 AS k, CAST('-0.0' AS DOUBLE) AS v"
    assert str(con.execute(sql).fetchone()[1]) == "-0.0"  # the plant holds
    assert_matches_oracle(spark.createDataFrame([(1, 0.0)], "k int, v double"), con, sql)


def test_different_values_still_fail(spark):
    con = duckdb.connect()
    with pytest.raises(AssertionError, match="values differ"):
        assert_matches_oracle(
            spark.createDataFrame([(1, 0.0)], "k int, v double"),
            con,
            "SELECT 1 AS k, CAST(1.0 AS DOUBLE) AS v",
        )
