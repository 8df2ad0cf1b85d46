"""Runs every queries() entry against its oracle_sql() via DuckDB at
sf0.01 — a local replica of the driver's correctness gate, on a DuckDB
session in a non-UTC timezone (the driver's connection is not under our
control)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry
from tests.conftest import SF_CORRECT, register_views
from tests.util import assert_same

QUERY_NAMES = sorted(entry.queries().keys())


@pytest.fixture(scope="module")
def duck_correct():
    con = duckdb.connect()
    con.execute("SET TimeZone='Asia/Shanghai'")
    register_views(con, SF_CORRECT)
    return con


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck_correct, name):
    sdf = entry.queries()[name](spark, SF_CORRECT)
    ddf = duck_correct.execute(entry.oracle_sql()[name]).df()
    assert_same(sdf, ddf, name)


def test_comparator_rejects_int_vs_float(spark):
    """The driver's value hash fails an int64 column against the same
    values as float64 (DuckDB 1.0 returns SUM(BIGINT) as float64), so
    the local comparator must too."""
    sdf = spark.createDataFrame([(36,)], "n long")
    with pytest.raises(AssertionError, match="dtype"):
        assert_same(sdf, pd.DataFrame({"n": [36.0]}))
    assert_same(sdf, pd.DataFrame({"n": [36]}))


def test_comparator_rejects_column_set_mismatch(spark):
    sdf = spark.createDataFrame([(1, 36)], "k long, n long")
    with pytest.raises(AssertionError, match="columns"):
        assert_same(sdf, pd.DataFrame({"k": [1], "m": [36]}))


def test_entry_smoke(spark):
    df = entry.entry(spark)
    assert df.count() > 0


def test_oracles_are_session_timezone_independent():
    """Every oracle must return identical values whatever the DuckDB
    session timezone — the driver's connection is not under our control.
    (Caught live: to_timestamp() coerces to TIMESTAMPTZ and epoch_ms
    shifted by -8h under Asia/Shanghai; fixed with make_timestamp.)"""
    import duckdb

    hostile = duckdb.connect()
    hostile.execute("SET TimeZone='Asia/Shanghai'")
    register_views(hostile, SF_CORRECT)
    utc = duckdb.connect()
    utc.execute("SET TimeZone='UTC'")
    register_views(utc, SF_CORRECT)
    # the four timestamp-heavy oracle families (others are ts-free)
    for name in (
        "cdc_apply_upsert",
        "turn_events",
        "sink_rows",
        "window_tumbling",
        "join_first_response",
        "cohort_exist",
        "trace_tool_chains",
    ):
        sql = entry.oracle_sql()[name]
        a = hostile.execute(sql).df()
        b = utc.execute(sql).df()
        cols = sorted(a.columns)
        a = a[cols].sort_values(cols).reset_index(drop=True).astype(str)
        b = b[cols].sort_values(cols).reset_index(drop=True).astype(str)
        assert a.shape == b.shape and (a.values == b.values).all(), name
