"""In-repo replica of the driver's __spark_entry__ smoke contract:
entry(spark) runs on sf0.001 and yields rows with a stable schema; every
oracle key names a registered query; every registered query is callable
with (spark, sf_dir) and returns a DataFrame (plan-builds without
executing here — execution is the oracle gate's job)."""

from __future__ import annotations

from pyspark.sql import DataFrame

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE


def test_entry_runs_and_returns_rows(spark):
    df = entrymod.entry(spark)
    assert isinstance(df, DataFrame)
    cols = df.columns
    assert len(cols) == len(set(cols))  # no duplicate output names
    assert df.count() > 0


def test_driver_sample_priority_is_front_of_registry():
    """The driver's correctness gate samples the first 50 registry
    entries; DRIVER_SAMPLE_PRIORITY pins which queries get a driver row
    this round and must therefore (a) fit in the sample window and
    (b) actually lead the iteration order."""
    from redshift_to_lakehouse_migration_spark.queries import (
        DRIVER_SAMPLE_PRIORITY,
        QUERIES,
    )
    assert len(DRIVER_SAMPLE_PRIORITY) <= 50
    assert len(set(DRIVER_SAMPLE_PRIORITY)) == len(DRIVER_SAMPLE_PRIORITY)
    head = list(QUERIES)[: len(DRIVER_SAMPLE_PRIORITY)]
    assert head == list(DRIVER_SAMPLE_PRIORITY)


def test_registry_contract(spark):
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 96
    # every query builds a plan against the smallest SF without erroring
    for name, fn in qs.items():
        df = fn(spark, SF_SMOKE)
        assert isinstance(df, DataFrame), name
        assert len(df.columns) == len(set(df.columns)), name
