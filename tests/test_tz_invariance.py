"""Host-timezone invariance of query outputs.

The r6 invariance matrix varied partitioning, session provenance, ANSI
mode, optimizer regime, and scale — but every run shared the container's
host timezone. That axis is NOT covered by the session-TZ pin: PySpark
``collect()`` converts an LTZ TIMESTAMP to a Python datetime through the
driver process's LOCAL timezone (``datetime.fromtimestamp`` in
``TimestampType.fromInternal``), while the DuckDB oracle returns naive
UTC wall-clock values regardless of host TZ. Under a non-UTC host every
timestamp-returning oracle query therefore hash-mismatches (proven by
the mechanism pin below) even though session TZ is pinned UTC.

Fix under test: ``functions.utc_ntz`` — query wrappers cast output LTZ
columns to TIMESTAMP_NTZ, whose collect path does no local conversion.
Under a UTC host the values are bit-identical to the uncast form (the
LTZ→NTZ cast renders through the pinned UTC session TZ); under any other
host TZ they no longer shift.

``time.tzset()`` changes the PYTHON process's local timezone — exactly
the conversion layer where the shift happens — without restarting the
shared JVM, so the hostile-TZ runs here exercise the real failure path.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from datetime import datetime

import pytest

from redshift_to_lakehouse_migration_spark.queries import QUERIES
from tests.conftest import SF_SMOKE as SF


@contextmanager
def host_tz(tz: str):
    old = os.environ.get("TZ")
    os.environ["TZ"] = tz
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_ltz_collect_shifts_with_host_tz_but_ntz_does_not(spark):
    """Pin the MECHANISM: the session-TZ pin does not protect collect().
    If this ever fails, PySpark changed its conversion path and the
    utc_ntz contract can be revisited."""
    df = spark.sql(
        "SELECT timestamp'2024-06-01 12:00:00' AS ltz, "
        "cast(timestamp'2024-06-01 12:00:00' as timestamp_ntz) AS ntz")
    with host_tz("UTC"):
        utc_row = df.collect()[0]
    with host_tz("America/New_York"):
        ny_row = df.collect()[0]
    assert utc_row.ltz == datetime(2024, 6, 1, 12, 0)
    assert ny_row.ltz == datetime(2024, 6, 1, 8, 0)      # shifted: the hazard
    assert utc_row.ntz == ny_row.ntz == datetime(2024, 6, 1, 12, 0)


def test_no_registered_query_returns_ltz_timestamps(spark):
    """The output contract: no registered query may return an LTZ
    TIMESTAMP anywhere in its schema (top-level, struct, array, map) —
    any such column collects host-TZ-dependently and would hash-mismatch
    the driver's DuckDB oracle on a non-UTC host. Schema analysis only;
    nothing executes."""
    from pyspark.sql.types import (
        ArrayType, MapType, StructType, TimestampType,
    )

    def has_ltz(dt) -> bool:
        if isinstance(dt, TimestampType):
            return True
        if isinstance(dt, StructType):
            return any(has_ltz(f.dataType) for f in dt.fields)
        if isinstance(dt, ArrayType):
            return has_ltz(dt.elementType)
        if isinstance(dt, MapType):
            return has_ltz(dt.keyType) or has_ltz(dt.valueType)
        return False

    offenders = {}
    for name, fn in QUERIES.items():
        df = fn(spark, SF)
        bad = [f.name for f in df.schema.fields if has_ltz(f.dataType)]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"LTZ timestamp columns leak host TZ at collect(): {offenders}; "
        f"wrap the query's return in functions.utc_ntz")


@pytest.mark.parametrize("name", ["events_hourly_by_type",
                                  "events_sessionized",
                                  "audit_principal_last7d"])
def test_query_output_invariant_under_hostile_host_tz(spark, name):
    """End-to-end: representative timestamp-returning queries collect
    IDENTICAL values under UTC and a DST-observing host TZ, and the
    UTC-host values equal the DuckDB oracle's naive wall-clock values."""
    import duckdb

    from redshift_to_lakehouse_migration_spark.queries import ORACLES
    from redshift_to_lakehouse_migration_spark.tables import TABLES

    df = QUERIES[name](spark, SF)
    cols = df.columns
    with host_tz("UTC"):
        utc_rows = sorted(map(tuple, df.collect()))
    with host_tz("Pacific/Kiritimati"):      # UTC+14, no DST games hidden
        far_rows = sorted(map(tuple, df.collect()))
    with host_tz("America/New_York"):
        ny_rows = sorted(map(tuple, df.collect()))
    assert utc_rows == far_rows == ny_rows

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    rel = con.sql(ORACLES[name])
    order = [rel.columns.index(c) for c in cols]
    duck_rows = sorted(tuple(r[i] for i in order) for r in rel.fetchall())
    assert utc_rows == duck_rows
