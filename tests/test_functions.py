"""Unit tests for the scalar-function library, in the reference's style:
tiny dirty fixtures (padded strings, empty-string dates, NULL keys) and
assertions on each normalizer (`tests/test_silver_transforms.py:14-88`)."""

from __future__ import annotations

from pyspark.sql import functions as F

from redshift_to_lakehouse_migration_spark.functions import (
    calendar_columns,
    dsum,
    empty_to_null,
    full_name,
    lookup_case,
    norm_str,
    sum_if,
    surrogate_key,
    tier_case,
)


def test_norm_str_and_empty_to_null(spark):
    df = spark.createDataFrame(
        [(" active ",), ("",), (None,), ("ho5",)], ["v"])
    out = df.select(
        norm_str("v").alias("n"),
        empty_to_null("v").alias("e"),
    ).collect()
    assert [r.n for r in out] == ["ACTIVE", "", None, "HO5"]
    assert [r.e for r in out] == [" active ", None, None, "ho5"]


def test_full_name_skips_nulls(spark):
    df = spark.createDataFrame([(" John ", " Smith "), ("Ann", None)],
                               ["f", "l"])
    out = df.select(full_name("f", "l").alias("n")).collect()
    assert out[0].n == "John Smith"
    assert out[1].n == "Ann"  # concat_ws skips NULL (documented delta)


def test_surrogate_key_null_sentinel(spark):
    df = spark.createDataFrame([("a", None)], "x string, y string")
    got = df.select(surrogate_key("x", "y").alias("sk")).collect()[0].sk
    import hashlib
    assert got == hashlib.md5(b"a|_null_").hexdigest()


def test_tier_and_lookup_case(spark):
    df = spark.createDataFrame([("FRAME",), ("STEEL",), ("???",)], ["c"])
    tiers = [(("FRAME", "WOOD"), "HIGH"), (("STEEL", "CONCRETE"), "LOW")]
    out = df.select(tier_case("c", tiers).alias("t"),
                    lookup_case("c", {"FRAME": "F", "STEEL": "S"},
                                "UNK").alias("l")).collect()
    assert [r.t for r in out] == ["HIGH", "LOW", "UNKNOWN"]
    assert [r.l for r in out] == ["F", "S", "UNK"]


def test_dsum_exact_and_sum_if(spark):
    df = spark.createDataFrame(
        [("A", 0.1), ("A", 0.2), ("B", 0.3)], ["k", "v"])
    out = df.groupBy("k").agg(
        dsum("v").alias("s"),
        sum_if(F.col("v") > 0.15, "v").alias("c"),
    ).orderBy("k").collect()
    assert out[0].s == 0.3 and out[0].c == 0.2   # exact decimal, not 0.30000000000000004
    assert out[1].s == 0.3 and out[1].c == 0.3


def test_calendar_columns(spark):
    df = spark.createDataFrame([("2024-07-06",)], ["d"]) \
        .select(F.col("d").cast("date").alias("d"))
    cols = calendar_columns("d")
    row = df.select(*[c.alias(n) for n, c in cols.items()]).collect()[0]
    assert row.year == 2024 and row.quarter == 3 and row.month == 7
    assert row.day_of_week == 7 and row.is_weekend  # Saturday
    assert row.is_hurricane_season and not row.is_winter_season
    assert row.month_name == "July"


def test_spread_parallelizes_small_scans_only(spark, tmp_path):
    """spread(): single-partition inputs fan out to defaultParallelism;
    inputs already at/above it pass through unchanged (the cluster-scale
    no-op contract from SCALE.md). On a parquet scan the byte floor
    reads Catalyst's size estimate through the private ``_jdf`` path —
    if a Spark upgrade breaks it, the estimate turns None and every
    size gate silently takes its fallback branch; fail here instead."""
    from redshift_to_lakehouse_migration_spark.tables import (
        _estimated_bytes, spread)
    target = spark.sparkContext.defaultParallelism
    small = spark.range(100).coalesce(1)
    assert small.rdd.getNumPartitions() == 1
    assert spread(small, spark).rdd.getNumPartitions() == target
    big = spark.range(1000).repartition(target + 4)
    out = spread(big, spark)
    assert out.rdd.getNumPartitions() == target + 4
    assert out is big  # no extra shuffle inserted

    spark.range(100).coalesce(1).write.parquet(str(tmp_path / "t"))
    scan = spark.read.parquet(str(tmp_path / "t"))
    assert scan.rdd.getNumPartitions() == 1
    est = _estimated_bytes(scan)
    assert isinstance(est, int) and est > 0
    assert spread(scan, spark, min_bytes_per_core=est) is scan
    assert spread(scan, spark, min_bytes_per_core=1) \
        .rdd.getNumPartitions() == target


def test_tune_for_session_applies_runtime_confs(spark):
    """Any externally-built session (the driver's) must pick up the
    runtime-settable engine confs on first table load: UTC timezone and
    the InferFiltersFromGenerate exclusion (a guard for a measured
    round-1 3x regression on
    gram/shingle queries if it re-appears)."""
    from redshift_to_lakehouse_migration_spark.session import tune_for_session
    tune_for_session(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert "InferFiltersFromGenerate" in spark.conf.get(
        "spark.sql.optimizer.excludedRules", "")


def test_tune_for_session_respects_pinned_confs(spark):
    """The conf-axis contract: keys listed in spark.graft.confPinned must
    SURVIVE tune_for_session — the replica's --conf invariance sweeps
    (AQE off, broadcast off, non-UTC TZ) run their queries through
    tables.load, which calls tune_for_session; without the pin the very
    first load would revert the axis to DEFAULT_CONF and the sweep would
    certify nothing (false PASS)."""
    from redshift_to_lakehouse_migration_spark.session import (
        DEFAULT_CONF, tune_for_session)
    saved_tuned = spark.conf.get("spark.graft.sessionTuned", None)
    saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
    saved_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.unset("spark.graft.sessionTuned")
        spark.conf.set(
            "spark.graft.confPinned",
            "spark.sql.shuffle.partitions,spark.sql.session.timeZone")
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        tune_for_session(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert (spark.conf.get("spark.sql.session.timeZone")
                == "America/New_York")
        # unpinned keys still get the engine defaults
        assert "InferFiltersFromGenerate" in spark.conf.get(
            "spark.sql.optimizer.excludedRules", "")
    finally:
        spark.conf.unset("spark.graft.confPinned")
        spark.conf.set("spark.sql.shuffle.partitions", saved_parts)
        spark.conf.set("spark.sql.session.timeZone", saved_tz)
        if saved_tuned is None:
            spark.conf.unset("spark.graft.sessionTuned")
        else:
            spark.conf.set("spark.graft.sessionTuned", saved_tuned)
        # NO trailing re-tune: get_spark-built sessions are tuned by
        # construction (sessionTuned set at build), and a tune_for_session
        # here would clobber the conftest's shuffle.partitions=4 override
        # back to DEFAULT_CONF for every later test — the exact pollution
        # class the _session_conf_guard exists to catch.


def test_dsum_corrupt_input_policy(spark):
    """Pin dsum's corrupt-input policy under Spark 4.1's default ANSI
    mode (found by a hostile-data oracle probe): non-finite doubles cast
    to NULL — silently excluded from the sum — while a finite value too
    wide for the decimal fails the job loudly. If a Spark upgrade ever
    changes either behavior, this catches it before the oracles do."""
    import pytest as _pytest

    from redshift_to_lakehouse_migration_spark.functions import dsum

    df = spark.createDataFrame(
        [(1.0,), (float("nan",),), (float("inf"),), (2.5,)], "v double")
    assert df.agg(dsum("v").alias("s")).collect()[0].s == 3.5

    too_wide = spark.createDataFrame([(1e23,)], "v double")
    with _pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        too_wide.agg(dsum("v").alias("s")).collect()


def test_get_spark_sets_driver_memory(spark):
    """get_spark must request a real driver heap at JVM launch: Spark's 1g
    default is a cluster-coordinator size, but in local[N] the driver heap
    IS all N executors' working memory (measured: a full-registry run at
    5x the largest driver scale kills a 1g JVM mid-suite). The session
    fixture was built by get_spark, so the conf must be present and the
    live JVM's max heap must be well past the 1g default."""
    import os
    expected = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    assert spark.conf.get("spark.driver.memory") == expected
    if expected == "8g":          # heap check only for the known default
        max_gib = (spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
                   / 2 ** 30)
        assert max_gib > 4, \
            f"JVM max heap {max_gib:.1f} GiB — launch conf lost"


def test_davg_denominator_matches_nan_exclusion(spark):
    """davg's numerator excludes non-finite values (decimal cast → NULL,
    the pinned corrupt-input policy); the denominator must exclude the
    SAME rows — counting raw non-nulls biased the mean low."""
    df = spark.createDataFrame(
        [(1.0,), (3.0,), (float("nan"),)], "v double")
    from redshift_to_lakehouse_migration_spark.functions import davg
    got = df.agg(davg("v").alias("m")).collect()[0].m
    assert got == 2.0   # (1+3)/2, NOT (1+3)/3
