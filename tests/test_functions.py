"""Unit tests for the scalar-function library, in the reference's style:
tiny dirty fixtures (padded strings, empty-string dates, NULL keys) and
assertions on each normalizer (`tests/test_silver_transforms.py:14-88`)."""

from __future__ import annotations

import pytest
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
    reads Catalyst's size estimate through the private ``_jdf`` path,
    and ``fits_broadcast`` reads the budget Spark itself parsed through
    ``_jsparkSession`` — if a Spark upgrade breaks either, every size
    gate silently takes its unknown-size branch; fail here instead."""
    from redshift_to_lakehouse_migration_spark.tables import (
        _estimated_bytes, fits_broadcast, spread)
    target = spark.sparkContext.defaultParallelism
    small = spark.range(100).coalesce(1)
    assert small.rdd.getNumPartitions() == 1
    assert spread(small, spark).rdd.getNumPartitions() == target
    big = spark.range(1000).repartition(target + 4)
    out = spread(big, spark)
    assert out.rdd.getNumPartitions() == target + 4
    assert out is big  # no extra shuffle inserted

    spark.range(1000).coalesce(1).write.parquet(str(tmp_path / "t"))
    scan = spark.read.parquet(str(tmp_path / "t"))
    assert scan.rdd.getNumPartitions() == 1
    est = _estimated_bytes(scan)
    assert isinstance(est, int) and est > 0
    assert spread(scan, spark, min_bytes_per_core=est) is scan
    assert spread(scan, spark, min_bytes_per_core=1) \
        .rdd.getNumPartitions() == target

    assert fits_broadcast(scan) is True  # the session's 64 MB budget
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert fits_broadcast(scan) is False
        # a suffixed budget is parsed by Spark, not by this package
        assert est > 1024
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1k")
        assert fits_broadcast(scan) is False
    finally:
        # set, not unset: unset falls back to Spark's global 10MB default
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)



@pytest.mark.parametrize("budget,fits", [
    ("64MB", True), ("64m", True), ("512kb", True), ("1g", True),
    ("10485760", True), ("0", False)])
def test_fits_broadcast_reads_spark_parsed_budget(spark, tmp_path,
                                                  budget, fits):
    """Every byte-string form Spark accepts for the budget reaches the
    predicate already parsed (bare bytes and k/m/g[b] suffixes); a zero
    budget, like -1, lets nothing fit."""
    from redshift_to_lakehouse_migration_spark.tables import fits_broadcast
    spark.range(1000).coalesce(1).write.parquet(str(tmp_path / "t"))
    scan = spark.read.parquet(str(tmp_path / "t"))
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", budget)
        assert fits_broadcast(scan) is fits
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_fits_broadcast_budget_is_inclusive(spark, tmp_path):
    """An estimate exactly at the budget fits and one byte over does not
    — the same ``sizeInBytes <= threshold`` rule Spark's own
    auto-broadcast applies, so a gate never disagrees with the planner
    at the edge."""
    from redshift_to_lakehouse_migration_spark.tables import (
        _estimated_bytes, fits_broadcast)
    spark.range(1000).coalesce(1).write.parquet(str(tmp_path / "t"))
    scan = spark.read.parquet(str(tmp_path / "t"))
    est = _estimated_bytes(scan)
    assert est is not None and est > 1
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(est))
        assert fits_broadcast(scan) is True
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(est - 1))
        assert fits_broadcast(scan) is False
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_fits_broadcast_unknown_without_session_budget(monkeypatch):
    """A known estimate with no readable session budget is still unknown
    (None), never a guessed default budget."""
    from redshift_to_lakehouse_migration_spark import tables

    class _NoSession:
        sparkSession = object()  # no _jsparkSession handle

    monkeypatch.setattr(tables, "_estimated_bytes", lambda df: 10)
    assert tables.fits_broadcast(_NoSession()) is None


def test_pin_if_small_follows_the_budget(spark, tmp_path):
    """The medallion silver pin checkpoints an output that fits the
    budget and passes one that does not through untouched; the pinned
    frame keeps its origin size estimate for downstream choosers."""
    from redshift_to_lakehouse_migration_spark.medallion.flow import (
        _pin_if_small)
    from redshift_to_lakehouse_migration_spark.tables import (
        _estimated_bytes)
    spark.range(1000).coalesce(1).write.parquet(str(tmp_path / "t"))
    scan = spark.read.parquet(str(tmp_path / "t"))

    pinned = _pin_if_small(scan)
    assert pinned is not scan
    assert "LogicalRDD" in pinned._jdf.queryExecution().logical().toString()
    assert _estimated_bytes(pinned) == _estimated_bytes(scan)
    assert sorted(r.id for r in pinned.collect()) == list(range(1000))

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert _pin_if_small(scan) is scan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_broadcast_gates_keep_their_unknown_size_branch(
        spark, tmp_path, monkeypatch):
    """With the size estimate unavailable, each broadcast-budget gate
    takes its documented branch: the RI check adds no broadcast hint,
    the medallion silver pin returns its input, and the fact_claims
    chooser builds plain (no bucketed tables persisted)."""
    from redshift_to_lakehouse_migration_spark import quality, tables
    from redshift_to_lakehouse_migration_spark import schemas as S
    from redshift_to_lakehouse_migration_spark.medallion import silver
    from redshift_to_lakehouse_migration_spark.medallion.flow import (
        _pin_if_small)
    from redshift_to_lakehouse_migration_spark.medallion.gold import (
        build_fact_claims_auto)

    spark.range(100).coalesce(1).write.parquet(str(tmp_path / "t"))
    scan = spark.read.parquet(str(tmp_path / "t"))
    monkeypatch.setattr(tables, "_estimated_bytes", lambda df: None)
    assert tables.fits_broadcast(scan) is None

    # a reference Spark itself would not auto-broadcast, so a
    # BroadcastHashJoin could only come from the gate's hint
    ref = spark.range(10 ** 12)
    plan = (quality._orphans(scan, "id", ref, "id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" not in plan and "LeftAnti" in plan

    assert _pin_if_small(scan) is scan

    def raw(schema, fn):
        return fn(spark.createDataFrame([], schema))

    try:
        build_fact_claims_auto(
            spark, raw(S.RAW_CLAIMS, silver.transform_claims),
            raw(S.RAW_POLICIES, silver.transform_policies),
            raw(S.RAW_PROPERTIES, silver.transform_properties),
            n_buckets=4, table_prefix="test_auto_")
        assert [t.name for t in spark.catalog.listTables()
                if t.name.startswith("test_auto_")] == []
    finally:
        spark.sql("DROP TABLE IF EXISTS test_auto_claims")
        spark.sql("DROP TABLE IF EXISTS test_auto_policies")


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
