"""DQ framework tests in the reference's style: pass/fail micro-DataFrames
(`tests/test_data_quality.py:16-69`), plus the fused-single-pass guarantee."""

from __future__ import annotations

from pyspark.sql import types as T

from redshift_to_lakehouse_migration_spark import quality as q


def _df(spark):
    return spark.createDataFrame(
        [("P1", "ACTIVE", 100.0),
         ("P2", "ACTIVE", -5.0),
         ("P2", "BOGUS", 50.0),
         (None, "EXPIRED", 10.0)],
        "policy_id string, status string, amount double")


def test_fused_checks(spark):
    df = _df(spark)
    results = q.run_checks(df, [
        q.not_null("policy_id"),
        q.unique("policy_id"),
        q.accepted_values("status", ["ACTIVE", "EXPIRED", "CANCELLED"]),
        q.in_range("amount", min_value=0),
        q.composite_unique(["policy_id", "status"]),
    ], table_name="policies")
    by_name = {r.check_name: r for r in results}
    assert not by_name["not_null_policy_id"].passed
    assert by_name["not_null_policy_id"].failed_count == 1
    assert not by_name["unique_policy_id"].passed          # P2 twice
    assert by_name["accepted_values_status"].failed_count == 1
    assert by_name["in_range_amount"].failed_count == 1
    assert by_name["composite_unique_policy_id_status"].passed
    assert all(r.total_count == 4 for r in results)


def test_relationships_and_rowcount(spark):
    child = spark.createDataFrame(
        [("C1", "P1"), ("C2", "P9"), ("C3", None)],
        "claim_id string, policy_id string")
    parent = spark.createDataFrame([("P1",), ("P2",)], "policy_id string")
    r = q.check_relationships(child, "policy_id", parent, "policy_id")
    assert not r.passed and r.failed_count == 1  # P9 orphan; NULL ignored
    rc = q.row_count_range(child, 1, 10)
    assert rc.passed and rc.total_count == 3


def test_results_df_schema(spark):
    results = q.run_checks(_df(spark), [q.not_null("policy_id")], "t")
    df = q.results_df(spark, results)
    assert df.schema == q.RESULT_SCHEMA
    assert df.count() == 1


def test_validate_schema_and_drift(spark):
    df = spark.createDataFrame([("a", 1)], "x string, y int")
    expected = T.StructType([
        T.StructField("x", T.StringType()),
        T.StructField("y", T.LongType()),
        T.StructField("z", T.DoubleType()),
    ])
    v = q.validate_schema(df, expected)
    assert not v.is_valid
    assert v.missing_columns == ["z"]
    assert v.type_mismatches == [("y", "LongType()", "IntegerType()")]

    other = spark.createDataFrame([("a", 1, "m")],
                                  "x string, y int, _meta string")
    drift = q.compare_schemas(df, other)
    assert drift.is_valid  # _meta ignored like the recon harness


def test_quarantine_splits_and_labels(spark):
    from redshift_to_lakehouse_migration_spark.quality import (
        accepted_values, in_range, not_null, quarantine, unique,
    )
    df = spark.createDataFrame(
        [("a", "ACTIVE", 10.0), (None, "ACTIVE", 5.0),
         ("c", "BOGUS", -2.0), ("d", "EXPIRED", 1.0)],
        "id string, status string, amount double")
    checks = [not_null("id"),
              accepted_values("status", ["ACTIVE", "EXPIRED"]),
              in_range("amount", min_value=0),
              unique("id")]          # set-level: ignored by quarantine
    clean, bad = quarantine(df, checks)
    assert {r.id for r in clean.collect()} == {"a", "d"}
    labels = {r.id: sorted(r._failed_checks) for r in bad.collect()}
    assert labels[None] == ["not_null_id"]
    assert labels["c"] == ["accepted_values_status", "in_range_amount"]


def test_quarantine_no_row_checks(spark):
    from redshift_to_lakehouse_migration_spark.quality import (
        quarantine, unique,
    )
    df = spark.createDataFrame([("a",), ("a",)], "id string")
    clean, bad = quarantine(df, [unique("id")])
    assert clean.count() == 2 and bad.count() == 0


def test_unique_counts_null_duplicates(spark):
    """Reference parity (`check_unique`: df.count() − distinct().count()):
    NULL is one distinct value, so duplicate NULLs ARE uniqueness
    failures — a count(col)−countDistinct(col) form would skip them."""
    df = spark.createDataFrame(
        [(None,), (None,), (None,), ("K1",), ("K2",)], "k string")
    r = q.run_checks(df, [q.unique("k")])[0]
    assert not r.passed and r.failed_count == 2  # 3 NULLs → 2 duplicates
    ok = q.run_checks(
        spark.createDataFrame([("K1",), (None,)], "k string"),
        [q.unique("k")])[0]
    assert ok.passed and ok.failed_count == 0


def test_composite_unique_no_encoding_collisions(spark):
    """Struct-distinct semantics: a NULL field vs a literal sentinel
    string, and separator bytes inside values, are DISTINCT keys (the
    old string-encoded key collapsed both into false duplicates)."""
    df = spark.createDataFrame(
        [("a", None), ("a", "_null_"),          # NULL vs sentinel string
         ("b\x1fc", "d"), ("b", "c\x1fd")],     # separator inside value
        "c1 string, c2 string")
    r = q.run_checks(df, [q.composite_unique(["c1", "c2"])])[0]
    assert r.passed and r.failed_count == 0
    dup = spark.createDataFrame(
        [("a", None), ("a", None)], "c1 string, c2 string")
    r2 = q.run_checks(dup, [q.composite_unique(["c1", "c2"])])[0]
    assert not r2.passed and r2.failed_count == 1


def test_relationships_default_is_size_checked(spark, sf_dir):
    """VERDICT r9 #3: the RI check may not hint unconditionally —
    ``F.broadcast`` bypasses the size check, so the old default deferred
    an OOM to whenever a caller checked fact↔fact RI at scale. With the
    session broadcast budget exhausted (threshold -1), a corpus-table
    reference must produce a plan with NO broadcast hint (the shuffled
    anti-join is the graceful path) and still the right result; with a
    healthy budget and a measured-tiny reference, the hint fires and the
    plan audit SEES it (the invariant now covers the quality entry
    point)."""
    from redshift_to_lakehouse_migration_spark.tables import load
    from tools.plan_audit import broadcast_hint_corpus_scans

    orders = load(spark, sf_dir, "orders")
    facts = load(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey")

    _saved_abjt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orphans = q._orphans(facts, "o_orderkey", orders, "o_orderkey")
        # size-checked default under a zero budget: no hint anywhere
        assert broadcast_hint_corpus_scans(orphans) == []
        plan = orphans._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan and "LeftAnti" in plan
        # the shuffled anti-join still gives the right (empty) orphan set
        assert orphans.count() == 0
        assert q.check_relationships(facts, "o_orderkey", orders,
                                     "o_orderkey").passed
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _saved_abjt)

    # healthy budget + measured-tiny reference: the hint fires, and the
    # audit walker reports the hinted corpus scan (declared-by-measurement)
    orphans = q._orphans(facts, "o_orderkey", orders, "o_orderkey")
    assert broadcast_hint_corpus_scans(orphans) == [["orders"]]


def test_relationships_over_budget_ref_is_not_hinted(spark, sf_dir):
    """A reference whose estimate exceeds a live (non-disabled) budget
    gets no broadcast hint: under a 1k budget the corpus ``orders`` scan
    is over it, so the anti-join stays shuffled — Spark would not
    auto-broadcast it either — and the orphan set is still right."""
    from redshift_to_lakehouse_migration_spark.tables import (
        _estimated_bytes, load)
    from tools.plan_audit import broadcast_hint_corpus_scans

    orders = load(spark, sf_dir, "orders")
    facts = load(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey")
    assert _estimated_bytes(orders) > 1024

    _saved_abjt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1k")
    try:
        orphans = q._orphans(facts, "o_orderkey", orders, "o_orderkey")
        assert broadcast_hint_corpus_scans(orphans) == []
        plan = orphans._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan and "LeftAnti" in plan
        assert orphans.count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _saved_abjt)
