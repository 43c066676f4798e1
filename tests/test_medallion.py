"""End-to-end medallion pipeline test: generated dirty CSVs → bronze ingest
→ silver clean+validate → gold dims/facts + SCD2, all in one SparkSession
via the DAG runner (the reference's bronze→silver→gold workflow,
`databricks.yml:131-224`, collapsed in-session)."""

from __future__ import annotations

import pytest

from redshift_to_lakehouse_migration_spark import datagen
from redshift_to_lakehouse_migration_spark.medallion import silver
from redshift_to_lakehouse_migration_spark.medallion.flow import (
    build_medallion_pipeline,
)
from redshift_to_lakehouse_migration_spark.scd2 import scd2_merge
from tests.conftest import SF_SMOKE

AS_OF = "2024-06-01"


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("raw")
    counts = datagen.generate(str(d), n_policies=120, seed=42)
    assert counts["policies"] == 121  # incl. dirty empty-id row
    return d


@pytest.fixture(scope="module")
def pipeline_outputs(spark, raw_dir, tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("warehouse")
    p = build_medallion_pipeline(spark, raw_dir, warehouse, AS_OF)
    outputs, runs = p.run(count_rows=True)
    return outputs, runs, warehouse


def test_bronze_metadata_and_counts(pipeline_outputs):
    outputs, runs, _ = pipeline_outputs
    bp = outputs["bronze_policies"]
    assert {"_ingestion_timestamp", "_source_file", "_batch_id"} <= \
        set(bp.columns)
    assert bp.count() == 121


def test_silver_filters_dirty_rows(pipeline_outputs):
    outputs, _, _ = pipeline_outputs
    sp = outputs["silver_policies"]
    assert sp.count() == 120          # empty-id row dropped
    row = sp.filter("policy_id = 'POL-0000000'").collect()[0]
    assert row.policyholder_name == "John Smith"   # trimmed + concat
    assert row.status == "ACTIVE"                  # upper∘trim
    assert row.email == "john@test.com"
    ho5 = sp.filter("policy_id = 'POL-0000001'").collect()[0]
    assert ho5.coverage_type_code == "HO5"         # uppercased


def test_silver_validation_fused(pipeline_outputs, spark):
    outputs, _, _ = pipeline_outputs
    results = silver.validate_policies(outputs["silver_policies"])
    assert all(r.passed for r in results)
    cl = silver.validate_claims(outputs["silver_claims"])
    assert {r.check_name: r.passed for r in cl}["unique_claim_id"]


def test_gold_dim_policy(pipeline_outputs):
    outputs, _, _ = pipeline_outputs
    dp = outputs["dim_policy"]
    assert dp.filter("is_current").count() == 120
    row = dp.filter("policy_id = 'POL-0000000'").collect()[0]
    assert row.policy_term_days == 365
    assert row.status_category == "IN_FORCE"
    assert len(row.policy_sk) == 32


def test_gold_fact_claims_partitioned(pipeline_outputs):
    outputs, runs, warehouse = pipeline_outputs
    fc = outputs["fact_claims"]
    # orphan claim (POL-9999999) dropped by the inner enrichment join
    assert fc.filter("policy_id = 'POL-9999999'").count() == 0
    assert fc.filter("net_claim_payout > claim_amount").count() == 0
    # partitioned layout on disk (gold/fact_claims.py:99-104)
    parts = [x.name for x in (warehouse / "fact_claims").iterdir()
             if x.name.startswith("property_state=")]
    assert len(parts) > 1


def test_gold_fact_premiums_flags(pipeline_outputs):
    outputs, _, _ = pipeline_outputs
    fp = outputs["fact_premiums"]
    bad = fp.filter("is_late AND days_late <= 0").count()
    assert bad == 0
    collected = fp.filter("payment_status <> 'COMPLETED' "
                          "AND collected_amount <> 0").count()
    assert collected == 0


def test_scd2_roundtrip_on_dim_policy(pipeline_outputs, spark):
    outputs, _, _ = pipeline_outputs
    dim = outputs["dim_policy"]
    payload = [c for c in dim.columns
               if c not in ("effective_start_date", "effective_end_date",
                            "is_current")]
    from pyspark.sql import functions as F
    updates = (dim.filter("policy_id = 'POL-0000005'").select(payload)
               .withColumn("status", F.lit("SUSPENDED"))
               .withColumn("status_category", F.lit("OTHER")))
    out = scd2_merge(dim, updates, ["policy_id"],
                     ["status", "annual_premium"], "2024-07-01")
    versions = out.filter("policy_id = 'POL-0000005'").collect()
    assert len(versions) == 2
    cur = [v for v in versions if v.is_current][0]
    assert cur.status == "SUSPENDED"
    assert out.count() == dim.count() + 1


def test_parallel_dag_run_matches_serial(spark, raw_dir, tmp_path_factory,
                                         pipeline_outputs):
    """max_workers>1 (the reference's parallel workflow tasks) must produce
    identical layer outputs."""
    serial_outputs, _, _ = pipeline_outputs
    warehouse = tmp_path_factory.mktemp("warehouse_par")
    p = build_medallion_pipeline(spark, raw_dir, warehouse, AS_OF)
    par_outputs, runs = p.run(max_workers=4)
    assert set(par_outputs) == set(serial_outputs)
    for name in ("bronze_policies", "silver_policies", "dim_policy",
                 "fact_claims", "fact_premiums"):
        assert par_outputs[name].count() == serial_outputs[name].count(), name


def test_jsonl_roundtrip_with_explicit_schema(spark, tmp_path):
    """JSONL source/sink: schema applied without inference, values
    survive a write→read roundtrip, malformed lines quarantine instead
    of failing (S1/S11 discipline on the corpus interchange format)."""
    from pyspark.sql import types as T
    from redshift_to_lakehouse_migration_spark.medallion.bronze import read_jsonl, write_jsonl
    from redshift_to_lakehouse_migration_spark.tables import load

    docs = load(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    # Spark disallows filtering ONLY the corrupt column on a raw JSON
    # scan; cache() is the documented workaround
    back = read_jsonl(spark, path, schema).cache()
    assert back.schema["doc_id"].dataType == T.LongType()
    assert back.filter("_corrupt_record IS NOT NULL").count() == 0
    a = {tuple(r) for r in docs.select("doc_id", "lang", "n_chars").collect()}
    b = {tuple(r) for r in back.select("doc_id", "lang", "n_chars").collect()}
    assert a == b

    # malformed line -> quarantined row, not a failed read
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"doc_id": 1, "text": "ok"}\nNOT JSON\n')
    q = read_jsonl(spark, str(bad), schema).cache()
    assert q.filter("_corrupt_record IS NOT NULL").count() == 1
    assert q.filter("_corrupt_record IS NULL").count() == 1


def test_pipeline_rejects_undeclared_dep(spark):
    """An undeclared dep name must raise the intended ValueError, not a
    bare KeyError from the sorter's implicitly-created node."""
    import pytest

    from redshift_to_lakehouse_migration_spark.pipeline import Pipeline

    p = Pipeline(spark)
    p.add("a", lambda s, typo: typo, deps=["typo"])
    with pytest.raises(ValueError, match="undeclared dependency"):
        p.run()
    with pytest.raises(ValueError, match="undeclared dependency"):
        p.run(max_workers=4)


def test_datagen_tiny_run_with_no_claims(tmp_path):
    """Claims are probabilistic (~15%/policy): a tiny dirty run that
    rolls zero claims must still write a header-only claims CSV instead
    of crashing."""
    from redshift_to_lakehouse_migration_spark.datagen import generate

    for seed in range(60):  # find a seed that generates zero claims
        out = tmp_path / f"g{seed}"
        counts = generate(str(out), n_policies=3, seed=seed, dirty=True)
        header = (out / "raw_claims.csv").read_text().splitlines()[0]
        assert "claim_id" in header
        if counts["claims"] == 0:
            break
    else:
        raise AssertionError("no zero-claim seed in 60 tries — "
                             "probability model changed?")


def test_bronze_rerun_gets_fresh_batch_id(spark, tmp_path):
    """Re-running the DAG against an existing warehouse appends a NEW
    _batch_id (max+1) — duplicates stay identifiable and rollbackable."""
    from pyspark.sql import functions as F

    from redshift_to_lakehouse_migration_spark.datagen import generate
    from redshift_to_lakehouse_migration_spark.medallion.flow import (
        build_medallion_pipeline,
    )

    raw = tmp_path / "raw"
    generate(str(raw), n_policies=20, seed=3, dirty=False)
    wh = tmp_path / "wh"
    build_medallion_pipeline(spark, str(raw), str(wh), "2024-06-01").run()
    build_medallion_pipeline(spark, str(raw), str(wh), "2024-06-01").run()
    ids = [r[0] for r in spark.read.parquet(str(wh / "bronze_policies"))
           .select("_batch_id").distinct().orderBy("_batch_id").collect()]
    assert ids == [1, 2]


def test_bronze_rerun_schema_drift_propagates(spark, tmp_path):
    """A readable bronze dir WITHOUT _batch_id (schema drift / foreign
    data) must raise, not silently restart at batch 1 and append the
    ambiguity the max+1 probe exists to prevent (ADVICE r5: only
    PATH_NOT_FOUND means first run)."""
    import pytest
    from pyspark.errors import AnalysisException

    from redshift_to_lakehouse_migration_spark.datagen import generate
    from redshift_to_lakehouse_migration_spark.medallion.flow import (
        build_medallion_pipeline,
    )

    raw = tmp_path / "raw"
    generate(str(raw), n_policies=20, seed=3, dirty=False)
    wh = tmp_path / "wh"
    # pre-existing bronze_policies dir that is valid parquet but not ours
    spark.range(5).write.parquet(str(wh / "bronze_policies"))
    with pytest.raises(AnalysisException):
        build_medallion_pipeline(spark, str(raw), str(wh),
                                 "2024-06-01").run()


def test_fact_claims_null_approved_amount_reference_semantics(spark):
    """Reference parity (`fact_claims.py:55-56`): the cap applies to
    CLAIM amount; a NULL approved_amount yields a NULL payout — never a
    coverage-limit-sized one (F.least skips NULLs, so capping approved
    would pay out the limit on an unadjudicated claim)."""
    from redshift_to_lakehouse_migration_spark.medallion.gold import (
        build_fact_claims,
    )

    claims = spark.createDataFrame(
        [("C1", "P1", None, 1000.0, 100.0),
         ("C2", "P1", 900000.0, 900000.0, 100.0)],
        "claim_id string, policy_id string, approved_amount double, "
        "claim_amount double, deductible_applied double") \
        .selectExpr("*", "date'2024-01-01' claim_date",
                    "date'2024-01-02' reported_date",
                    "cast(null as date) closed_date",
                    "'WIND' claim_type", "'OPEN' claim_status",
                    "'STORM' cause_of_loss")
    policies = spark.createDataFrame(
        [("P1", "PR1", "HO3", 1200.0, 500.0, 500000.0, "AG1")],
        "policy_id string, property_id string, coverage_type_code string, "
        "annual_premium double, deductible double, coverage_limit double, "
        "agent_id string")
    props = spark.createDataFrame(
        [("PR1", "FL", "Dade", "FRAME", "AE")],
        "property_id string, state string, county string, "
        "construction_type string, flood_zone string")
    rows = {r.claim_id: r
            for r in build_fact_claims(claims, policies, props).collect()}
    assert rows["C1"].net_claim_payout is None          # NULL stays NULL
    assert rows["C1"].capped_claim_amount == 1000.0     # claim < limit
    assert rows["C2"].capped_claim_amount == 500000.0   # capped at limit
    assert rows["C2"].net_claim_payout == 900000.0 - 100.0


def test_corrupt_schema_idempotent(spark):
    """corrupt_schema on a schema that already carries _corrupt_record
    (e.g. derived from an already-ingested bronze table on a schema-
    evolution restart) must not append a duplicate column (ADVICE r6)."""
    from pyspark.sql import types as T

    from redshift_to_lakehouse_migration_spark.medallion.bronze import (
        corrupt_schema,
    )

    base = T.StructType([T.StructField("id", T.LongType()),
                         T.StructField("name", T.StringType())])
    once = corrupt_schema(base)
    assert [f.name for f in once.fields] == ["id", "name", "_corrupt_record"]
    twice = corrupt_schema(once)
    assert [f.name for f in twice.fields] == ["id", "name", "_corrupt_record"]
    # DDL round-trip (the streaming restart path) is idempotent too, and
    # the input StructType is never mutated
    ddl = ",".join(f"{f.name} {f.dataType.simpleString()}"
                   for f in once.fields)
    via_ddl = corrupt_schema(ddl)
    assert [f.name for f in via_ddl.fields] == ["id", "name",
                                                "_corrupt_record"]
    assert len(base.fields) == 2


def test_silver_casts_evaluate_once_in_plan(spark):
    """Single-evaluation discipline (VERDICT r6 #3): each raw-edge
    try_cast must appear exactly ONCE in the optimized plan — the
    _cast_errors column reads the already-projected typed columns, not a
    second copy of the cast.  Structural (two Project nodes), not a
    codegen-CSE heuristic."""
    import re

    from redshift_to_lakehouse_migration_spark import schemas as S
    from redshift_to_lakehouse_migration_spark.medallion import silver

    for schema, fn, probes in (
            (S.RAW_POLICIES, silver.transform_policies,
             ("effective_date", "annual_premium", "updated_at")),
            (S.RAW_CLAIMS, silver.transform_claims,
             ("claim_date", "claim_amount")),
            (S.RAW_PREMIUMS, silver.transform_premiums,
             ("payment_date", "amount")),
            (S.RAW_PROPERTIES, silver.transform_properties,
             ("latitude", "property_value")),
    ):
        raw = spark.createDataFrame([], schema)
        plan = fn(raw)._jdf.queryExecution().optimizedPlan().toString()
        for col in probes:
            n = len(re.findall(rf"try_cast\({col}#\d+ as", plan))
            assert n == 1, (fn.__name__, col, n)


def test_fact_claims_bucketed_join_no_exchange(pipeline_outputs, spark):
    """The declared 100-TB path (SCALE.md trade-off #3): fact_claims over
    policy_id-bucketed silver tables must join claims⋈policies with ZERO
    hash exchange — the bucketed layout IS the shuffle, paid once at
    silver write time instead of on every gold rebuild. Broadcasts are
    disabled to simulate the scale where neither side fits the threshold;
    the result must equal the plain build exactly."""
    from pyspark.sql import functions as F

    from redshift_to_lakehouse_migration_spark.medallion.gold import (
        build_fact_claims, build_fact_claims_bucketed)

    outputs, _, _ = pipeline_outputs
    claims = outputs["silver_claims"]
    policies = outputs["silver_policies"]
    properties = outputs["silver_properties"]

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fc = build_fact_claims_bucketed(
            spark, claims, policies, properties, n_buckets=4,
            table_prefix="test_fcb_")
        plan = fc._jdf.queryExecution().executedPlan().toString()
        # claims⋈policies co-located on the bucketed layout: zero hash
        # exchange on the policy_id join key. The later properties join
        # keys on property_id (bucket-incompatible) and is ALLOWED its
        # exchange — that is the one shuffle a 100-TB rebuild still pays.
        assert "Exchange hashpartitioning(policy_id" not in plan
        assert "SortMergeJoin [policy_id" in plan
        # and the bucketing strictly reduces total exchanges vs plain
        plain = build_fact_claims(claims, policies, properties)
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") < \
            plain_plan.count("Exchange hashpartitioning")
        # identical results to the plain (shuffling) build
        assert fc.count() == plain.count()
        assert fc.exceptAll(plain).count() == 0
        assert plain.exceptAll(fc).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS test_fcb_claims")
        spark.sql("DROP TABLE IF EXISTS test_fcb_policies")


def test_fact_claims_auto_chooser_is_size_checked(pipeline_outputs, spark):
    """VERDICT r10 #5: the measured bucketed-gold economics (SCALE.md #3)
    as an automatic size-checked policy. Below the broadcast budget the
    chooser must take the PLAIN build (policies broadcasts; bucketing
    would only add a table write); with the budget exhausted (threshold
    -1, the synthetic stand-in for policies outgrowing it) it must take
    the BUCKETED build — bucketed tables exist and the claims⋈policies
    join runs with zero hash exchange on policy_id."""
    from redshift_to_lakehouse_migration_spark.medallion.gold import (
        build_fact_claims_auto)

    outputs, _, _ = pipeline_outputs
    claims = outputs["silver_claims"]
    policies = outputs["silver_policies"]
    properties = outputs["silver_properties"]

    def tables(prefix):
        return [t.name for t in spark.catalog.listTables()
                if t.name.startswith(prefix)]

    # healthy budget, dimension-sized policies: plain (BHJ, no tables)
    fc = build_fact_claims_auto(spark, claims, policies, properties,
                                n_buckets=4, table_prefix="test_auto_")
    try:
        plan = fc._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert tables("test_auto_") == []

        # budget exhausted: the bucketed path, exchange-free on policy_id
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            fcb = build_fact_claims_auto(
                spark, claims, policies, properties,
                n_buckets=4, table_prefix="test_auto_")
            assert sorted(tables("test_auto_")) == [
                "test_auto_claims", "test_auto_policies"]
            bplan = fcb._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning(policy_id" not in bplan
            assert "SortMergeJoin [policy_id" in bplan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS test_auto_claims")
        spark.sql("DROP TABLE IF EXISTS test_auto_policies")


def test_gold_builders_hint_disciplined(pipeline_outputs, spark):
    """The registry-level hint invariant (tests/test_plans.py) cannot see
    the medallion gold builders, which the r8 verdict listed in the same
    OOM class — policies / premium_summary / properties are
    corpus-proportional, so no broadcast hint may cover them. Build each
    gold frame over the pipeline's silver outputs and assert zero
    corpus-scanning hints in the analyzed plans."""
    from redshift_to_lakehouse_migration_spark.medallion.gold import (
        build_dim_policy, build_fact_claims, build_fact_premiums,
        build_premium_summary)
    from tools.plan_audit import broadcast_hint_corpus_scans

    outputs, _, _ = pipeline_outputs
    ps = build_premium_summary(outputs["silver_premiums"])
    frames = {
        "dim_policy": build_dim_policy(
            outputs["silver_policies"], ps, AS_OF),
        "fact_claims": build_fact_claims(
            outputs["silver_claims"], outputs["silver_policies"],
            outputs["silver_properties"]),
        "fact_premiums": build_fact_premiums(
            outputs["silver_premiums"], outputs["silver_policies"]),
    }
    for name, df in frames.items():
        assert broadcast_hint_corpus_scans(df) == [], name


def test_flow_fact_claims_goes_through_auto_chooser(
        spark, raw_dir, tmp_path_factory, monkeypatch):
    """VERDICT r11 #2: the registered flow's fact_claims node must route
    through the size-checked chooser (``build_fact_claims_auto``) — the
    r10-directed bucketed-gold policy was dead code while flow.py called
    the plain build directly. At this fixture's 120 policies the estimate
    is far below the broadcast cap, so the chooser must take the PLAIN
    path (no bucketed tables persisted) and the published fact is
    byte-identical to the plain build's."""
    from redshift_to_lakehouse_migration_spark.medallion import gold

    calls: dict[str, bool] = {}
    real = gold.build_fact_claims_auto

    def spy(s, claims, policies, properties, **kw):
        calls["hit"] = True
        return real(s, claims, policies, properties, **kw)

    monkeypatch.setattr(gold, "build_fact_claims_auto", spy)
    warehouse = tmp_path_factory.mktemp("warehouse_auto")
    p = build_medallion_pipeline(spark, raw_dir, warehouse, AS_OF)
    outputs, _ = p.run()
    assert calls.get("hit"), "flow's fact_claims node bypassed the chooser"
    # plain path chosen below the cap: no bucketed silver tables persisted
    assert [t.name for t in spark.catalog.listTables()
            if t.name.startswith("silver_bucketed_")] == []
    # and the published rows equal the plain build over the same silvers
    plain = gold.build_fact_claims(
        outputs["silver_claims"], outputs["silver_policies"],
        outputs["silver_properties"])
    # column-align: the partitioned parquet read-back reorders columns
    got = sorted(map(tuple,
                     outputs["fact_claims"].select(*plain.columns).collect()))
    want = sorted(map(tuple, plain.collect()))
    assert got == want
