"""Physical-plan shape assertions (SURVEY §4): the optimizations we rely on
must actually appear in the executed plans — predicate pushdown into the
parquet scan, column pruning (ReadSchema), broadcast joins for dimension
sides, and no Python row-UDFs in core query plans (whole-stage codegen)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redshift_to_lakehouse_migration_spark.llm.dedup import (
    materialize_minhash, minhash_lsh_pairs, minhash_pairs_from_tables,
    simhash_near_pairs, simhash_signatures)
from redshift_to_lakehouse_migration_spark.llm.pipeline import funnel
from redshift_to_lakehouse_migration_spark.llm.similarity import (
    cosine_near_pairs, lsh_assign)
from redshift_to_lakehouse_migration_spark.queries import QUERIES
from redshift_to_lakehouse_migration_spark.queries.curation import (
    contamination_check)
from redshift_to_lakehouse_migration_spark.queries.llm_similarity import (
    PROJECTIONS)
from redshift_to_lakehouse_migration_spark.tables import load
from tests.conftest import SF_SMOKE as SF


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_filter_pushed_to_scan(spark):
    """stg_lineitem's quantity>0 filter must reach the parquet scan."""
    plan = _formatted(spark, "stg_lineitem")
    assert "PushedFilters:" in plan
    assert "GreaterThan(l_quantity" in plan


def test_column_pruning(spark):
    """order_status_histogram reads 1 column, not all 6."""
    plan = _formatted(spark, "order_status_histogram")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "o_orderstatus" in read[0]
    assert "o_totalprice" not in read[0]
    assert "o_orderdate" not in read[0]


def test_fact_join_broadcasts_dimensions(spark):
    """fact_lineitem: customer and nation sides must be broadcast — the
    fact side must never shuffle for dimension joins."""
    plan = _plan(spark, "fact_lineitem")
    assert plan.count("BroadcastHashJoin") >= 2


def test_dim_customer_broadcasts(spark):
    plan = _plan(spark, "dim_customer")
    assert "BroadcastHashJoin" in plan


def test_whole_stage_codegen_in_core_queries(spark):
    """Core relational queries stay fully JVM-side (no Python eval nodes)
    and compile to whole-stage-codegen spans. AQE only reveals the final
    physical plan after execution, so run each query first; codegen spans
    appear as ``*(n)`` stage markers in the simple explain."""
    for name in ("fact_lineitem", "agg_pricing_summary", "dim_customer",
                 "stg_orders", "top_customers_by_revenue"):
        df = QUERIES[name](spark, SF)
        df.collect()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple")
        # AQE leaves exchange-free plans unwrapped; either way the simple
        # explain marks codegen spans with ``*(n)``.
        assert "*(" in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_only_multimodal_stub_uses_python(spark):
    """The decode stub is the ONLY Arrow-Python operator in the suite."""
    for name, fn in QUERIES.items():
        plan = _plan(spark, name)
        if name == "media_decode_stub":
            assert "MapInPandas" in plan
        else:
            assert "BatchEvalPython" not in plan, name


def test_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """State-partitioned fact: a state filter must prune partitions at plan
    time (PartitionFilters), reference `gold/fact_claims.py:99-104`."""
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("state"))
    path = str(tmp_path / "fact")
    df.write.partitionBy("state").parquet(path)
    q = spark.read.parquet(path).filter(F.col("state") == "1")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "state" in plan
    # only one of four partition directories is scanned — the plan must
    # carry a real PartitionFilters entry on the state column (an
    # `or "state#" in scan` fallback would be vacuously true for ANY
    # plan touching the column, silencing a pruning regression)
    scan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(state" in scan
    files = q.select(F.input_file_name().alias("f")).distinct().collect()
    assert all("state=1" in r.f for r in files)


def test_knn_probe_and_centroid_sides_broadcast(spark):
    """The bounded side (probe set / centroid set) must broadcast so the
    corpus side streams without a shuffle."""
    for name in ("knn_bruteforce", "knn_ivf"):
        plan = _plan(spark, name)
        assert "BroadcastExchange" in plan, name


def test_tpch_join_pipelines_broadcast_dimensions(spark):
    """Q5's five-way join: every dimension side (region/nation/customer/
    supplier) broadcasts, so the lineitem stream shuffles only for the
    final nation aggregate."""
    plan = _plan(spark, "q5_region_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q10_selective_filters_pushed(spark):
    """Q10's returnflag and order-date predicates must reach the scans."""
    plan = _formatted(spark, "q10_returned_items")
    assert "EqualTo(l_returnflag,R)" in plan
    assert "o_orderdate" in plan and "PushedFilters:" in plan


def test_contamination_benchmark_side_broadcasts(spark):
    """The benchmark gram set is dim-sized by construction; the corpus
    side must stream against a broadcast, never a shuffled join."""
    plan = _plan(spark, "contamination_check")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_stratified_sample_is_map_side_only(spark):
    """Deterministic md5-prefix sampling is a pure filter: no hash
    exchange may appear (the only exchange is the output sort)."""
    plan = _plan(spark, "sample_stratified")
    assert "Exchange hashpartitioning" not in plan


def test_no_cartesian_in_scale_paths(spark):
    """Every near-dup / ANN candidate join must be an equality join on a
    band/bucket key — a CartesianProduct or nested-loop join here means
    the operator went quadratic and would never survive 100 TB."""
    for name in ("dedup_minhash_lsh", "dedup_simhash_pairs",
                 "dedup_ngram_jaccard", "dedup_embedding_cosine",
                 "knn_lsh_bucketed"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def _lsh_assigned(spark):
    return lsh_assign(load(spark, SF, "embeddings"), "vec_id", "embedding",
                      PROJECTIONS)


def _checkpointed_tables(df) -> set[int]:
    """Distinct checkpointed tables (LogicalRDD leaves, by RDD id) in the
    optimized plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return {leaves.apply(i).rdd().id() for i in range(leaves.size())
            if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"}


@pytest.mark.parametrize("build, n_tables", [
    # the capped shingle_blocks table
    (lambda spark: QUERIES["dedup_ngram_jaccard"](spark, SF), 1),
    (lambda spark: minhash_lsh_pairs(load(spark, SF, "documents"),
                                     "doc_id", "text"),
     2),  # shingle table + band table
    (lambda spark: contamination_check(spark, SF), 1),  # gram arrays
    # the exact_dedup and decontaminated stages + the connected-components
    # label table (the shingle_blocks checkpoint sits under the
    # components' eager checkpoint)
    (lambda spark: funnel(load(spark, SF, "documents")), 3),
    (lambda spark: simhash_near_pairs(simhash_signatures(
        load(spark, SF, "documents"), "doc_id", "text")),
     1),  # the stacked band table
    (lambda spark: cosine_near_pairs(_lsh_assigned(spark), 0.35,
                                     bucket_cap=512),
     1),  # the capped embedding band table
], ids=["dedup_ngram_jaccard", "minhash_lsh_pairs", "contamination_check",
        "funnel", "simhash_near_pairs", "cosine_near_pairs_capped"])
def test_multi_consumer_inputs_are_checkpointed(spark, build, n_tables):
    """Each of these plans reads one expensive derived table 3+ times; the
    localCheckpoint keeps the scan→normalize→shingle/gram subtree from
    re-running per consumer. Counts the distinct checkpointed tables
    (LogicalRDD leaves, by RDD id) in the optimized plan, so a dropped
    checkpoint fails here even though results stay identical."""
    assert len(_checkpointed_tables(build(spark))) >= n_tables


def test_cheap_or_parquet_band_tables_are_not_checkpointed(spark, tmp_path):
    """The other side of the producers' checkpoint decision: the uncapped
    embedding path reads its band projection from just the two self-join
    sides, and `minhash_pairs_from_tables` reads parquet, so neither plan
    may hold a checkpointed table (non-replicated blocks for nothing)."""
    paths = materialize_minhash(load(spark, SF, "documents"), "doc_id",
                                "text", str(tmp_path))
    for df in (cosine_near_pairs(_lsh_assigned(spark), 0.35,
                                 bucket_cap=None),
               minhash_pairs_from_tables(spark, paths)):
        assert _checkpointed_tables(df) == set()


def test_no_undeclared_corpus_broadcast_hints(spark):
    """Hint-discipline invariant (the r8 sf8.0 OOM class, CHANGES_r8 §9d):
    an ``F.broadcast`` hint bypasses autoBroadcastJoinThreshold, so a hint
    whose subtree scans a corpus-proportional table is a deferred OOM at
    100 TB. Every such hint must be declared in
    ``tools.plan_audit.DECLARED_BOUNDED_HINTS`` with its pinned per-hint
    scanned-table SIGNATURE — a new (or gained, or signature-swapped) one
    fails here instead of in next round's sf8 probe. The declarations are
    pinned against rot in BOTH directions: observed must equal declared
    as a multiset, so a query that silently LOSES a declared hint (even
    one of several) must update its declaration too."""
    from tools.plan_audit import (DECLARED_BOUNDED_HINTS,
                                  broadcast_hint_corpus_scans,
                                  missing_declared_hints,
                                  undeclared_hint_excess)
    for name, fn in QUERIES.items():
        hits = broadcast_hint_corpus_scans(fn(spark, SF))
        declared = DECLARED_BOUNDED_HINTS.get(name, ([],))[0]
        excess = undeclared_hint_excess(hits, declared)
        assert not excess, (
            f"{name}: corpus-scanning broadcast hint signature(s) {excess} "
            f"beyond the declared {declared} — drop the hint (let the "
            "size-checked threshold path pick the join) or, if the "
            "subtree is genuinely corpus-independent, declare its exact "
            "scanned-table signature")
        missing = missing_declared_hints(hits, declared)
        assert not missing, (
            f"{name}: declared hint signature(s) {missing} no longer in "
            f"the plan (observed {hits}) — update DECLARED_BOUNDED_HINTS "
            "so the allowlist matches what actually runs")


def test_corpus_chain_broadcast_hints_are_declared(spark):
    """The stage chain behind ``corpus_funnel`` and ``run_corpus_pipeline``
    keeps its stages behind checkpoints or parquet read-backs, which the
    per-query audit above cannot walk into. Audited with every stage
    lazy, its hints must equal ``DECLARED_CHAIN_HINTS`` as a multiset."""
    from tools.plan_audit import DECLARED_CHAIN_HINTS, corpus_chain_hint_scans
    hits = corpus_chain_hint_scans(load(spark, SF, "documents"))
    assert sorted(hits) == sorted(DECLARED_CHAIN_HINTS[0]), (
        f"corpus stage chain hint signature {hits} != declared "
        f"{DECLARED_CHAIN_HINTS[0]} — drop the hint or update "
        "DECLARED_CHAIN_HINTS with a re-verifiable reason")


def test_rehinted_corpus_join_flags(spark):
    """A deliberately re-hinted corpus-proportional broadcast must flag
    (the regression the invariant exists to catch), while the same join
    hinted on a fixed-cardinality dim must not."""
    from tools.plan_audit import broadcast_hint_corpus_scans

    o = load(spark, SF, "orders")
    c = load(spark, SF, "customer")
    n = load(spark, SF, "nation")
    bad = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    assert broadcast_hint_corpus_scans(bad) == [["customer"]]
    ok = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert broadcast_hint_corpus_scans(ok) == []
    # a bounded REDUCTION of a corpus table still reports its scan — it
    # passes only by declaration, never silently
    one_row = o.groupBy().agg(F.count("*").alias("n"))
    assert broadcast_hint_corpus_scans(
        c.crossJoin(F.broadcast(one_row))) == [["orders"]]


def test_hint_signature_swap_flags():
    """ADVICE r9: a count-only declaration let a query swap a bounded-side
    hint for a DIFFERENT corpus-proportional one at the same count. The
    signature multiset must catch the swap, extra hints, and respect
    multiplicity in both directions."""
    from tools.plan_audit import undeclared_hint_excess

    # same count, different table — the exact hole being closed
    assert undeclared_hint_excess(
        [["customer"]], [["embeddings"]]) == [["customer"]]
    # one more hint of a declared signature still flags
    assert undeclared_hint_excess(
        [["events"], ["events"]], [["events"]]) == [["events"]]
    # fewer hints than declared passes the EXCESS check by design; the
    # loss direction is a separate function, enforced per-query above
    assert undeclared_hint_excess([["events"]], [["events"], ["events"]]) == []
    from tools.plan_audit import missing_declared_hints
    assert missing_declared_hints(
        [["events"]], [["events"], ["events"]]) == [["events"]]
    assert missing_declared_hints([], [["documents"]]) == [["documents"]]
    assert missing_declared_hints([["events"]], [["events"]]) == []
    # multi-table signatures compare as a unit, order-normalized upstream
    assert undeclared_hint_excess(
        [["<leaf:LogicalRDD>", "embeddings"]],
        [["<leaf:LogicalRDD>", "embeddings"]]) == []
