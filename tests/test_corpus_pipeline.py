"""End-to-end corpus-prep pipeline (llm/pipeline.py).

The lazy funnel query is oracle-checked in test_queries_oracle.py; here we
assert the MATERIALIZING runner produces the identical funnel (write →
read-back per stage must not change results), plus funnel monotonicity
and packing conservation on the sampled output.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redshift_to_lakehouse_migration_spark.llm import pipeline as P
from redshift_to_lakehouse_migration_spark.tables import load
from tests.conftest import SF_SMOKE as SF


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SF, "documents")


def test_runner_matches_lazy_funnel(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("corpus_out"))
    lazy = {(r.stage_id, r.stage, r.docs, r.tokens)
            for r in P.funnel(docs).collect()}
    ran = {(r.stage_id, r.stage, r.docs, r.tokens)
           for r in P.run_corpus_pipeline(spark, docs, out).collect()}
    assert lazy == ran


def test_funnel_is_monotone_nonincreasing(spark, docs):
    rows = sorted(P.funnel(docs).collect(), key=lambda r: r.stage_id)
    assert [r.stage for r in rows] == list(P.STAGES)
    for a, b in zip(rows, rows[1:]):
        assert b.docs <= a.docs, (a.stage, b.stage)
        assert b.tokens <= a.tokens, (a.stage, b.stage)
    assert rows[-1].docs > 0  # the pipeline keeps something


def test_packed_bins_conserve_sampled_tokens(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("corpus_out2"))
    P.run_corpus_pipeline(spark, docs, out)
    sampled = spark.read.parquet(f"{out}/sampled")
    packed = spark.read.parquet(f"{out}/packed_bins")
    assert (packed.agg(F.sum("bin_tokens")).collect()[0][0]
            == sampled.agg(F.sum("n_tokens")).collect()[0][0])
    assert (packed.agg(F.sum("docs_in_bin")).collect()[0][0]
            == sampled.count())


def test_runner_materializes_and_reads_shingle_blocks(spark, docs,
                                                      tmp_path_factory):
    """The near-dup stage must consume the WRITTEN signature table, not
    re-shingle the corpus: the pairs plan over the materialized table has
    to scan the shingle_blocks parquet (and, conversely, the runner must
    have written it)."""
    out = str(tmp_path_factory.mktemp("corpus_out3"))
    P.run_corpus_pipeline(spark, docs, out)
    shb = spark.read.parquet(f"{out}/shingle_blocks")
    assert set(shb.columns) == {"doc_id", "shingle", "block"}
    from redshift_to_lakehouse_migration_spark.llm.dedup import (
        jaccard_pairs_from_capped,
    )
    plan = jaccard_pairs_from_capped(shb, threshold=0.4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "shingle_blocks" in plan        # reads the signature parquet
    assert "documents" not in plan         # never rescans the corpus


def test_decontaminate_drops_exactly_the_contaminated_docs(spark, docs):
    """The corpus-prep stage and the ``contamination_check`` query apply
    one rule: among non-benchmark canonical docs, the stage drops exactly
    those the query flags — and at this SF the query flags some, so the
    agreement is not vacuous."""
    from redshift_to_lakehouse_migration_spark.queries.curation import (
        BENCH_MOD, contamination_check)
    raw = P.stage_raw(docs)
    canon = P.stage_exact_dedup(P.stage_gate(raw))
    corpus = {r.doc_id for r in canon.select("doc_id").collect()
              if r.doc_id % BENCH_MOD != 0}
    kept = {r.doc_id for r in
            P.stage_decontaminate(canon, raw).select("doc_id").collect()}
    flagged = {r.doc_id for r in contamination_check(spark, SF).collect()
               if r.contaminated}
    assert flagged & corpus
    assert kept <= corpus
    assert corpus - kept == flagged & corpus
