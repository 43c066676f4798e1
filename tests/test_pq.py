"""Product quantization (llm/pq.py): training/encoding/ADC invariants.

Synthetic gaussian embeddings are near-unquantizable, so recall targets
chance-relative bounds rather than production-grade absolutes; the
structural invariants (Lloyd descent, total valid encoding, deterministic
ranking) are the correctness contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from redshift_to_lakehouse_migration_spark.llm import pq
from redshift_to_lakehouse_migration_spark.tables import load
from tests.conftest import SF_SMOKE as SF

M, DIM = 4, 64


@pytest.fixture(scope="module")
def sub(spark):
    e = load(spark, SF, "embeddings")
    return pq.split_subvectors(e, "vec_id", "embedding", M, DIM).cache()


@pytest.fixture(scope="module")
def init(sub):
    seeds = sub.filter(F.col("vec_id") % 16 == 0)
    return seeds.select(
        "subspace",
        (F.row_number().over(W.partitionBy("subspace").orderBy("vec_id"))
         - 1).alias("code"),
        F.col("subvec").alias("centroid"))


def _qerr(sub, codebook):
    cb = codebook.select("subspace", "code",
                         F.col("centroid").alias("__c"))
    d = (sub.join(F.broadcast(cb), "subspace")
         .withColumn("__d", F.aggregate(
             F.zip_with("subvec", "__c", lambda x, y: (x - y) * (x - y)),
             F.lit(0.0), lambda a, v: a + v))
         .groupBy("vec_id", "subspace").agg(F.min("__d").alias("d")))
    return d.agg(F.sum("d")).collect()[0][0]


def test_lloyd_iterations_reduce_quantization_error(sub, init):
    e0 = _qerr(sub, init)
    cb1 = pq.train_codebook(sub, init, iters=1)
    e1 = _qerr(sub, cb1)
    cb2 = pq.train_codebook(sub, cb1, iters=1)
    e2 = _qerr(sub, cb2)
    assert e1 <= e0 + 1e-9
    assert e2 <= e1 + 1e-9


def test_every_vector_gets_full_valid_code(spark, sub, init):
    k = init.filter("subspace = 0").count()
    codes = pq.encode(sub, pq.train_codebook(sub, init, iters=1))
    n_vecs = load(spark, SF, "embeddings").count()
    assert codes.count() == n_vecs
    bad = codes.filter(
        (F.size("codes") != M)
        | F.exists("codes", lambda c: (c < 0) | (c >= k))).count()
    assert bad == 0


def test_adc_beats_chance_against_exact_baseline(spark, sub, init):
    from redshift_to_lakehouse_migration_spark.llm.similarity import cosine_topk
    e = load(spark, SF, "embeddings")
    cb = pq.train_codebook(sub, init, iters=1)
    codes = pq.encode(sub, cb)
    probes = sub.filter(F.col("vec_id") % 20 == 0)
    got = pq.adc_topk(codes, probes, cb, k=5).collect()
    exact = cosine_topk(e, e.filter(F.col("vec_id") % 20 == 0),
                        "vec_id", "embedding", k=5).collect()
    ex, ap = {}, {}
    for r in exact:
        ex.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in got:
        ap.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex]
    mean_recall = sum(recalls) / len(recalls)
    n = e.count()
    chance = 5 / (n - 1)
    assert mean_recall > 3 * chance, (mean_recall, chance)
    # every probe returns exactly k ranked candidates
    assert all(len(v) == 5 for v in ap.values())


def test_ivfpq_candidates_subset_and_ranked(spark, sub, init):
    """IVF-PQ: results must come only from the probe's IVF lists, carry
    ≤ k ranked rows per probe, and rank by ascending ADC distance."""
    from redshift_to_lakehouse_migration_spark.llm import pq as _pq
    from redshift_to_lakehouse_migration_spark.llm.similarity import ivf_assign
    e = load(spark, SF, "embeddings")
    coarse = e.filter(F.col("vec_id") % 16 == 0)
    lists = ivf_assign(e, coarse, "vec_id", "embedding",
                       "vec_id", "embedding", nprobe=1) \
        .select("vec_id", "centroid_id")
    probes = e.filter(F.col("vec_id") % 20 == 0)
    plists = ivf_assign(probes, coarse, "vec_id", "embedding",
                        "vec_id", "embedding", nprobe=2) \
        .select("vec_id", "centroid_id")
    cb = _pq.train_codebook(sub, init, iters=1)
    codes = _pq.encode(sub, cb)
    psub = sub.filter(F.col("vec_id") % 20 == 0)
    out = _pq.adc_topk_within_lists(codes, lists, psub, plists, cb, k=5)
    rows = out.collect()
    assert rows
    # subset-of-lists: every (query, neighbor) shares a probed centroid
    allowed = {(a.vec_id, b.vec_id)
               for a in plists.collect()
               for b in lists.collect()
               if a.centroid_id == b.centroid_id}
    assert all((r.query_id, r.neighbor_id) in allowed for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rank)
        assert len(rs) <= 5
        dists = [r.adc_dist for r in rs]
        assert dists == sorted(dists), q


def test_adc_ties_rank_by_neighbor_id_and_cut_at_k(spark):
    """Hand-built codebook (2 subspaces × 2 codes): neighbours 9 and 2
    carry IDENTICAL codes, so their ADC distances tie exactly. Both ADC
    operators must rank the tie by ascending neighbor_id and keep only
    rank <= k — the cut falls inside the tie, so neighbour 9 is dropped.
    Neighbour 9 is listed first, so input order cannot pass for the
    tie-break; the probe's own code row (100) must not rank itself."""
    codebook = spark.createDataFrame(
        [(s, c, [float(c), float(c)]) for s in (0, 1) for c in (0, 1)],
        "subspace int, code int, centroid array<double>")
    probes_sub = spark.createDataFrame(
        [(100, 0, [0.0, 0.0]), (100, 1, [0.0, 0.0])],
        "vec_id long, subspace int, subvec array<double>")
    codes = spark.createDataFrame(
        [(9, [0, 1]), (1, [1, 1]), (100, [0, 0]), (2, [0, 1]), (5, [0, 0])],
        "vec_id long, codes array<int>")
    lists = codes.select("vec_id", F.lit(0).alias("centroid_id"))
    plists = probes_sub.select("vec_id", F.lit(0).alias("centroid_id")) \
        .distinct()
    expected = [(100, 5, 0.0, 1), (100, 2, 2.0, 2)]
    for out in (pq.adc_topk(codes, probes_sub, codebook, k=2),
                pq.adc_topk_within_lists(codes, lists, probes_sub, plists,
                                         codebook, k=2)):
        rows = sorted(((r.query_id, r.neighbor_id, r.adc_dist, r.rank)
                       for r in out.collect()), key=lambda r: r[3])
        assert rows == expected


# --- measured retrieval quality (recall gate for the refined stack) ---

def test_ivfpq_refined_recall_gate_on_clustered_corpus(spark):
    """IVF-PQ + exact refine must hit recall@10 >= 0.9 on a planted-cluster
    corpus with the production parameters (m=4, nprobe=2, 10x over-fetch
    — tight clusters quantize to TIED codes, so the ADC cut is arbitrary
    within a cluster and the over-fetch must cover it; measured: 4x gives
    0.84, 10x gives 0.97), and must beat the unrefined ADC ranking it
    refines — the measured proof that refine recovers quantization loss."""
    from redshift_to_lakehouse_migration_spark.llm import similarity as sim
    from tests.ann_data import clustered_corpus, recall_at_k
    e = clustered_corpus(spark)
    probes = e.filter(F.col("vec_id") % 50 == 0)
    gt = sim.cosine_topk(e, probes, "vec_id", "embedding", k=10).collect()

    coarse = e.filter(F.col("vec_id") % 64 == 0)
    lists = sim.ivf_assign(e, coarse, "vec_id", "embedding",
                           "vec_id", "embedding", nprobe=1) \
        .select("vec_id", "centroid_id")
    probe_lists = sim.ivf_assign(probes, coarse, "vec_id", "embedding",
                                 "vec_id", "embedding", nprobe=2) \
        .select("vec_id", "centroid_id")
    sub = pq.split_subvectors(e, "vec_id", "embedding", m=4, dim=64)
    seeds = sub.filter(F.col("vec_id") % 64 == 0)
    init = seeds.select(
        "subspace",
        (F.row_number().over(W.partitionBy("subspace").orderBy("vec_id"))
         - 1).alias("code"),
        F.col("subvec").alias("centroid"))
    codebook = pq.train_codebook(sub, init, iters=1)
    codes = pq.encode(sub, codebook)
    probes_sub = sub.filter(F.col("vec_id") % 50 == 0)

    adc = pq.adc_topk_within_lists(codes, lists, probes_sub, probe_lists,
                                   codebook, k=100)
    refined = pq.refine_topk(adc, e, probes, "vec_id", "embedding", k=10)
    r_refined = recall_at_k(refined.collect(), gt)
    adc10 = pq.adc_topk_within_lists(codes, lists, probes_sub, probe_lists,
                                     codebook, k=10)
    r_adc = recall_at_k(adc10.collect(), gt)
    assert r_refined >= 0.9
    assert r_refined >= r_adc
