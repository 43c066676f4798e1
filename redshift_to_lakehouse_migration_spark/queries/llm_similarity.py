"""Similarity search over embedding columns (array<float>).

Engine extensions (BASELINE.json north star):

- ``knn_bruteforce``: exact cosine top-k — the correctness baseline. Small
  query set × full scan; the query side broadcasts, the scan side streams,
  so it parallelizes trivially (this is how you'd score 100 TB against a
  fixed probe set).
- ``ann_lsh_buckets`` / ``knn_lsh_bucketed``: the scale path — random
  hyperplane (sign-LSH) bucketing with fixed seeded projections; candidate
  generation is a bucket-equality join (shuffle on bucket id, never
  quadratic), then exact cosine only within buckets.
- ``embedding_stats``: per-label norm statistics (decimal-exact averages).

All vector math is built-in higher-order functions (``zip_with`` +
``aggregate`` fold) — JVM-side, no Python UDFs. Dot products fold
left-to-right; the DuckDB oracles use ``list_reduce`` with the same
fold order so doubles match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import davg, davg_sql
from ..llm import similarity as sim
from ..tables import load, spread

_DIM = 64
_N_PLANES = 8
PROJECTIONS = sim.make_projections(_N_PLANES, _DIM, seed=7)


def _dot_sql(a: str, b: str) -> str:
    return (f"list_reduce(list_transform(list_zip({a}, {b}), "
            f"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), "
            f"(acc, v) -> acc + v)")


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def _cos_sql(a: str, b: str) -> str:
    """Cosine twin of `llm.similarity.cosine` (try_divide + nanvl →
    NULL for a zero-norm vector).  NULLIF on the norm product, not a
    bare `/`: duckdb 1.0.0 happens to return NULL for double 0/0, but
    ≥1.1 defaults ieee_floating_point_ops=true (0.0/0.0 = NaN), and a
    NaN sim would hijack rank 1 on an engine upgrade — same
    version-proofing as the nation_market_share oracle (ADVICE r6 /
    CHANGES_r7 §13)."""
    return (f"round({_dot_sql(a, b)} / "
            f"NULLIF({_norm_sql(a)} * {_norm_sql(b)}, 0), 9)")


def _proj_sql(j: int) -> str:
    return "[" + ", ".join(repr(c) for c in PROJECTIONS[j]) + "]"


def _bucket_col(emb: Column) -> Column:
    return sim.lsh_bucket(emb, PROJECTIONS)


def _bucket_sql(emb: str) -> str:
    terms = [
        f"CASE WHEN {_dot_sql(emb, _proj_sql(j))} > 0 "
        f"THEN {1 << j} ELSE 0 END"
        for j in range(_N_PLANES)
    ]
    return "(" + " + ".join(terms) + ")"


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for probe vectors (vec_id % 50 = 0).

    Scale rule: cost is corpus x probes with the probe set broadcast —
    exact search stays viable only while |probes| is broadcast-sized;
    past that, switch to the IVF/PQ entries (this entry is their recall
    baseline, not the scale path)."""
    e_raw = load(spark, sf_dir, "embeddings")
    e = spread(e_raw, spark)
    # probe set from the BARE scan: it only feeds the broadcast build, and
    # deriving it from the spread corpus would run spread's full
    # repartition map pass just to collect ~2% of rows (guide §2.4 —
    # remove shuffles outright; same rows and values either way)
    probes = e_raw.filter(F.col("vec_id") % 50 == 0)
    topk = sim.cosine_topk(e, probes, "vec_id", "embedding", k=5)
    labels = e.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("label").alias("neighbor_label"))
    # topk (|probes|*k rows) is the bounded side of the label re-attach;
    # labels is corpus-proportional, so hinting IT would pin a broadcast
    # that OOMs at 100 TB (CHANGES_r8 §9d). Hint the small side instead.
    return F.broadcast(topk).join(labels, "neighbor_id").select(
        "query_id", "neighbor_id", "sim", "neighbor_label", "rank")


def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket assignment (8 fixed hyperplanes → 256 buckets).

    Scale rule (knob: plane count): expected bucket size is N/2^planes —
    add one hyperplane per corpus doubling to hold bucket size (and the
    downstream within-bucket join cost) constant; recall per plane is
    then governed by the angle distribution, measured in SCALE.md."""
    e = spread(load(spark, sf_dir, "embeddings"), spark)
    return e.select(
        "vec_id", "label",
        _bucket_col(F.col("embedding")).alias("bucket_id"),
    )


def knn_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 within LSH buckets: bucket-equality join (never quadratic),
    exact cosine re-rank inside each bucket.

    ``bucket_cap=None``: this entry is hash-checked against an UNCAPPED
    all-pairs DuckDB oracle, so the capped scale path (library default,
    512) would silently diverge the moment any sign-LSH bucket outgrows
    the cap as the corpus scales — the oracle-checked wrapper must carry
    exact bucket semantics. The capped path stays the library default and
    is covered by the pathological-star and recall-bound tests in
    tests/test_dedup.py.

    Scale rule (knobs: plane count, bucket_cap): hold expected bucket
    size N/2^planes by adding a plane per corpus doubling; with the
    capped library path, the r5-measured floor applies (single-band
    mixed-bucket cluster-recall 1/3 under the cap — SCALE.md) and
    multi-band OR-construction is the recall lever, not a bigger cap."""
    e = spread(load(spark, sf_dir, "embeddings"), spark)
    assigned = sim.lsh_assign(e, "vec_id", "embedding", PROJECTIONS)
    return sim.topk_within_buckets(assigned, k=3, bucket_cap=None)


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5: deterministic coarse centroids (vec_id % 64 = 0, ~sqrt(N) lists),
    nearest-centroid inverted lists, multi-probe (nprobe=2) search with
    exact cosine re-rank confined to the probed lists.

    Scale rule (knob: nprobe) — from the r5-measured envelope (SCALE.md
    "Recall vs the nprobe knob"): recall on weak-structure corpora
    tracks the SCANNED FRACTION nprobe/nlist, not nprobe itself (fixed
    nprobe=2 gives set-recall 0.245 at sf0.1's 31 lists but decays to
    0.163 at sf1.0's 312 lists; the 2/4/8/16 ladder buys
    0.245/0.405/0.605/0.830 at sf0.1). As nlist grows ~sqrt(N), grow
    nprobe proportionally to hold the target fraction — cost then grows
    linearly with the corpus, the floor for unstructured geometry. This
    registered entry keeps the cheap fixed nprobe=2 because the driver
    gate checks algorithm ≡ oracle, not retrieval quality."""
    e_raw = load(spark, sf_dir, "embeddings")
    e = spread(e_raw, spark)
    # centroid/probe subtrees from the bare scan (broadcast-sized sides;
    # routing them through spread would replay its repartition shuffle
    # per broadcast build — same rows, one less exchange, guide §2.4)
    centroids = e_raw.filter(F.col("vec_id") % 64 == 0)
    lists = sim.ivf_assign(e, centroids, "vec_id", "embedding",
                           "vec_id", "embedding", nprobe=1)
    probes = (
        sim.ivf_assign(e_raw.filter(F.col("vec_id") % 50 == 0), centroids,
                       "vec_id", "embedding", "vec_id", "embedding",
                       nprobe=2)
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_embedding"), "centroid_id")
    )
    return sim.ivf_topk(lists, probes, k=5)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim ≥ threshold) confined to LSH
    buckets — the scale path for semantic dedup: bucket-equality join,
    never a global cross join. Threshold 0.35 is tuned to the synthetic
    corpus (max pairwise cosine ≈ 0.51); real embedding spaces use ~0.9.

    ``bucket_cap=None`` for oracle exactness — same reasoning as
    :func:`knn_lsh_bucketed`: the DuckDB oracle is uncapped all-pairs
    within buckets, so the wrapper must be too; the capped star path
    remains the scale-facing library default.

    Scale rule (knobs: plane count, bucket_cap, threshold): hold bucket
    size N/2^planes by adding a plane per corpus doubling — the
    within-bucket pair join is quadratic in bucket size, so bucket
    growth, not corpus growth, is what breaks this plan; the capped
    library default bounds the worst bucket at B·(cap−1) star edges."""
    e = spread(load(spark, sf_dir, "embeddings"), spark)
    assigned = sim.lsh_assign(e, "vec_id", "embedding", PROJECTIONS)
    return sim.cosine_near_pairs(assigned, threshold=0.35, bucket_cap=None)


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector statistics with decimal-exact averages."""
    e = spread(load(spark, sf_dir, "embeddings"), spark)
    n = sim.norm(F.col("embedding"))
    return (
        e.select("vec_id", "label", n.alias("norm"))
        .groupBy("label")
        .agg(F.count("*").alias("n_vectors"),
             davg("norm", scale=9, precision=24).alias("avg_norm"),
             F.min("norm").alias("min_norm"),
             F.max("norm").alias("max_norm"))
        .orderBy("label")
    )


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means IVF centroid training (2 Lloyd iterations from the
    deterministic vec_id%64 seed set), reporting per-cluster membership and
    cohesion. Iterative — no SQL oracle (rows-only per driver contract);
    objective monotonicity is asserted in tests/test_kmeans.py."""
    from ..llm import kmeans as km
    e_raw = load(spark, sf_dir, "embeddings")
    corpus = km.normalize_corpus(spread(e_raw, spark), "vec_id", "embedding")
    # init from the bare scan: same rows and unit vectors, but
    # kmeans_fit's dimension-probe first() and the iteration-1 broadcast
    # build no longer replay spread's full repartition map pass
    # (measured 3.78 -> 3.47 s interleaved medians, results identical)
    init = km.normalize_corpus(
        e_raw.filter(F.col("vec_id") % 64 == 0), "vec_id", "embedding") \
        .select(F.col("vec_id").alias("centroid_id"), "embedding")
    trained = km.kmeans_fit(corpus, init, iters=2)
    assigned = sim.ivf_assign(corpus, trained, "vec_id", "embedding",
                              "centroid_id", "embedding", nprobe=1)
    c = trained.select("centroid_id", F.col("embedding").alias("__c_emb"))
    cos = F.round(sim.dot(F.col("embedding"), F.col("__c_emb")), 6)
    return (
        assigned.join(F.broadcast(c), "centroid_id")
        .select("centroid_id", "vec_id", cos.alias("cos_sim"))
        .groupBy("centroid_id")
        .agg(F.count("*").alias("cluster_size"),
             F.round(F.avg("cos_sim"), 4).alias("avg_cohesion"))
        .orderBy("centroid_id")
    )


def _pq_codebook(e, e_raw):
    """Shared PQ training pieces: subvectors, deterministic seed init,
    one Lloyd iteration, codes. ONE definition — the three PQ queries
    previously carried verbatim copies whose parameters (m, seed rule,
    iters) had to be edited in lockstep.

    ``e``: the spread corpus (training assignment + encode scan it in
    full — CPU-bound per-row work that must not serialize on one core).
    ``e_raw``: the bare scan; the seed-init and probe subtrees (a few
    percent of rows, all feeding broadcast builds) derive from it so
    they don't replay spread's repartition map pass per build (guide
    §2.4; identical rows either way — the returned ``sub_raw`` is the
    probe-side subvector table)."""
    from pyspark.sql import Window as W

    from ..llm import pq
    sub = pq.split_subvectors(e, "vec_id", "embedding", m=4, dim=_DIM)
    sub_raw = pq.split_subvectors(e_raw, "vec_id", "embedding",
                                  m=4, dim=_DIM)
    seeds = sub_raw.filter(F.col("vec_id") % 64 == 0)
    init = seeds.select(
        "subspace",
        (F.row_number().over(W.partitionBy("subspace").orderBy("vec_id"))
         - 1).alias("code"),
        F.col("subvec").alias("centroid"))
    codebook = pq.train_codebook(sub, init, iters=1)
    codes = pq.encode(sub, codebook)
    return sub_raw, codebook, codes


def _ivf_lists(e, e_raw):
    """Shared IVF pieces: coarse centroids (every 64th vector), corpus
    inverted lists (nprobe=1), multi-probe query lists (nprobe=2).

    ``e_raw`` (bare scan) feeds the coarse-centroid and probe subtrees —
    broadcast-sized sides that would otherwise replay spread's
    repartition map pass per broadcast build (guide §2.4)."""
    coarse = e_raw.filter(F.col("vec_id") % 64 == 0)
    # keep_vec=False: the PQ compositions take candidates from the
    # centroid join and distances from codes — the embedding would be
    # dropped right here, AFTER paying a 64-double struct copy per
    # (vector × centroid) scored pair and a vector-wide shuffle row
    # (guide §2.3: Catalyst cannot prune inside the argmax struct).
    lists = sim.ivf_assign(e, coarse, "vec_id", "embedding",
                           "vec_id", "embedding", nprobe=1,
                           keep_vec=False)
    probe_vecs = e_raw.filter(F.col("vec_id") % 50 == 0)
    probe_lists = sim.ivf_assign(probe_vecs, coarse, "vec_id", "embedding",
                                 "vec_id", "embedding", nprobe=2,
                                 keep_vec=False)
    return lists, probe_vecs, probe_lists


def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 64-dim floats → 4 subspace codes (byte-
    scale compression for 100 TB embedding stores), one Lloyd iteration
    per subspace from deterministic seeds, then asymmetric-distance top-5
    (probe-side distance table broadcast, candidate distance = sum of 4
    code lookups). Rows-only (float sums + iterative training are not
    portable SQL); tests/test_pq.py asserts quantization-error descent,
    code validity, and above-chance recall vs the exact baseline.

    Scale rule (knobs: M subspaces, K codewords): each vector ships M
    bytes regardless of corpus size; recall is bought with M·log2(K)
    bits per vector (raise M — cost linear in M — before K, whose
    distance table grows M×K per probe), and the recall@10 ≥ 0.9 gate
    in tests/test_pq.py is the regression pin for any re-tune."""
    from ..llm import pq
    e_raw = load(spark, sf_dir, "embeddings")
    e = spread(e_raw, spark)
    sub_raw, codebook, codes = _pq_codebook(e, e_raw)
    probes = sub_raw.filter(F.col("vec_id") % 50 == 0)
    return pq.adc_topk(codes, probes, codebook, k=5) \
        .orderBy("query_id", "rank")


def knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ, the production ANN composition: IVF inverted lists bound
    the candidate set (compute), PQ codes carry the distances (memory).
    Candidates from a centroid-equality join with multi-probe (nprobe=2);
    ADC ranks them via the broadcast probe distance table. The corpus
    ships one row of M byte-codes per vector — never a float vector.

    Scale rule: nprobe follows `knn_ivf`'s measured envelope (hold the
    scanned FRACTION nprobe/nlist as nlist grows ~sqrt(N) — SCALE.md);
    the PQ knobs follow `knn_pq_adc` (recall bought with M·log2(K) bits
    per vector, M before K)."""
    from ..llm import pq
    e_raw = load(spark, sf_dir, "embeddings")
    e = spread(e_raw, spark)
    lists, _probe_vecs, probe_lists = _ivf_lists(e, e_raw)
    sub_raw, codebook, codes = _pq_codebook(e, e_raw)
    probes_sub = sub_raw.filter(F.col("vec_id") % 50 == 0)
    return pq.adc_topk_within_lists(codes, lists, probes_sub, probe_lists,
                                    codebook, k=5) \
        .orderBy("query_id", "rank")


def knn_ivfpq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact refine — the full production ANN stack: IVF lists
    bound candidates, ADC over byte codes over-fetches 10·k of them, and
    only those few rows join back their float vectors for an exact cosine
    top-5. The corpus-wide work never touches a float vector; the refine
    join is candidate-sized. Recovers the ADC quantization loss (recall
    gate in tests/test_pq.py). Rows-only like the other PQ entries.

    Scale rule: nprobe per `knn_ivf`'s envelope (hold scanned fraction),
    M/K per `knn_pq_adc`; the over-fetch factor (10·k here) trades one
    candidate-sized exact join for the last few recall points and stays
    CONSTANT as the corpus grows — refine cost is probes x 10k rows,
    independent of N."""
    from ..llm import pq
    e_raw = load(spark, sf_dir, "embeddings")
    e = spread(e_raw, spark)
    lists, probe_vecs, probe_lists = _ivf_lists(e, e_raw)
    sub_raw, codebook, codes = _pq_codebook(e, e_raw)
    probes_sub = sub_raw.filter(F.col("vec_id") % 50 == 0)
    cand = pq.adc_topk_within_lists(codes, lists, probes_sub, probe_lists,
                                    codebook, k=50)
    # refine's corpus side goes straight into a neighbor_id join (its own
    # exchange); no per-row CPU work happens before it, so the spread
    # repartition would be a wasted extra exchange — bare scan is right
    return pq.refine_topk(cand, e_raw, probe_vecs, "vec_id", "embedding",
                          k=5) \
        .orderBy("query_id", "rank")


QUERIES = {
    "knn_bruteforce": knn_bruteforce,
    "ann_lsh_buckets": ann_lsh_buckets,
    "knn_lsh_bucketed": knn_lsh_bucketed,
    "knn_ivf": knn_ivf,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "embedding_stats": embedding_stats,
    "kmeans_clusters": kmeans_clusters,
    "knn_pq_adc": knn_pq_adc,
    "knn_ivfpq": knn_ivfpq,
    "knn_ivfpq_refined": knn_ivfpq_refined,
}

_SIM = _cos_sql("q.q_emb", "e.embedding")
_SIM_AB = _cos_sql("a.embedding", "b.embedding")

ORACLES = {
    "knn_bruteforce": f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS q_emb
            FROM embeddings WHERE vec_id % 50 = 0
        ), scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   {_SIM} AS sim, e.label AS neighbor_label
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> q.query_id
        )
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
            FROM scored
            WHERE sim IS NOT NULL  -- undefined sim -> no candidate (§14)
        ) WHERE rank <= 5
    """,
    "ann_lsh_buckets": f"""
        SELECT vec_id, label, {_bucket_sql("embedding")} AS bucket_id
        FROM embeddings
    """,
    "knn_lsh_bucketed": f"""
        WITH withb AS (
            SELECT vec_id, embedding,
                   {_bucket_sql("embedding")} AS bucket_id
            FROM embeddings
        ), pairs AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   a.bucket_id AS bucket_id, {_SIM_AB} AS sim
            FROM withb a JOIN withb b
              ON a.bucket_id = b.bucket_id AND a.vec_id <> b.vec_id
        )
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
            FROM pairs
            WHERE sim IS NOT NULL  -- undefined sim -> no candidate (§14)
        ) WHERE rank <= 3
    """,
    "knn_ivf": f"""
        WITH cent AS (
            SELECT vec_id AS centroid_id, embedding AS c_emb
            FROM embeddings WHERE vec_id % 64 = 0
        ), corpus_sim AS (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   {_cos_sql("e.embedding", "c.c_emb")} AS c_sim
            FROM embeddings e CROSS JOIN cent c
        ), lists AS (
            SELECT vec_id, embedding, centroid_id FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY c_sim DESC, centroid_id) AS r
                FROM corpus_sim) WHERE r <= 1
        ), probes AS (
            SELECT vec_id AS query_id, embedding AS q_embedding, centroid_id
            FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY c_sim DESC, centroid_id) AS r
                FROM corpus_sim WHERE vec_id % 50 = 0) WHERE r <= 2
        ), cand AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   MAX({_cos_sql("q.q_embedding", "c.embedding")}) AS sim
            FROM probes q JOIN lists c USING (centroid_id)
            WHERE c.vec_id <> q.query_id
            GROUP BY 1, 2
        )
        SELECT * FROM (
            SELECT query_id, neighbor_id, sim, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
            FROM cand
            WHERE sim IS NOT NULL  -- undefined sim -> no candidate (§14)
            ) WHERE rank <= 5
    """,
    "dedup_embedding_cosine": f"""
        WITH withb AS (
            SELECT vec_id, embedding,
                   {_bucket_sql("embedding")} AS bucket_id
            FROM embeddings
        )
        SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2, {_SIM_AB} AS sim
        FROM withb a JOIN withb b
          ON a.bucket_id = b.bucket_id AND a.vec_id < b.vec_id
        WHERE {_SIM_AB} >= 0.35
    """,
    "embedding_stats": f"""
        SELECT label, COUNT(*) AS n_vectors,
               {davg_sql(f"{_norm_sql('embedding')}", 9, 24)} AS avg_norm,
               MIN({_norm_sql("embedding")}) AS min_norm,
               MAX({_norm_sql("embedding")}) AS max_norm
        FROM embeddings
        GROUP BY label ORDER BY label
    """,
}
