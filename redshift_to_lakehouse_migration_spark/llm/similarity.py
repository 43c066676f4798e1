"""Vector-similarity operators over arbitrary (id, array<float>) DataFrames.

``cosine_topk`` broadcasts the probe set and streams the corpus (exact,
scan-bound — the right shape for scoring a huge corpus against a bounded
probe set). ``lsh_assign`` + ``topk_within_buckets`` is the all-pairs scale
path: candidates come from a bucket-equality join, never a cross join.
Vector math is zip_with/aggregate fold — JVM-side, no UDFs.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .dedup import DEFAULT_BUCKET_CAP, capped_band_candidates

# Every ranked or thresholded cosine is rounded to this many digits: the
# precision the DuckDB twins hard-code (queries.llm_similarity._cos_sql),
# so both engines rank and threshold the same values.
SIM_DIGITS = 9


def _capped_bucket_pairs(assigned: DataFrame,
                         bucket_cap: int | None) -> DataFrame:
    """Candidate pairs within sign-LSH buckets with bounded per-bucket
    fan-out — the embedding-side twin of the text-LSH bucket cap.

    Reuses :func:`..dedup.capped_band_candidates` with bucket_id as the
    (single) band key, the embedding as payload, and a hash of the vector
    as the star group key: a degenerate bucket (mass-duplicated embedding,
    e.g. a boilerplate page embedded millions of times) emits B−1 star
    candidates instead of B², and identical vectors pair with their group
    representative directly. Single band ⇒ no cross-band dups ⇒ the pair
    dedup shuffle is skipped. ``bucket_cap=None`` = exact all-pairs
    within buckets (no cap machinery in the plan). Output: (doc_id_1,
    doc_id_2, embedding_1, embedding_2, bucket_id_1, bucket_id_2) with
    doc_id_1 < doc_id_2.
    """
    group = None if bucket_cap is None else F.xxhash64("embedding")
    # per-vector norm computed ONCE here and carried as payload: the
    # downstream cosine then costs one O(d) fold per candidate PAIR
    # instead of three (guide §1.2 step 2)
    bands = assigned.select(
        F.col("vec_id").alias("doc_id"),
        F.lit(0).alias("band_id"),
        F.col("bucket_id").alias("band_key"),
        "embedding", "bucket_id",
        norm(F.col("embedding")).alias("__nrm"),
        *([] if group is None else [group.alias("__vec_group")]))
    if bucket_cap is not None:
        # checkpoint only when capped: the capped plan reads the band table
        # from 4+ branches (size aggregate, both self-join sides, oversized
        # lookups), where checkpointing beats recomputing the 8-plane
        # assignment per branch (measured at sf0.1: ~2.4s vs ~2.8s warm
        # medians); the uncapped plan has just the two self-join sides, and
        # there skipping the checkpoint wins (~1.5s) and drops the
        # non-replicated-block caveat (see dedup.minhash_lsh_pairs).
        bands = bands.localCheckpoint(eager=False)
    # Sign-LSH has ≤ 2^planes buckets → the size table broadcasts, so the
    # corpus assignment is never shuffled for the size annotation.
    return capped_band_candidates(
        bands, bucket_cap, payload=("embedding", "bucket_id", "__nrm"),
        group_col=None if group is None else "__vec_group",
        distinct=False, broadcast_sizes=True)


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, total over hostile vectors: NULL (never an error,
    never NaN) when undefined, so one bad embedding in 100 TB cannot abort
    the job or hijack a ranking.

    - Zero-norm vector (failed encoder output, padding row): the division
      is undefined → ``try_divide`` yields NULL instead of raising
      DIVIDE_BY_ZERO under ANSI. This is also exactly what plain ``/``
      returns under non-ANSI Spark AND what DuckDB returns for double
      division by zero — so the guard *unifies* the three regimes.
    - NaN/Inf component: the fold propagates NaN (inf·0, inf−inf, nan+x),
      and Spark orders NaN ABOVE every real number — an unguarded NaN sim
      would rank #1 for every probe in its bucket. ``nanvl`` maps it to
      NULL, which orders LAST under ``desc`` and fails every threshold.

    Ranking/threshold consumers drop NULL sims explicitly, so undefined
    similarity yields no candidate row rather than an arbitrary one.
    """
    return cosine_prenormed(a, b, norm(a), norm(b))


def cosine_prenormed(a: Column, b: Column, norm_a: Column,
                     norm_b: Column) -> Column:
    """:func:`cosine` with the norms supplied as pre-computed columns.

    Same expression, same totality guards, bit-identical doubles — the
    norm columns hold exactly ``norm(a)`` / ``norm(b)`` and the division
    multiplies them in the same order. The point (guide §1.2 step 2 /
    §2.3): every pair-forming join below evaluates cosine once per PAIR,
    and the norm folds are 2 of its 3 O(d) folds; computing each row's
    norm once BEFORE the join drops the per-pair cost to one fold.
    Measured on `knn_ivf` at sf0.1: 1.67 s → 1.30 s median, results
    identical."""
    raw = F.try_divide(dot(a, b), norm_a * norm_b)
    return F.nanvl(raw, F.lit(None).cast("double"))


def is_finite_vector(vec: Column, min_norm: float | None = None) -> Column:
    """True iff ``vec`` is a well-formed embedding: non-NULL, non-empty,
    every element present and finite (no NULL/NaN/±Inf). With
    ``min_norm``, additionally requires ``norm(vec) > min_norm`` —
    ``min_norm=0.0`` excludes zero vectors, whose direction (all the
    cosine paths care about) is undefined.

    This is the TRAINING-side filter: iterative fitters (k-means, PQ
    codebooks) must exclude degenerate rows or one NaN component poisons
    its cluster's centroid via the partial sums and cascades. Query-side
    operators stay total instead (hostile rows score NULL and drop)."""
    finite = vec.isNotNull() & (F.size(vec) > 0) & F.forall(
        vec, lambda x: x.isNotNull() & ~F.isnan(x.cast("double"))
        & (F.abs(x.cast("double")) != F.lit(float("inf"))))
    if min_norm is not None:
        # no ordering guarantee on SQL AND, so this must be safe on
        # degenerate vectors too: norm() yields NaN/NULL there, the
        # comparison yields true/NULL, and `finite` is already false —
        # false AND x is false for every x including NULL.
        finite = finite & (norm(vec) > F.lit(min_norm))
    return finite


def make_projections(n_planes: int, dim: int,
                     seed: int = 7) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)]
            for _ in range(n_planes)]


def lsh_bucket(emb: Column, projections: list[list[float]]) -> Column:
    """Sign-LSH bucket id: one bit per hyperplane."""
    b = F.lit(0).cast("long")
    for j, plane in enumerate(projections):
        plane_lit = F.array(*[F.lit(c) for c in plane])
        b = b + F.when(dot(emb, plane_lit) > 0,
                       F.lit(1 << j).cast("long")).otherwise(0)
    return b


def _top_k(scored: DataFrame, k: int, order: Column) -> DataFrame:
    """The one top-k kernel: ``rank`` = row_number per ``query_id`` by
    ``order`` with ties broken on ascending ``neighbor_id``, rows past
    ``k`` dropped. Spark plans this ``row_number() <= k`` form as a
    partition-local ``WindowGroupLimit`` before the window exchange (the
    local top-k of REPOSE, ICDE 2021), so every ranking operator gets it."""
    w = W.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def cosine_topk(corpus: DataFrame, probes: DataFrame, id_col: str,
                vec_col: str, k: int) -> DataFrame:
    """Exact top-k cosine neighbors of each probe vector.

    ``probes`` is broadcast (bounded probe set); the corpus streams. Output:
    (query_id, neighbor_id, sim, rank).
    """
    # norms once per ROW on both sides, not per (probe × corpus) pair —
    # cosine_prenormed leaves one O(d) fold per pair instead of three
    q = probes.select(F.col(id_col).alias("query_id"),
                      F.col(vec_col).alias("__q_emb"),
                      norm(F.col(vec_col)).alias("__q_nrm"))
    corpus = corpus.withColumn("__c_nrm", norm(F.col(vec_col)))
    sim = F.round(cosine_prenormed(F.col("__q_emb"), F.col(vec_col),
                                   F.col("__q_nrm"), F.col("__c_nrm")),
                  SIM_DIGITS)
    return _top_k(
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"),
                sim.alias("sim"))
        .filter(F.col("sim").isNotNull()),  # undefined sim → no candidate
        k, F.col("sim").desc())


def lsh_assign(corpus: DataFrame, id_col: str, vec_col: str,
               projections: list[list[float]]) -> DataFrame:
    """(id, embedding, bucket_id) assignment."""
    return corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"),
        lsh_bucket(F.col(vec_col), projections).alias("bucket_id"))


def cosine_near_pairs(assigned: DataFrame, threshold: float,
                      bucket_cap: int | None = DEFAULT_BUCKET_CAP,
                      ) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, confined to LSH
    buckets (bucket-equality join — never a global cross join). Output:
    (vec_id_1, vec_id_2, sim) with vec_id_1 < vec_id_2, one row per pair.

    Scale note: at 100 TB the bucket join shuffles on bucket_id only; a
    bucket past ``bucket_cap`` (mass-duplicated embeddings) collapses to
    per-vector-group stars — B−1 candidates, not B² — exactly like the
    text-LSH paths. Skewed-but-legitimate buckets can instead be split by
    raising the plane count (more, smaller buckets).

    Measured limits of those mitigations (tests/test_dedup.py, round-5
    fixtures): plane-raising separates CO-BUCKETED DISTINCT families only
    when they are angularly distinguishable — families at pairwise cosine
    0.985–0.997 still co-bucket at 8–16 planes and split only (seed-
    dependently) around 24; sign-LSH is angle-blind below that. For
    corpora dominated by near-identical-but-unequal mass duplicates the
    reliable levers are a larger ``bucket_cap`` (cost B·cap candidates) or
    ``bucket_cap=None`` when results must be exact — a cap at or above
    the realized bucket size reproduces uncapped output bit-for-bit.
    """
    cand = _capped_bucket_pairs(assigned, bucket_cap)
    sim = F.round(cosine_prenormed(F.col("embedding_1"), F.col("embedding_2"),
                                   F.col("__nrm_1"), F.col("__nrm_2")),
                  SIM_DIGITS)
    return (
        cand.select(F.col("doc_id_1").alias("vec_id_1"),
                    F.col("doc_id_2").alias("vec_id_2"),
                    sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def ivf_assign(corpus: DataFrame, centroids: DataFrame, id_col: str,
               vec_col: str, centroid_id_col: str, centroid_vec_col: str,
               nprobe: int = 1, keep_vec: bool = True) -> DataFrame:
    """IVF coarse quantization: assign every vector to its ``nprobe``
    nearest centroids by cosine (deterministic tie-break on centroid id).
    Centroids broadcast; the corpus streams — one pass, the only shuffle is
    the per-vector argmax window. nprobe=1 builds the inverted lists;
    nprobe>1 is the multi-probe query-side assignment.
    Output: (vec_id, embedding, centroid_id).

    ``keep_vec=False`` outputs only (vec_id, centroid_id) — identical
    assignment, minus the vector payload. Catalyst cannot prune a column
    out of an aggregate's max-struct expression, so a caller that drops
    the embedding right after (the IVF-PQ list builders: candidates come
    from the centroid join, distances from codes) would otherwise pay a
    dim-sized struct copy per (row × centroid) scored pair AND ship the
    vector through the shuffle for nothing (guide §2.3 — project before
    the exchange)."""
    # norms once per corpus row / per centroid, not per (row × centroid)
    # pair (cosine_prenormed: one O(d) fold per pair instead of three)
    c = centroids.select(F.col(centroid_id_col).alias("centroid_id"),
                         F.col(centroid_vec_col).alias("__c_emb"),
                         norm(F.col(centroid_vec_col)).alias("__c_nrm"))
    sim = F.round(cosine_prenormed(F.col("embedding"), F.col("__c_emb"),
                                   F.col("__v_nrm"), F.col("__c_nrm")),
                  SIM_DIGITS)
    scored = (
        corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("embedding"),
                      norm(F.col(vec_col)).alias("__v_nrm"))
        .crossJoin(F.broadcast(c))
        .withColumn("__c_sim", sim)
    )
    if nprobe == 1:
        # argmax as a hash aggregate: lexicographic max of
        # (sim, -centroid_id) ≡ best sim with smallest-id tie-break.
        # Partial-aggregates map-side (the shuffle carries one row per
        # vector, not one per vector×centroid — the scale path).
        best = F.max(F.struct(
            F.col("__c_sim").alias("s"),
            (-F.col("centroid_id")).alias("neg_cid"),
            *([] if not keep_vec
              else [F.col("embedding").alias("emb")]))).alias("best")
        out = scored.groupBy("vec_id").agg(best)
        if not keep_vec:
            return out.select(
                "vec_id", (-F.col("best.neg_cid")).alias("centroid_id"))
        return out.select(
            "vec_id", F.col("best.emb").alias("embedding"),
            (-F.col("best.neg_cid")).alias("centroid_id"))
    w = W.partitionBy("vec_id").orderBy(
        F.col("__c_sim").desc(), F.col("centroid_id"))
    if not keep_vec:
        # prune the vector BEFORE the window exchange, not after it
        scored = scored.select("vec_id", "centroid_id", "__c_sim")
    return (
        scored
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= nprobe)
        .select("vec_id",
                *(["embedding"] if keep_vec else []), "centroid_id")
    )


def ivf_topk(corpus_assigned: DataFrame, probes_assigned: DataFrame,
             k: int) -> DataFrame:
    """IVF search: each probe scans only the inverted lists of its probed
    centroids (equality join on centroid_id), exact cosine re-rank, top-k.
    ``probes_assigned``: (query_id, q_embedding, centroid_id) — one row per
    (probe, probed-centroid); multi-probe = several rows per probe."""
    # norms once per assignment ROW, not per (probe × list-member) pair
    probes_assigned = probes_assigned.withColumn(
        "__q_nrm", norm(F.col("q_embedding")))
    corpus_assigned = corpus_assigned.withColumn(
        "__c_nrm", norm(F.col("embedding")))
    sim = F.round(cosine_prenormed(F.col("q.q_embedding"),
                                   F.col("c.embedding"), F.col("q.__q_nrm"),
                                   F.col("c.__c_nrm")), SIM_DIGITS)
    return _top_k(
        probes_assigned.alias("q")
        .join(corpus_assigned.alias("c"), "centroid_id")
        .filter(F.col("c.vec_id") != F.col("q.query_id"))
        .select(F.col("q.query_id").alias("query_id"),
                F.col("c.vec_id").alias("neighbor_id"),
                sim.alias("sim"))
        .filter(F.col("sim").isNotNull())  # undefined sim → no candidate
        .groupBy("query_id", "neighbor_id")  # probed lists may overlap
        .agg(F.max("sim").alias("sim")),
        k, F.col("sim").desc())


def topk_within_buckets(assigned: DataFrame, k: int,
                        bucket_cap: int | None = DEFAULT_BUCKET_CAP,
                        ) -> DataFrame:
    """ANN: exact cosine re-rank confined to LSH buckets (equality join).

    Buckets past ``bucket_cap`` collapse to per-vector-group star
    candidates (see :func:`cosine_near_pairs`): inside a degenerate
    mass-duplicate bucket each non-representative vector ranks only its
    group/bucket representatives — the honest ANN trade for bounding the
    bucket to B−1 candidate rows instead of B².
    """
    cand = _capped_bucket_pairs(assigned, bucket_cap)
    # Both directions of each undirected pair in ONE pass (explode of a
    # 2-struct array) — a union of two selects would recompute the whole
    # candidate subtree per branch.
    directed = cand.select(F.explode(F.array(
        F.struct(F.col("doc_id_1").alias("query_id"),
                 F.col("doc_id_2").alias("neighbor_id"),
                 F.col("embedding_1").alias("__q_emb"),
                 F.col("embedding_2").alias("__n_emb"),
                 F.col("__nrm_1").alias("__q_nrm"),
                 F.col("__nrm_2").alias("__n_nrm"),
                 F.col("bucket_id_1").alias("bucket_id")),
        F.struct(F.col("doc_id_2").alias("query_id"),
                 F.col("doc_id_1").alias("neighbor_id"),
                 F.col("embedding_2").alias("__q_emb"),
                 F.col("embedding_1").alias("__n_emb"),
                 F.col("__nrm_2").alias("__q_nrm"),
                 F.col("__nrm_1").alias("__n_nrm"),
                 F.col("bucket_id_2").alias("bucket_id")),
    )).alias("p")).select("p.*")
    sim = F.round(cosine_prenormed(F.col("__q_emb"), F.col("__n_emb"),
                                   F.col("__q_nrm"), F.col("__n_nrm")),
                  SIM_DIGITS)
    return _top_k(
        directed.select("query_id", "neighbor_id", "bucket_id",
                        sim.alias("sim"))
        .filter(F.col("sim").isNotNull()),  # undefined sim → no candidate
        k, F.col("sim").desc())
