"""Distributed spherical k-means for IVF centroid training.

`similarity.ivf_assign` quantizes against *given* centroids; production IVF
indexes train those centroids first. This is Lloyd's algorithm in its
spherical form (unit vectors, cosine assignment, normalized-mean update),
expressed entirely as DataFrame ops — the canonical iterative algorithm on
Spark:

- assignment: broadcast the k centroids, map-side argmax per vector
  (`ivf_assign` with nprobe=1 — the shuffle carries ONE row per vector);
- update: posexplode to (centroid, dim) partial sums — map-side combine
  collapses each task's contribution to ≤ k×dim rows, so the shuffle is
  O(k×dim×tasks), independent of corpus size;
- objective: mean cosine of each vector to its centroid (non-decreasing
  across iterations for spherical k-means — asserted in tests).

At 100 TB you run this on a deterministic sample (training centroids needs
~256×k vectors, not the corpus); the same plan applies unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import dot, is_finite_vector, ivf_assign, norm


def l2_normalize(vec: F.Column) -> F.Column:
    """Unit-normalize an array<float/double> column (zero vectors pass
    through unchanged to avoid div-by-zero). Uses the canonical
    similarity.norm fold — same left-to-right double fold the oracle
    parity contract pins.

    The norm is bound as a lambda VARIABLE (``functions.bind``): captured
    inside the division transform it would re-run the whole O(d) fold for
    every element — O(d²) per row on the corpus-wide normalize path."""
    from ..functions import bind
    return bind(vec.cast("array<double>"), lambda v: bind(
        norm(v), lambda n: F.when(n == 0, v).otherwise(
            F.transform(v, lambda x: x / n))))


def normalize_corpus(corpus: DataFrame, id_col: str,
                     vec_col: str) -> DataFrame:
    """(id, unit-vector) projection of a raw embedding table."""
    return corpus.select(
        F.col(id_col).alias("vec_id"),
        l2_normalize(F.col(vec_col)).alias("embedding"))


def keyed_vector_mean(df: DataFrame, keys: list[str], vec_col: str,
                      out_col: str) -> DataFrame:
    """Elementwise mean of ``vec_col`` per ``keys``: posexplode →
    (key, dim) sum and count → rebuild the array ordered by dim. The one
    Lloyd update sum, shared by k-means (normalized afterwards) and PQ
    codebook training. Keys with no rows simply vanish."""
    per_dim = (
        df.select(*keys, F.posexplode(vec_col).alias("dim", "x"))
        .groupBy(*keys, "dim")
        .agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
    )
    return per_dim.groupBy(*keys).agg(F.transform(
        F.array_sort(F.collect_list(F.struct("dim", "sx", "n"))),
        lambda s: s["sx"] / s["n"]).alias(out_col))


def kmeans_fit(corpus: DataFrame, init_centroids: DataFrame,
               iters: int = 3) -> DataFrame:
    """Train spherical k-means centroids. ``corpus``/``init_centroids``
    carry (vec_id|centroid_id, embedding) with unit vectors (use
    :func:`normalize_corpus`). Returns the trained (centroid_id, embedding).

    Each iteration is two shuffles (argmax assign, per-dim update); the
    intermediate centroid set is tiny and re-broadcast every round.

    Degenerate rows (NULL/NaN/Inf components, zero norm — present in any
    100 TB embedding corpus) are excluded from TRAINING: one NaN
    component would poison its cluster's per-dim sum, turning the whole
    centroid NaN and silently losing it on every later iteration, and a
    zero vector has no direction for a spherical objective. Ragged rows
    (length != the centroid dimension) are excluded too — their NULL
    cosine would land them on a tie-break centroid whose per-dim sums
    they then skew with partial coordinates. The exclusion happens AFTER
    the assignment shuffle, not on the input corpus: the centroid UPDATE
    is the only poisoning surface, and post-shuffle the embedding is a
    concrete array, so the finiteness predicate evaluates once per row —
    filtering the input would inline the predicate's folds into the
    normalize expression and re-evaluate them per element (measured 2.4×
    slower on the whole fit at sf0.1). Index-time ASSIGNMENT of
    degenerate rows stays total anyway (`ivf_assign` gives every row a
    deterministic centroid) — only the fitted geometry ignores them."""
    centroids = init_centroids.select(
        F.col(init_centroids.columns[0]).alias("centroid_id"), "embedding")
    first = init_centroids.select(
        F.size(init_centroids.columns[1]).alias("d")).first()
    if first is None:
        # empty init (e.g. an empty corpus seeded the centroids): nothing
        # to train — return the empty centroid frame, matching the
        # engine-wide empty-input contract (tests/test_empty_inputs.py)
        return centroids
    trainable = (is_finite_vector(F.col("embedding"), min_norm=0.0)
                 & (F.size("embedding") == F.lit(first.d)))
    for _ in range(iters):
        assigned = ivf_assign(corpus, centroids, "vec_id", "embedding",
                              "centroid_id", "embedding", nprobe=1)
        # normalized per-cluster mean; an empty cluster vanishes (its
        # centroid attracts nothing next round)
        centroids = keyed_vector_mean(
            assigned.filter(trainable), ["centroid_id"], "embedding",
            "mean_vec",
        ).select("centroid_id",
                 l2_normalize(F.col("mean_vec")).alias("embedding"))
        # cache: the assignment feeds one aggregate; the centroid table it
        # produces is small, so only IT persists across the loop boundary
        centroids = centroids.localCheckpoint(eager=False)
    return centroids


def kmeans_objective(corpus: DataFrame, centroids: DataFrame) -> float:
    """Mean cosine of each vector to its nearest centroid (higher is
    better; non-decreasing across spherical-k-means iterations).
    NaN/Inf/NULL/ragged rows contribute NULL (avg skips them) rather
    than turning the whole objective NaN; a zero vector contributes its
    literal dot of 0 — the corpus is unit vectors by contract."""
    assigned = ivf_assign(corpus, centroids, "vec_id", "embedding",
                          "centroid_id", "embedding", nprobe=1)
    c = centroids.select(F.col("centroid_id"),
                         F.col("embedding").alias("__c_emb"))
    cos = F.nanvl(dot(F.col("embedding"), F.col("__c_emb")),
                  F.lit(None).cast("double"))
    row = (assigned.join(F.broadcast(c), "centroid_id")
           .agg(F.avg(cos).alias("obj")).collect()[0])
    return float("nan") if row.obj is None else float(row.obj)
