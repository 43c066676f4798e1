"""Product quantization (PQ) for embedding compression + ANN search.

The memory-side scale technique the IVF/LSH paths don't cover: a
64-dim float vector (256 B) compresses to M subspace codes (M bytes),
so a 100 TB embedding corpus fits hot in a fraction of the space, and
search runs on codes via asymmetric distance computation (ADC):

- **train**: per subspace, Lloyd's k-means on the subvectors (Euclidean —
  the PQ objective), same distributed shape as `kmeans.py`: broadcast
  argmin assignment (one shuffle row per subvector), posexplode
  map-side-combine mean update;
- **encode**: one broadcast argmin pass → (vec_id, [code_0..code_{M-1}]);
- **search (ADC)**: the probe precomputes a distance table to every
  subspace centroid (M×K rows — tiny, broadcast); candidate distance is
  the SUM of M table lookups, i.e. an equality join + hash aggregate.
  No full-precision vector is ever touched at query time.

Everything is built-in expressions (slice/posexplode/aggregate folds);
codes and table lookups shuffle instead of raw vectors — that ratio
(M bytes vs 4·dim) is the whole point at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kmeans import keyed_vector_mean
from .similarity import (SIM_DIGITS, _top_k, cosine,
                         is_finite_vector)


def split_subvectors(vecs: DataFrame, id_col: str, vec_col: str,
                     m: int, dim: int) -> DataFrame:
    """(id, subspace, subvec) long form; subspace j holds dims
    [j·dim/m, (j+1)·dim/m). ``dim`` must divide evenly into ``m``
    subspaces — otherwise the trailing ``dim % m`` dimensions would be
    silently dropped from training, encoding, and every ADC distance."""
    if dim % m != 0:
        raise ValueError(
            f"dim={dim} is not divisible by m={m}: the trailing "
            f"{dim % m} dimensions would be silently discarded")
    width = dim // m
    # A row whose array length != dim violates the declared geometry:
    # slice() would silently truncate it into narrower (but plausible)
    # subvectors that bias per-dim training counts and produce garbage
    # distances. Emit NULL subvecs instead — excluded from training by
    # the finiteness filter, assigned a deterministic tie-break code by
    # encode (which stays total), and dropped by the exact refine stage.
    conform = F.size(F.col(vec_col)) == dim
    parts = F.array(*[
        F.struct(F.lit(j).alias("subspace"),
                 F.when(conform,
                        F.slice(F.col(vec_col), j * width + 1, width)
                        .cast("array<double>")).alias("subvec"))
        for j in range(m)
    ])
    return (vecs.select(F.col(id_col).alias("vec_id"),
                        F.explode(parts).alias("p"))
            .select("vec_id", "p.subspace", "p.subvec"))


def _l2sq(a, b) -> F.Column:
    """Squared L2, total over hostile inputs: NULL (never NaN) when any
    component is NaN/Inf or the arrays are NULL/ragged. This matters for
    the argmin encoding below — Spark's `max` orders NaN ABOVE every
    double, so an unguarded NaN distance (one corrupt centroid or
    subvector) would WIN the argmin for every vector in its subspace;
    NULL instead loses to any finite distance (struct comparison is
    nulls-smallest under max)."""
    raw = F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                      F.lit(0.0), lambda acc, v: acc + v)
    return F.nanvl(raw, F.lit(None).cast("double"))


def assign_codes(sub: DataFrame, codebook: DataFrame,
                 keep_subvec: bool = True) -> DataFrame:
    """Nearest centroid per (vec, subspace): broadcast the codebook,
    argmin-L2 as a hash aggregate (lexicographic max over
    (-dist, -code)) — the shuffle carries one row per subvector.

    ``keep_subvec=False`` drops the subvector payload from the argmin
    struct: identical codes, but the per-(subvector × codeword) scored
    row no longer copies the subvec array into its struct and the
    aggregate shuffle carries (vec_id, subspace, code) only — encoding
    needs the code, not the floats (guide §2.3). Training keeps the
    payload (the centroid update consumes it)."""
    cb = codebook.select("subspace", F.col("code").alias("code"),
                         F.col("centroid").alias("__c"))
    scored = (sub.join(F.broadcast(cb), "subspace")
              .withColumn("__d", F.round(_l2sq(F.col("subvec"),
                                               F.col("__c")), 9)))
    best = F.max(F.struct(
        (-F.col("__d")).alias("neg_d"),
        (-F.col("code")).alias("neg_code"),
        *([] if not keep_subvec
          else [F.col("subvec").alias("sv")]))).alias("b")
    out = scored.groupBy("vec_id", "subspace").agg(best)
    if not keep_subvec:
        return out.select("vec_id", "subspace",
                          (-F.col("b.neg_code")).cast("int").alias("code"))
    return out.select("vec_id", "subspace",
                      (-F.col("b.neg_code")).cast("int").alias("code"),
                      F.col("b.sv").alias("subvec"))


def train_codebook(sub: DataFrame, init: DataFrame,
                   iters: int = 2) -> DataFrame:
    """Per-subspace Lloyd iterations. ``init``: (subspace, code, centroid).

    Subvectors with NULL/NaN/Inf components are excluded from TRAINING —
    one NaN component would turn its (subspace, code) centroid NaN via
    the per-dim sum, and with NaN ordering above every double that
    poisoned centroid would then win the argmin for EVERY vector in the
    subspace next iteration: total codebook collapse from a single
    corrupt row. The exclusion is per-SUBVECTOR, not per-row: PQ trains
    M independent quantizers, so a row with one corrupt component still
    contributes its well-formed subvectors to their own subspaces (a
    zero subvector is likewise valid Euclidean data and trains
    normally). `encode` stays total (every row still gets a code).
    The exclusion filters the ASSIGNMENT output, not the input: only the
    codebook update can be poisoned, and post-aggregate the subvec is a
    concrete array, so the predicate evaluates once per row instead of
    inlining its fold into the slice expressions (see kmeans_fit)."""
    codebook = init
    for _ in range(iters):
        assigned = assign_codes(sub, codebook)
        codebook = keyed_vector_mean(
            assigned.filter(is_finite_vector(F.col("subvec"))),
            ["subspace", "code"], "subvec", "centroid",
        ).localCheckpoint(eager=False)
    return codebook


def encode(sub: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vec_id, codes array<int> ordered by subspace) — the compressed rep."""
    assigned = assign_codes(sub, codebook, keep_subvec=False)
    return (assigned.groupBy("vec_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("subspace", "code"))),
                lambda s: s["code"]).alias("codes")))


def _distance_table(probes_sub: DataFrame, codebook: DataFrame) -> DataFrame:
    """(query_id, subspace, code, dist): each probe subvector's squared L2
    to every centroid of its subspace — M×K rows per probe."""
    return (probes_sub.join(F.broadcast(codebook), "subspace")
            .select(F.col("vec_id").alias("query_id"), "subspace", "code",
                    F.round(_l2sq(F.col("subvec"), F.col("centroid")), 9)
                    .alias("dist")))


def _long_codes(codes: DataFrame) -> DataFrame:
    """(neighbor_id, subspace, code): one row per corpus subspace code."""
    return codes.select(F.col("vec_id").alias("neighbor_id"),
                        F.posexplode("codes").alias("subspace", "code"))


def _adc_rank(looked_up: DataFrame, k: int) -> DataFrame:
    """Sum each (probe, candidate)'s table lookups into ``adc_dist`` and
    keep the k smallest. A fully-degenerate probe (every subspace
    distance NULL) sums to NULL, which sorts FIRST ascending — drop it
    rather than let it fabricate rank 1; a partially-degenerate probe
    ranks uniformly on its remaining finite subspaces (sum skips NULL)."""
    return _top_k(
        looked_up.groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("dist"), 6).alias("adc_dist"))
        .filter(F.col("adc_dist").isNotNull()),
        k, F.col("adc_dist"))


def adc_topk_within_lists(codes: DataFrame, corpus_lists: DataFrame,
                          probes_sub: DataFrame, probe_lists: DataFrame,
                          codebook: DataFrame, k: int) -> DataFrame:
    """IVF-PQ: ADC ranking confined to the probe's IVF lists — the
    production ANN composition. ``corpus_lists``/``probe_lists`` carry
    (vec_id, centroid_id) from `similarity.ivf_assign`; candidates come
    from the centroid-equality join (compute bound), distances from PQ
    codes (memory bound). Same shuffle keys as `similarity.ivf_topk`,
    but the corpus side ships M byte-codes instead of the raw vectors."""
    candidates = (
        probe_lists.select(F.col("vec_id").alias("query_id"),
                           "centroid_id")
        .join(corpus_lists.select(F.col("vec_id").alias("neighbor_id"),
                                  "centroid_id"), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id").distinct()
    )
    return _adc_rank(
        candidates
        .join(_long_codes(codes), "neighbor_id")
        .join(F.broadcast(_distance_table(probes_sub, codebook)),
              ["query_id", "subspace", "code"]), k)


def refine_topk(candidates: DataFrame, corpus: DataFrame, probes: DataFrame,
                id_col: str, vec_col: str, k: int) -> DataFrame:
    """Exact re-rank of ADC candidates — the standard IVF-PQ refine stage:
    the code-only ADC pass over-fetches candidates (k·factor), then ONLY
    those rows join back their full-precision vectors for an exact cosine
    top-k. Quantized codes bound the candidate set; floats are touched for
    a few dozen rows per probe, so the corpus is never rescanned and the
    shuffle stays candidate-sized. This recovers the quantization loss:
    recall approaches plain IVF at the same nprobe while the corpus-wide
    scan still runs on M-byte codes.

    ``candidates``: (query_id, neighbor_id[, ...]) from `adc_topk` /
    `adc_topk_within_lists` called with k·factor.
    """
    cvec = corpus.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).alias("__n_emb"))
    pvec = probes.select(F.col(id_col).alias("query_id"),
                         F.col(vec_col).alias("__q_emb"))
    # the ONE canonical cosine (similarity.cosine): the fold order is
    # pinned for oracle parity, so it must not fork per module — and the
    # zero-norm/NaN totality guard must hold here exactly as in the
    # bucket/IVF paths (a hostile full-precision vector reaches this
    # re-rank via its quantized code).
    sim = F.round(cosine(F.col("__q_emb"), F.col("__n_emb")), SIM_DIGITS)
    return _top_k(
        candidates.select("query_id", "neighbor_id")
        .join(cvec, "neighbor_id")
        .join(F.broadcast(pvec), "query_id")
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .filter(F.col("sim").isNotNull()),  # undefined sim → no candidate
        k, F.col("sim").desc())


def adc_topk(codes: DataFrame, probes_sub: DataFrame,
             codebook: DataFrame, k: int) -> DataFrame:
    """Asymmetric-distance top-k: probe→centroid distance table (M×K per
    probe, broadcast), candidate distance = sum of code lookups.

    Plan: codes explode to (vec_id, subspace, code) → equality join with
    the table → one hash aggregate per (probe, candidate) → rank-k window.
    The corpus side never carries floats wider than one distance."""
    return _adc_rank(
        _long_codes(codes)
        .join(F.broadcast(_distance_table(probes_sub, codebook)),
              ["subspace", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id")), k)
