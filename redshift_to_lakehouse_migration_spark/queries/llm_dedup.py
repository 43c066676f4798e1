"""Deduplication queries — thin bindings of ``redshift_to_lakehouse_migration_spark.llm.dedup``
(the reusable operator library) to the driver's documents table.

Coverage (BASELINE.json north star): exact hash dedup, blocked n-gram
Jaccard, MinHash-LSH candidates + exact verify, SimHash signatures +
hamming-banded near-pairs — ALL with full DuckDB oracles since r11
(VERDICT r10 #6): the md5-hex→int primitive IS portable
(``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`` ≡ Spark's
``conv(substring(md5(x), 1, 15), 16, 10)``), and the oracles replay the
complete scale-path semantics including the oversized-bucket star
degradation of ``capped_band_candidates``. tests/test_dedup.py keeps the
planted-near-duplicate recall gates on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm import dedup as D
from ..tables import SPREAD_TEXT_MIN_BYTES_PER_CORE, load, spread


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Size-adaptive spread (r12; r6–r11 repartitioned unconditionally).
    # The r11 shingle/band localCheckpoints changed the calculus: the
    # expensive per-row derivation materializes ONCE, so round-robin-
    # shuffling a SMALL corpus ahead of it costs more than the single
    # narrow pass saves — measured ABBA at local[32]: at 0.59 MB bare
    # wins (dedup_exact 0.81→0.35, dedup_clusters 3.48→2.86,
    # dedup_minhash_lsh 2.64→2.33, simhash family −7/−8%), at ~3 MB the
    # serial pass dominates and spread wins (minhash 6.65→3.90, clusters
    # 5.8→5.1). min_bytes picks the measured branch at each scale and
    # stays a no-op at cluster scale (wide scans never trigger spread).
    return spread(load(spark, sf_dir, "documents"), spark,
                  min_bytes_per_core=SPREAD_TEXT_MIN_BYTES_PER_CORE)


def _text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).filter(D.has_text("text"))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_duplicates(_text_docs(spark, sf_dir), "doc_id", "text")


def _shingle_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # checkpointed: the Jaccard plan reads it three times (both pair-join
    # sides + the size denominators; see llm.dedup.shingle_blocks)
    return D.shingle_blocks(_text_docs(spark, sf_dir)) \
        .localCheckpoint(eager=False)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise 3-gram Jaccard ≥ ``NEAR_DUP_JACCARD`` (16-char
    prefix blocks)."""
    return D.jaccard_pairs_from_capped(_shingle_blocks(spark, sf_dir),
                                       D.NEAR_DUP_JACCARD)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic order at the query surface; the library operator is
    # deliberately unsorted (scale path)
    return D.minhash_lsh_pairs(_docs(spark, sf_dir), "doc_id", "text",
                               n_perm=32, band_rows=4, threshold=0.5) \
        .orderBy("doc_id_1", "doc_id_2")


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_signatures(_docs(spark, sf_dir), "doc_id", "text") \
        .orderBy("doc_id")


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = D.simhash_signatures(_docs(spark, sf_dir), "doc_id", "text")
    return D.simhash_near_pairs(sig, max_hamming=6) \
        .orderBy("doc_id_1", "doc_id_2")


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the blocked
    3-gram-Jaccard pair graph (A~B, B~C ⇒ {A,B,C} one cluster), canonical
    keeper = min doc_id per component — the step that turns pair detection
    into an actual drop list. Iterative min-label propagation
    (`llm/components.py`); the DuckDB oracle replays it as a recursive CTE."""
    comp = D.near_dup_components(_shingle_blocks(spark, sf_dir))
    docs = _text_docs(spark, sf_dir).select("doc_id")
    labeled = (
        docs.join(comp, docs["doc_id"] == comp["node"], "left")
        .select(docs["doc_id"],
                F.coalesce(F.col("comp"), docs["doc_id"])
                .alias("cluster_id"))
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"))
    return (
        labeled.join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size",
                (F.col("doc_id") == F.col("cluster_id"))
                .alias("is_canonical"))
        .orderBy("doc_id")
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_clusters": dedup_clusters,
}

# DuckDB twin of ``llm.dedup.norm_text`` over the ``text`` column.
NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')"

# The non-empty documents with their normal form.
_NORMED_DOCS_SQL = f"""SELECT doc_id, {NORM_SQL} AS norm FROM documents
        WHERE text IS NOT NULL AND regexp_matches(text, '\\S')"""

# DuckDB twin of ``llm.dedup.shingles`` (k=3) over a ``toks`` list.
_SHINGLES_SQL = """list_distinct(
            [array_to_string(toks[i:i+2], ' ')
             for i in range(1, greatest(len(toks) - 2, 1) + 1)])"""


def near_dup_pairs_ctes(src: str) -> str:
    """tok → sh → shf → sizes → shared → pairs over a CTE ``src`` of
    (doc_id, norm): the DuckDB twin of ``llm.dedup.shingle_blocks`` +
    ``jaccard_pairs_from_capped``. ``pairs`` holds (doc_id_1, doc_id_2,
    shared_shingles, n_shingles_1, n_shingles_2, jaccard) at Jaccard ≥
    ``NEAR_DUP_JACCARD``. Both engines drop shingles whose within-block
    document frequency exceeds the cap (quadratic-join boilerplate) — the
    filter is deterministic, so the oracle mirrors it exactly.

    ``pairs`` is MATERIALIZED for the recursive CTE of
    ``COMPONENTS_CTES``, which reads it: inline, DuckDB 1.0 took 44.9 s
    on the `corpus_funnel` oracle at sf0.1 (4 threads) and 9.3 s on
    `dedup_clusters`; materialized, 3.0 s and 1.7 s, identical rows."""
    return f"""tok AS (
        SELECT doc_id, substr(norm, 1, 16) AS block,
               string_split(norm, ' ') AS toks
        FROM {src}
    ), sh AS (
        SELECT doc_id, block, unnest({_SHINGLES_SQL}) AS shingle
        FROM tok
    ), shf AS (
        SELECT doc_id, block, shingle FROM (
            SELECT doc_id, block, shingle,
                   COUNT(*) OVER (PARTITION BY block, shingle) AS df
            FROM sh)
        WHERE df <= {D.DEFAULT_SHINGLE_DF_CAP}
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_shingles FROM shf GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
               COUNT(*) AS shared_shingles
        FROM shf a JOIN shf b
          ON a.shingle = b.shingle AND a.block = b.block
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS MATERIALIZED (
        SELECT p.doc_id_1, p.doc_id_2, p.shared_shingles,
               s1.n_shingles AS n_shingles_1,
               s2.n_shingles AS n_shingles_2,
               p.shared_shingles
               / (s1.n_shingles + s2.n_shingles - p.shared_shingles)
                   AS jaccard
        FROM shared p
        JOIN sizes s1 ON p.doc_id_1 = s1.doc_id
        JOIN sizes s2 ON p.doc_id_2 = s2.doc_id
        WHERE p.shared_shingles
              / (s1.n_shingles + s2.n_shingles - p.shared_shingles)
              >= {D.NEAR_DUP_JACCARD}
    )"""


# sym → reach → comp over the ``pairs`` CTE: min-label connected
# components (``llm.components.connected_components``) as a recursive
# CTE — the query needs ``WITH RECURSIVE``.
COMPONENTS_CTES = """sym AS (
        SELECT doc_id_1 AS a, doc_id_2 AS b FROM pairs
        UNION
        SELECT doc_id_2, doc_id_1 FROM pairs
    ), reach(node, r) AS (
        SELECT a, a FROM sym
        UNION
        SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.node
    ), comp AS (
        SELECT node, MIN(r) AS comp FROM reach GROUP BY node
    )"""

ORACLES = {
    "dedup_exact": f"""
        SELECT
            md5(norm) AS content_hash,
            MIN(doc_id) AS keeper_doc_id,
            COUNT(*) AS member_count,
            MAX(doc_id) AS max_doc_id,
            COUNT(*) > 1 AS has_duplicates
        FROM (SELECT doc_id, {NORM_SQL} AS norm FROM documents
              WHERE text IS NOT NULL AND regexp_matches(text, '\\S'))
        GROUP BY md5(norm)
    """,
    "dedup_ngram_jaccard": f"""
    WITH docs AS (
        {_NORMED_DOCS_SQL}
    ), {near_dup_pairs_ctes("docs")}
    SELECT * FROM pairs
    """,
    "dedup_clusters": f"""
    WITH RECURSIVE docs AS (
        {_NORMED_DOCS_SQL}
    ), {near_dup_pairs_ctes("docs")}, {COMPONENTS_CTES}, labeled AS (
        SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
        FROM docs d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT l.doc_id, l.cluster_id, s.cluster_size,
           l.doc_id = l.cluster_id AS is_canonical
    FROM labeled l
    JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
          FROM labeled GROUP BY cluster_id) s USING (cluster_id)
    ORDER BY l.doc_id
""",
}

# ---------------------------------------------------------------------------
# SimHash / MinHash full oracles (VERDICT r10 #6). Previously rows-only
# under the claim "md5-hex→int is not portable SQL" — disproved: DuckDB
# casts '0x' || substr(md5(x), 1, 15) to BIGINT bit-identically to Spark's
# conv(substring(md5(x), 1, 15), 16, 10).cast(long) (all 60-bit values are
# non-negative, so % and >> agree too). Every stage below replays
# llm/dedup.py EXACTLY — including capped_band_candidates' oversized-bucket
# star degradation (group-member stars around the per-signature-group min
# doc, group reps starred around the bucket min doc), so the oracle checks
# the true scale-path semantics, not an uncapped approximation. The star
# branch is exercised by a planted >cap duplicate family in
# tests/test_oracle_differential.py.

_H60 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"
_CAP = D.DEFAULT_BUCKET_CAP

# simhash: per token occurrence, bit i of the 60-bit token hash votes ±1;
# signature bit i set iff the vote sum is positive (llm/dedup.py
# simhash_signatures — the wide 60-sum aggregate, one GROUP BY).
_VOTES = ",\n               ".join(
    f"SUM(((h >> {i}) & 1) * 2 - 1) AS v{i}" for i in range(60))
_SIG = " + ".join(
    f"(CASE WHEN v{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) "
    f"ELSE CAST(0 AS BIGINT) END)" for i in range(60))
_SIMHASH_CTES = f"""
    normed AS (
        {_NORMED_DOCS_SQL}
    ), hashed AS (
        SELECT doc_id, {_H60.format(x="tok")} AS h
        FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS tok
              FROM normed)
    ), votes AS (
        SELECT doc_id, {_VOTES}
        FROM hashed GROUP BY doc_id
    ), sig AS (
        SELECT doc_id, CAST({_SIG} AS BIGINT) AS simhash FROM votes
    )"""

ORACLES["dedup_simhash"] = f"""
    WITH {_SIMHASH_CTES}
    SELECT doc_id, simhash,
           simhash % 32768 AS band_0,
           (simhash >> 15) % 32768 AS band_1,
           (simhash >> 30) % 32768 AS band_2,
           (simhash >> 45) % 32768 AS band_3
    FROM sig
    ORDER BY doc_id
"""


def _capped_cand_ctes(group_col: str) -> str:
    """CTEs replaying ``llm.dedup.capped_band_candidates`` over a ``bands``
    CTE of (doc_id, band_id, band_key, {group_col}): all-pairs inside
    buckets of ≤ cap docs; inside an OVERSIZED bucket, each non-rep member
    pairs with its {group_col}-group's min-doc rep, and group reps pair
    with the bucket's min-doc rep — B−1 candidates instead of B(B−1)/2."""
    return f"""
    , bsizes AS (
        SELECT band_id, band_key, COUNT(*) AS bn, MIN(doc_id) AS rep_id
        FROM bands GROUP BY band_id, band_key
    ), ann AS (
        SELECT b.*, s.bn, s.rep_id
        FROM bands b JOIN bsizes s USING (band_id, band_key)
    ), cand_small AS (
        SELECT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2
        FROM ann x JOIN bands y USING (band_id, band_key)
        WHERE x.bn <= {_CAP} AND x.doc_id < y.doc_id
    ), gsizes AS (
        SELECT band_id, band_key, {group_col}, MIN(doc_id) AS grep_id
        FROM ann WHERE bn > {_CAP}
        GROUP BY band_id, band_key, {group_col}
    ), bigg AS (
        SELECT a.doc_id, a.rep_id, g.grep_id
        FROM ann a JOIN gsizes g USING (band_id, band_key, {group_col})
        WHERE a.bn > {_CAP}
    ), cand AS (
        SELECT DISTINCT doc_id_1, doc_id_2 FROM (
            SELECT * FROM cand_small
            UNION ALL
            SELECT grep_id, doc_id FROM bigg WHERE doc_id > grep_id
            UNION ALL
            SELECT rep_id, doc_id FROM bigg
            WHERE doc_id = grep_id AND doc_id > rep_id
        )
    )"""


# simhash near-pairs at max_hamming=6: 7 bands over the 60 bits (six
# 8-bit + one 12-bit — llm/dedup.py simhash_near_pairs' derived split),
# group col = the signature itself.
_SH_BANDS = "\n        UNION ALL ".join(
    f"SELECT doc_id, simhash, {i} AS band_id, "
    f"CAST((simhash >> {8 * i}) & {255 if i < 6 else 4095} AS BIGINT) "
    f"AS band_key FROM sig"
    for i in range(7))

ORACLES["dedup_simhash_pairs"] = f"""
    WITH {_SIMHASH_CTES}
    , bands AS (
        {_SH_BANDS}
    ){_capped_cand_ctes("simhash")}
    SELECT c.doc_id_1, c.doc_id_2,
           CAST(bit_count(xor(s1.simhash, s2.simhash)) AS INT)
               AS hamming_distance
    FROM cand c
    JOIN sig s1 ON c.doc_id_1 = s1.doc_id
    JOIN sig s2 ON c.doc_id_2 = s2.doc_id
    WHERE bit_count(xor(s1.simhash, s2.simhash)) <= 6
    ORDER BY c.doc_id_1, c.doc_id_2
"""


# minhash-LSH: 32 permutations (the engine's make_permutations(32, seed=42)
# constants embedded as literals), 8 bands of 4 rows, md5 band keys,
# sig_hash group col, exact-Jaccard verify ≥ 0.5 restricted to candidates.
_PERMS = D.make_permutations(32, seed=42)
_MINS = ",\n               ".join(
    f"MIN(({a} * h + {b}) % {D.MERSENNE}) AS s{i}"
    for i, (a, b) in enumerate(_PERMS))
_MH_BANDCOLS = ",\n               ".join(
    "md5(concat_ws(',', "
    + ", ".join(f"s{i}" for i in range(4 * j, 4 * j + 4))
    + f")) AS band_{j}" for j in range(8))
_MH_ALLBANDS = ", ".join(f"band_{j}" for j in range(8))
_MH_BANDS = "\n        UNION ALL ".join(
    f"SELECT doc_id, sig_hash, {j} AS band_id, band_{j} AS band_key "
    f"FROM sigh" for j in range(8))

ORACLES["dedup_minhash_lsh"] = f"""
    WITH docs AS (
        {_NORMED_DOCS_SQL}
    ), tok AS (
        SELECT doc_id, string_split(norm, ' ') AS toks FROM docs
    ), sh AS (
        SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle
        FROM tok
    ), hashed AS (
        SELECT doc_id, {_H60.format(x="shingle")} % {D.MERSENNE} AS h
        FROM sh
    ), sigs AS (
        SELECT doc_id, {_MINS}
        FROM hashed GROUP BY doc_id
    ), wide AS (
        SELECT doc_id, {_MH_BANDCOLS} FROM sigs
    ), sigh AS (
        SELECT doc_id, md5(concat_ws(',', {_MH_ALLBANDS})) AS sig_hash,
               {_MH_ALLBANDS}
        FROM wide
    ), bands AS (
        {_MH_BANDS}
    ){_capped_cand_ctes("sig_hash")}
    , ssizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), shared AS (
        SELECT c.doc_id_1, c.doc_id_2, COUNT(*) AS shared
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_id_1
        JOIN sh b ON b.doc_id = c.doc_id_2 AND a.shingle = b.shingle
        GROUP BY c.doc_id_1, c.doc_id_2
    )
    SELECT c.doc_id_1, c.doc_id_2,
           CAST(COALESCE(s.shared, 0) AS BIGINT) AS shared_shingles,
           COALESCE(s.shared / (n1.n + n2.n - s.shared), 0.0) AS jaccard
    FROM cand c
    LEFT JOIN shared s USING (doc_id_1, doc_id_2)
    JOIN ssizes n1 ON n1.doc_id = c.doc_id_1
    JOIN ssizes n2 ON n2.doc_id = c.doc_id_2
    WHERE COALESCE(s.shared / (n1.n + n2.n - s.shared), 0.0) >= 0.5
    ORDER BY c.doc_id_1, c.doc_id_2
"""
