"""Training-data sampling, mixing, and sequence packing.

The operations a large-scale LLM data pipeline runs between curation and
tokenization: deterministic stratified sampling (per-language rates),
fixed-size per-stratum samples, dataset mixing with integer weights, and
contiguous sequence packing into fixed token budgets (the concat-and-chunk
step that turns documents into training rows).

Determinism contract: sampling decisions hash the row key through md5 and
compare the hex prefix lexicographically — engine-portable (Spark and
DuckDB emit identical lowercase-hex md5) and reproducible under any
partitioning, unlike ``rand()``/``TABLESAMPLE``. Scale notes per query;
none shuffles more than once per aggregate, none collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..llm.dedup import ws_token_count
from ..tables import load

# Per-language keep rates as hex-prefix ceilings: keep iff the first two
# md5 hex chars of the doc key sort below the ceiling. '33' = 51/256 ≈ 20%
# (downsample the majority language), '80' = 128/256 = 50% (upsample the
# rest) — the up/down-sampling shape of a training-mix spec.
STRATUM_CEILING = {"en": "33"}
DEFAULT_CEILING = "80"

# Fixed context-window token budget for sequence packing.
PACK_BUDGET = 512


def assign_pack_bins(toks: DataFrame, *carry: str) -> DataFrame:
    """THE concat-and-chunk bin rule — one definition for every packer.

    Documents lie end-to-end per language in doc_id order; a doc's bin is
    its starting offset ``div PACK_BUDGET`` (window cumsum minus own
    count). Shared by :func:`pack_sequences`, :func:`pack_sequences_rows`
    and the corpus runner's ``stage_pack`` — the query/pipeline parity
    contract (and the DuckDB oracle twins) depend on the copies never
    drifting, so, as with ``gate_predicate``, there are no copies.

    ``toks`` must carry (doc_id, lang, n_tokens); ``carry`` lists extra
    payload columns to keep (e.g. doc_id/text for the materialized rows).
    Output: (*carry, lang, n_tokens, bin_id).
    """
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (toks
            .select(*carry, "lang", "n_tokens",
                    ((F.sum("n_tokens").over(w) - F.col("n_tokens"))
                     .cast("long")).alias("start_offset"))
            .select(*carry, "lang", "n_tokens",
                    F.expr(f"start_offset div {PACK_BUDGET}")
                    .alias("bin_id")))


def pack_bin_stats(binned: DataFrame) -> DataFrame:
    """Per-bin packing stats over :func:`assign_pack_bins` output."""
    return (binned.groupBy("lang", "bin_id")
            .agg(F.count("*").alias("docs_in_bin"),
                 F.sum("n_tokens").alias("bin_tokens"))
            .orderBy("lang", "bin_id"))


def sample_rule() -> tuple[F.Column, F.Column, F.Column]:
    """THE stratified-sample rule over (doc_id, lang) columns, shared by
    :func:`sample_stratified` and the corpus runner's ``stage_sample``:
    ``(keep, bucket, ceiling)``, where ``bucket`` is the doc's
    deterministic 2-hex-char md5 bucket (uniform over 256), ``ceiling``
    its language's hex-prefix ceiling, and ``keep`` = bucket < ceiling."""
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    ceiling = F.when(F.col("lang") == "en", F.lit(STRATUM_CEILING["en"])) \
        .otherwise(F.lit(DEFAULT_CEILING))
    return bucket < ceiling, bucket, ceiling


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified document sample: per-language keep rates
    via md5-prefix thresholding. Pure map-side filter — no shuffle, no
    rand(); the same rows are kept on 1 executor or 1000."""
    keep, bucket, ceiling = sample_rule()
    return (
        load(spark, sf_dir, "documents").filter(keep)
        .select("doc_id", "lang", "source", "n_chars",
                bucket.alias("bucket"), ceiling.alias("ceiling"))
        .orderBy("doc_id")
    )


def sample_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-stratum sample: the 5 lowest-hashed docs per
    (lang, source) — a deterministic reservoir. One shuffle on the stratum
    key; row_number is rank-k per group, so each group's state is bounded."""
    d = load(spark, sf_dir, "documents")
    w = (Window.partitionBy("lang", "source")
         .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id")))
    return (
        d.select("doc_id", "lang", "source",
                 F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= 5)
        .orderBy("lang", "source", "sample_rank")
    )


def mix_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixing: integer upweights per source bucket, effective token
    counts, and each source's share of the mixed corpus in basis points.
    Integer weights keep every sum exact (BIGINT) so the mix shares are
    bit-identical across engines; the share itself is one integer division
    per row. Plan: one hash aggregate + broadcast of the one-row total.

    NULL-text docs are excluded up front: Spark's size(split(NULL)) is -1
    while SQL engines yield NULL, so an unfiltered sum silently diverges
    on any corpus with NULL docs (dq_documents anticipates them)."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    n_tokens = ws_token_count("text").cast("long")
    # curated/high-quality buckets get 3x epochs, the rest 1x
    weight = F.when(F.col("source").isin("src1", "src2", "src3"), F.lit(3)) \
        .otherwise(F.lit(1))
    per_source = (
        d.select("source", weight.alias("weight"), n_tokens.alias("n_tokens"))
        .groupBy("source", "weight")
        .agg(F.count("*").alias("docs"),
             F.sum("n_tokens").alias("tokens"))
        .withColumn("effective_tokens", F.col("weight") * F.col("tokens"))
    )
    total = per_source.agg(
        F.sum("effective_tokens").alias("total_effective"))
    return (
        per_source.crossJoin(F.broadcast(total))
        .select(
            "source", "weight", "docs", "tokens", "effective_tokens",
            # integer division on BOTH engines (Spark div / DuckDB //):
            # double division + cast rounds differently across engines
            F.expr("effective_tokens * 10000 div total_effective")
            .alias("mix_share_bps"),
        )
        .orderBy("source")
    )


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing (concat-and-chunk): documents are laid
    end-to-end per language in doc_id order and cut into PACK_BUDGET-token
    bins; a doc's bin is its starting offset div the budget. Per-bin stats
    (docs, tokens, fill) drive the padding-waste metric training teams
    watch. One window (partitioned by lang — bounded state, streaming
    frame) + one hash aggregate; at 100 TB the window key would gain a
    shard component (lang, file_group) to bound partition size.

    NULL-text docs are excluded (size(split(NULL)) = -1 in Spark vs NULL
    in SQL — a negative token count would corrupt every bin offset)."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    n_tokens = ws_token_count("text").cast("long")
    toks = d.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    return (
        pack_bin_stats(assign_pack_bins(toks))
        .withColumn("fill_bps",
                    F.expr(f"bin_tokens * 10000 div {PACK_BUDGET}"))
    )


def pack_sequences_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed training rows: each bin's documents concatenated
    in doc_id order into one training-example text (with doc boundaries),
    plus the id list for lineage. collect_list carries (doc_id, text)
    structs; array_sort makes the in-bin order deterministic regardless of
    partitioning — the shuffle is the same one hash aggregate as
    `pack_sequences`, just carrying text payloads. NULL-text docs are
    excluded, matching pack_sequences (and the -1-vs-NULL engine delta)."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    n_tokens = ws_token_count("text").cast("long")
    binned = assign_pack_bins(
        d.select("doc_id", "lang", "text", n_tokens.alias("n_tokens")),
        "doc_id", "text")
    packed = (
        binned.groupBy("lang", "bin_id")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "text")))
             .alias("members"),
             F.sum("n_tokens").alias("bin_tokens"))
    )
    return packed.select(
        "lang", "bin_id",
        # Joined string, not array<long>: the driver's pandas canonicalizer
        # cannot sort/hash list cells, and a delimited string keeps the
        # same lineage information on both the Spark and DuckDB sides.
        F.concat_ws(
            ",", F.transform("members", lambda m: m["doc_id"].cast("string"))
        ).alias("doc_ids"),
        F.concat_ws("\n\n", F.transform("members", lambda m: m["text"]))
        .alias("packed_text"),
        "bin_tokens",
    ).orderBy("lang", "bin_id")


QUERIES = {
    "sample_stratified": sample_stratified,
    "sample_per_stratum": sample_per_stratum,
    "mix_datasets": mix_datasets,
    "pack_sequences": pack_sequences,
    "pack_sequences_rows": pack_sequences_rows,
}

ORACLES = {
    "sample_stratified": f"""
        SELECT doc_id, lang, source, n_chars,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
               CASE WHEN lang = 'en' THEN '{STRATUM_CEILING["en"]}'
                    ELSE '{DEFAULT_CEILING}' END AS ceiling
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
              < CASE WHEN lang = 'en' THEN '{STRATUM_CEILING["en"]}'
                     ELSE '{DEFAULT_CEILING}' END
        ORDER BY doc_id
    """,
    "sample_per_stratum": """
        SELECT doc_id, lang, source, sample_rank
        FROM (
            SELECT doc_id, lang, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang, source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS sample_rank
            FROM documents
        )
        WHERE sample_rank <= 5
        ORDER BY lang, source, sample_rank
    """,
    "mix_datasets": """
        WITH per_source AS (
            SELECT source,
                   CASE WHEN source IN ('src1','src2','src3') THEN 3
                        ELSE 1 END AS weight,
                   COUNT(*) AS docs,
                   CAST(SUM(CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' '))
                                 AS BIGINT)) AS BIGINT) AS tokens
            FROM documents
            WHERE text IS NOT NULL
            GROUP BY 1, 2
        ),
        weighted AS (
            SELECT *, CAST(weight * tokens AS BIGINT) AS effective_tokens
            FROM per_source
        ),
        total AS (
            SELECT SUM(effective_tokens) AS total_effective FROM weighted
        )
        SELECT source, weight, docs, tokens, effective_tokens,
               CAST(effective_tokens * 10000 // total_effective AS BIGINT)
                   AS mix_share_bps
        FROM weighted, total
        ORDER BY source
    """,
    "pack_sequences_rows": f"""
        WITH binned AS (
            SELECT doc_id, lang, text,
                   CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' '))
                        AS BIGINT) AS n_tokens,
                   CAST(SUM(CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' '))
                                 AS BIGINT)) OVER (
                            PARTITION BY lang ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW
                        ) - CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' '))
                                 AS BIGINT) AS BIGINT)
                       // {PACK_BUDGET} AS bin_id
            FROM documents
            WHERE text IS NOT NULL
        )
        SELECT lang, bin_id,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                   AS doc_ids,
               string_agg(text, chr(10) || chr(10) ORDER BY doc_id)
                   AS packed_text,
               CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
        FROM binned
        GROUP BY lang, bin_id
        ORDER BY lang, bin_id
    """,
    "pack_sequences": f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' '))
                        AS BIGINT) AS n_tokens
            FROM documents
            WHERE text IS NOT NULL
        ),
        binned AS (
            SELECT lang, n_tokens,
                   CAST(SUM(n_tokens) OVER (
                            PARTITION BY lang ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW
                        ) - n_tokens AS BIGINT) // {PACK_BUDGET} AS bin_id
            FROM toks
        )
        SELECT lang, bin_id,
               COUNT(*) AS docs_in_bin,
               CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
               CAST(SUM(n_tokens) * 10000 // {PACK_BUDGET} AS BIGINT)
                   AS fill_bps
        FROM binned
        GROUP BY lang, bin_id
        ORDER BY lang, bin_id
    """,
}
