"""The corpus-prep funnel as one oracle-checked query.

`corpus_funnel` evaluates the ENTIRE training-data pipeline (raw → gate →
exact dedup → near-dup clustering → decontamination → sampling,
`llm/pipeline.py`) lazily — the materializing runner's own stage chain,
with three localCheckpoints in place of parquet writes — and reports
per-stage doc/token counts. Every count is integer arithmetic, so the
DuckDB oracle replays the full composition — including the iterative
components step, expressed as a recursive CTE — and the driver
value-hashes the result. This is the end-to-end correctness anchor for
the whole LLM-pipeline surface; the materializing runner
(`run_corpus_pipeline`) is benched separately in `bench.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..tables import SPREAD_TEXT_MIN_BYTES_PER_CORE, load, spread
from .curation import BENCH_MOD, NGRAM_N
from .llm_dedup import COMPONENTS_CTES, NORM_SQL, near_dup_pairs_ctes
from .llm_text import _STOP_COUNT_SQL
from .sampling import DEFAULT_CEILING, STRATUM_CEILING


def corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Size-adaptive spread (r12): funnel()'s stage localCheckpoints keep
    # the expensive text passes from re-running per consumer, so
    # repartitioning a SMALL corpus first costs a full-text shuffle it
    # does not amortize. Measured on this chain body, same-session ABBA
    # at local[4] (floor 256 KB), 10 pairs, spread → bare medians:
    # 3.45 → 3.19 s at 65 KB (bare faster in 9/10), 5.14 → 5.43 s at
    # 0.59 MB (spread faster in 6/10). min_bytes takes the faster branch
    # at each size; no-op difference at cluster scale.
    from ..llm.pipeline import funnel
    return funnel(spread(load(spark, sf_dir, "documents"), spark,
                         min_bytes_per_core=SPREAD_TEXT_MIN_BYTES_PER_CORE))


QUERIES = {"corpus_funnel": corpus_funnel}

_GRAMS = ("list_transform(generate_series(1, greatest(len(t) - "
          f"{NGRAM_N - 1}, 0)), i -> array_to_string(t[i:i+{NGRAM_N - 1}], "
          "' '))")

ORACLES = {
    "corpus_funnel": f"""
    WITH RECURSIVE base AS (
        SELECT doc_id, lang, text, {NORM_SQL} AS norm,
               CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' '))
                    AS BIGINT) AS n_tokens
        FROM documents
        WHERE text IS NOT NULL AND regexp_matches(text, '\\S')
    ), gated AS (
        SELECT * FROM base
        WHERE n_tokens >= 5
          AND length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 5
              < length(text)
          AND {_STOP_COUNT_SQL} * 100
              >= n_tokens
          AND {_STOP_COUNT_SQL} * 10
              <= n_tokens * 6
    ), exact AS (
        SELECT * FROM gated
        QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5(norm))
    ), {near_dup_pairs_ctes("exact")}, {COMPONENTS_CTES}, canonical AS (
        SELECT e.* FROM exact e
        LEFT JOIN comp c ON e.doc_id = c.node
        WHERE c.node IS NULL OR c.comp = e.doc_id
    ), bgrams AS (
        SELECT DISTINCT unnest({_GRAMS}) AS gram
        FROM (SELECT string_split({NORM_SQL}, ' ') AS t
              FROM documents
              WHERE doc_id % {BENCH_MOD} = 0 AND text IS NOT NULL)
    ), dirty AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_id, unnest(list_distinct({_GRAMS})) AS gram
              FROM (SELECT doc_id, string_split(norm, ' ') AS t
                    FROM canonical
                    WHERE doc_id % {BENCH_MOD} <> 0)) g
        JOIN bgrams USING (gram)
    ), decontaminated AS (
        SELECT * FROM canonical
        WHERE doc_id % {BENCH_MOD} <> 0
          AND doc_id NOT IN (SELECT doc_id FROM dirty)
    ), sampled AS (
        SELECT * FROM decontaminated
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
              < CASE WHEN lang = 'en' THEN '{STRATUM_CEILING["en"]}'
                     ELSE '{DEFAULT_CEILING}' END
    )
    SELECT 0 AS stage_id, 'raw' AS stage, COUNT(*) AS docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens FROM base
    UNION ALL SELECT 1, 'gated', COUNT(*),
        CAST(SUM(n_tokens) AS BIGINT) FROM gated
    UNION ALL SELECT 2, 'exact_dedup', COUNT(*),
        CAST(SUM(n_tokens) AS BIGINT) FROM exact
    UNION ALL SELECT 3, 'near_dup_canonical', COUNT(*),
        CAST(SUM(n_tokens) AS BIGINT) FROM canonical
    UNION ALL SELECT 4, 'decontaminated', COUNT(*),
        CAST(SUM(n_tokens) AS BIGINT) FROM decontaminated
    UNION ALL SELECT 5, 'sampled', COUNT(*),
        CAST(SUM(n_tokens) AS BIGINT) FROM sampled
    ORDER BY stage_id
    """,
}
