"""Corpus curation: benchmark-contamination detection.

Before training, every serious LLM data pipeline checks the corpus against
held-out evaluation sets: a document sharing word n-grams with a benchmark
document must be flagged (and usually dropped). This module implements the
standard n-gram-overlap decontamination check as a pure DataFrame plan.

Scale shape: the benchmark side is small by construction (eval sets are
thousands of docs, the corpus is billions), so the gram join broadcasts the
benchmark grams — corpus-side work is one scan + explode + map-side join +
one hash aggregate keyed by doc_id. No corpus×corpus pair ever forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import bind
from ..llm.dedup import norm_text
from ..tables import SPREAD_TEXT_MIN_BYTES_PER_CORE, load, spread
from .llm_dedup import NORM_SQL

# Word n-gram width for the contamination check (13 is the published
# GPT-3/PaLM convention; 5 keeps overlap observable on the tiny test corpus).
NGRAM_N = 5

# Synthetic benchmark membership: every 97th document stands in for the
# held-out eval set (deterministic, engine-portable).
BENCH_MOD = 97


def is_bench() -> F.Column:
    """Benchmark membership of a row's ``doc_id``."""
    return F.col("doc_id") % BENCH_MOD == 0


def gram_tokens(text: F.Column) -> F.Column:
    """Word tokens for the NGRAM_N-gram window: the trim-LAST norm
    (``llm.dedup.norm_text``) split on the literal single space — one
    regex rewrite of the corpus bytes plus a trivial split, and no
    phantom empty edge tokens when text carries leading/trailing
    non-space whitespace (Spark's ``trim`` strips only spaces, so the old
    trim-first forms kept a trailing newline as a trailing empty token).
    The DuckDB oracles mirror the same order; the engine-level whitespace
    envelope stays pinned in tests/test_text_parity.py."""
    return F.split(norm_text(text), " ")


def word_grams(t: F.Column) -> F.Column:
    """The sliding window of word NGRAM_N-grams over the token array
    ``t`` (:func:`gram_tokens`). Pass ``t`` as a lambda VARIABLE through
    ``functions.bind``: a captured token expression re-evaluates the
    split+regex per gram index (O(tokens x doc_bytes) per row). Not total
    — sequence(1, n<1) runs DESCENDING — so callers drop or guard docs
    shorter than NGRAM_N."""
    return F.transform(
        F.sequence(F.lit(1), F.size(t) - (NGRAM_N - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, NGRAM_N)),
    )


def _gram_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document array of distinct word NGRAM_N-grams (map-side only:
    normalize → split → sliding window → array_distinct, no explode).

    Size-adaptive spread (r12): the caller localCheckpoints this table,
    so the gram build runs ONCE — repartitioning a SMALL corpus ahead of
    a single narrow pass costs more than it saves (measured ABBA at
    local[32]: contamination_check 1.44 → 1.04 s at 0.59 MB where bare
    wins, 3.39 → 2.73 s at ~3 MB where spread wins). min_bytes takes the
    measured branch at each scale; no-op at cluster scale."""
    d = spread(load(spark, sf_dir, "documents"), spark,
               min_bytes_per_core=SPREAD_TEXT_MIN_BYTES_PER_CORE)
    toks = gram_tokens(F.col("text"))
    return (
        d.filter(F.size(toks) >= NGRAM_N)
        .select("doc_id", "lang",
                F.array_distinct(bind(toks, word_grams)).alias("grams"))
    )


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document benchmark contamination: distinct grams, grams shared
    with the benchmark set, and the contaminated flag.

    Plan shape: per-doc gram totals are ``size(grams)`` — computed map-side
    with NO explode or shuffle; the only exploded path is the corpus→
    benchmark gram join (benchmark side broadcast — eval sets are tiny
    next to the corpus), aggregated once by doc_id. The corpus text is
    scanned twice (totals + hits), which at 100 TB beats shuffling an
    exploded gram stream three times."""
    # The gram table is consumed THREE times (benchmark branch + hits
    # explode + totals), so without the checkpoint the scan→normalize→
    # split→sliding-window subtree runs ~2x over the full corpus per
    # action (the benchmark branch prunes to 1/97th of docs first).
    # Measured at sf0.1: 1.15 s → 1.04 s median; the saving is one full
    # corpus gram-build pass, which grows with corpus bytes. Same
    # non-replicated-blocks trade as the shingle checkpoints
    # (llm/dedup.py): at cluster scale, a parquet-materialized gram
    # table (the materialize_minhash / minhash_pairs_from_tables pattern)
    # is the replicated path.
    base = _gram_arrays(spark, sf_dir).localCheckpoint(eager=False)
    bench_grams = (base.filter(is_bench())
                   .select(F.explode("grams").alias("gram")).distinct())
    corpus = base.filter(~is_bench())
    hits = (
        corpus.select("doc_id", F.explode("grams").alias("gram"))
        .join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared_grams"))
    )
    totals = corpus.select(
        "doc_id", "lang", F.size("grams").cast("long").alias("n_grams"))
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id", "lang", "n_grams",
            F.coalesce(F.col("shared_grams"), F.lit(0).cast("long"))
            .alias("shared_grams"),
            (F.coalesce(F.col("shared_grams"), F.lit(0)) > 0)
            .alias("contaminated"),
        )
        .orderBy("doc_id")
    )


QUERIES = {"contamination_check": contamination_check}

_GRAMS = f"""
    SELECT doc_id, lang,
           unnest(list_distinct(list_transform(
               generate_series(1, len(t) - {NGRAM_N - 1}),
               i -> array_to_string(t[i:i+{NGRAM_N - 1}], ' ')))) AS gram
    FROM (
        SELECT doc_id, lang,
               string_split({NORM_SQL}, ' ') AS t
        FROM documents
    )
    WHERE len(t) >= {NGRAM_N}
"""

ORACLES = {
    "contamination_check": f"""
        WITH grams AS ({_GRAMS}),
        bench AS (
            SELECT DISTINCT gram FROM grams WHERE doc_id % {BENCH_MOD} = 0
        ),
        corpus AS (
            SELECT * FROM grams WHERE doc_id % {BENCH_MOD} <> 0
        ),
        hits AS (
            SELECT c.doc_id, COUNT(*) AS shared_grams
            FROM corpus c JOIN bench b ON c.gram = b.gram
            GROUP BY c.doc_id
        ),
        totals AS (
            SELECT doc_id, lang, COUNT(*) AS n_grams
            FROM corpus GROUP BY doc_id, lang
        )
        SELECT t.doc_id, t.lang, t.n_grams,
               COALESCE(h.shared_grams, 0) AS shared_grams,
               COALESCE(h.shared_grams, 0) > 0 AS contaminated
        FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
        ORDER BY t.doc_id
    """,
}
