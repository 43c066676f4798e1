"""Text-analysis operators for LLM training-data pipelines.

Engine extensions beyond the reference (BASELINE.json north star): language
ID (marker-word n-gram heuristic), quality scoring (length / punctuation /
stopword ratios), token counting, document fingerprinting, corpus token
histogram. All are built-in-expression only (regexp/split/length — JVM-side,
codegen'd); no Python UDFs, so they scale linearly with input and survive
100 TB (the only shuffle is the token histogram's groupBy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import bind
from ..llm.dedup import content_hash, has_text, norm_text, ws_token_count
from ..tables import SPREAD_TEXT_MIN_BYTES_PER_CORE, load, spread
from .llm_dedup import NORM_SQL

STOPWORDS = ("the", "a", "and", "of", "to", "in")

# Word counting WITHOUT regex \b: the engines' word-boundary classes
# genuinely diverge — Java treats Unicode letters as word characters
# ('éa' hides the 'a'), RE2/DuckDB's \w is ASCII-only (it doesn't) —
# so a \b-based count silently disagrees on any accented/CJK-adjacent
# word. A vocabulary word instead matches a maximal [a-z0-9]+ RUN of
# the lowercased text: one explicit semantics both engines implement
# identically (probed across accents/CJK/emoji/NUL in
# tests/test_oracle_differential.py).
_RUN_SPLIT = r"[^a-z0-9]+"


def word_run_count(text_col, words: tuple[str, ...]):
    """Spark side: count maximal ASCII-alnum runs equal to a vocab word."""
    toks = F.split(F.lower(text_col), _RUN_SPLIT)
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def word_run_count_sql(words: tuple[str, ...]) -> str:
    """DuckDB twin of :func:`word_run_count` over the ``text`` column."""
    inlist = ", ".join(f"'{w}'" for w in words)
    return ("len(list_filter(string_split_regex(lower(text), "
            f"'[^a-z0-9]+'), t -> t IN ({inlist})))")


_STOP_COUNT_SQL = word_run_count_sql(STOPWORDS)

# marker-word vocabularies per language (n-gram heuristic; deterministic
# tie-break by vocabulary order)
LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "was"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "las", "es"),
    "fr": ("le", "la", "les", "est", "et"),
}


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: token count, char ratios, stopword
    ratio, and a composite quality score."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    text = F.col("text")
    n_chars = F.length(text)
    n_tokens = ws_token_count(text)
    n_nonspace = F.length(F.regexp_replace(text, r"\s", ""))
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    n_stop = word_run_count(text, STOPWORDS)
    punct_ratio = n_punct / n_chars
    stop_ratio = n_stop / n_tokens
    return (
        d.filter(has_text(text))
        .select(
            F.col("doc_id"),
            F.col("lang").alias("lang_label"),
            n_chars.alias("n_chars"),
            n_tokens.cast("long").alias("n_tokens"),
            (n_nonspace / n_tokens).alias("avg_token_len"),
            punct_ratio.alias("punct_ratio"),
            n_stop.cast("long").alias("stopword_count"),
            stop_ratio.alias("stopword_ratio"),
            # composite quality score: enough tokens, low punct noise,
            # non-degenerate stopword mix
            (F.least(n_tokens / F.lit(50.0), F.lit(1.0))
             * (1 - punct_ratio)
             * F.when(stop_ratio.between(0.01, 0.6), 1.0).otherwise(0.5)
             ).alias("quality_score"),
        )
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: score each language vocabulary per document,
    argmax with deterministic tie-break; compare against the lang label."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    scores = {k: word_run_count(F.col("text"), words)
              for k, words in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # reversed so earlier vocabularies win ties (deterministic)
    for k in reversed(list(scores)):
        pred = F.when((scores[k] == best) & (best > 0), k).otherwise(pred)
    return d.select(
        F.col("doc_id"),
        F.col("lang").alias("lang_label"),
        *[v.cast("long").alias(f"score_{k}") for k, v in scores.items()],
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("matches_label"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprints: md5 of whitespace-normalized
    lowercase text, plus prefix/suffix block hashes (cheap near-dup signal)."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    norm = norm_text(F.col("text"))
    return d.select(
        F.col("doc_id"),
        F.md5(norm).alias("fingerprint"),
        F.md5(F.substring(norm, 1, 64)).alias("prefix_fingerprint"),
        F.md5(F.right(norm, F.lit(64))).alias("suffix_fingerprint"),
        F.length(norm).alias("norm_length"),
    )


# BPE-ish subword proxy: letter runs, single digits, single punctuation —
# the shape (not the merges) of a byte-pair tokenizer, portable to RE2.
_BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting under two tokenizers: whitespace split
    vs a BPE-ish regex (letter runs / digits / punctuation), plus the
    fertility ratio used to budget LLM training tokens. Pure regexp
    expressions — codegen'd, shuffle-free, linear at 100 TB."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    text = F.col("text")
    n_ws = ws_token_count(text).cast("long")
    n_bpe = F.regexp_count(text, F.lit(_BPE_RE)).cast("long")
    n_nonspace = F.length(F.regexp_replace(text, r"\s", ""))
    return (
        d.filter(has_text(text))
        .select(
            F.col("doc_id"),
            n_ws.alias("n_ws_tokens"),
            n_bpe.alias("n_bpe_tokens"),
            (n_bpe / n_ws).alias("bpe_per_word"),
            (n_nonspace / n_bpe).alias("chars_per_bpe_token"),
        )
    )


def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency: explode → groupBy → top 100 with deterministic
    tie-break. At 100 TB this is the canonical two-stage (partial + final)
    hash aggregate; no other shuffle."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    tok = F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    return (
        d.filter(has_text("text"))
        .select(tok.alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(100)
    )


QUERIES = {
    "text_stats": text_stats,
    "lang_id": lang_id,
    "doc_fingerprint": doc_fingerprint,
    "token_count_bpe": token_count_bpe,
    "token_histogram": token_histogram,
}

_LANG_SCORE_SQL = {
    k: word_run_count_sql(words) for k, words in LANG_MARKERS.items()
}
_BEST = "greatest(" + ", ".join(_LANG_SCORE_SQL.values()) + ")"
_PRED = "CASE "
for _k in LANG_MARKERS:  # first vocabulary wins ties, same as Spark side
    _PRED += (f"WHEN {_LANG_SCORE_SQL[_k]} = {_BEST} AND {_BEST} > 0 "
              f"THEN '{_k}' ")
_PRED += "ELSE 'und' END"

ORACLES = {
    "text_stats": f"""
        SELECT
            doc_id,
            lang AS lang_label,
            length(text) AS n_chars,
            CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' ')) AS BIGINT)
                AS n_tokens,
            length(regexp_replace(text, '\\s', '', 'g'))
                / len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' '))
                AS avg_token_len,
            length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text)
                AS punct_ratio,
            CAST({_STOP_COUNT_SQL} AS BIGINT)
                AS stopword_count,
            {_STOP_COUNT_SQL}
                / len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' '))
                AS stopword_ratio,
            least(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' ')) / 50.0, 1.0)
            * (1 - length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                   / length(text))
            * CASE WHEN {_STOP_COUNT_SQL}
                        / len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' '))
                        BETWEEN 0.01 AND 0.6
                   THEN 1.0 ELSE 0.5 END AS quality_score
        FROM documents
        WHERE text IS NOT NULL AND regexp_matches(text, '\\S')
    """,
    "lang_id": f"""
        SELECT
            doc_id,
            lang AS lang_label,
            {", ".join(f"CAST({v} AS BIGINT) AS score_{k}"
                       for k, v in _LANG_SCORE_SQL.items())},
            {_PRED} AS predicted_lang,
            {_PRED} = lang AS matches_label
        FROM documents
    """,
    "doc_fingerprint": f"""
        SELECT
            doc_id,
            md5({NORM_SQL})
                AS fingerprint,
            md5(substr({NORM_SQL},
                       1, 64)) AS prefix_fingerprint,
            md5(right({NORM_SQL}, 64))
                AS suffix_fingerprint,
            length({NORM_SQL})
                AS norm_length
        FROM documents
    """,
    "token_count_bpe": f"""
        SELECT
            doc_id,
            CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' ')) AS BIGINT)
                AS n_ws_tokens,
            CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
                AS n_bpe_tokens,
            len(regexp_extract_all(text, '{_BPE_RE}'))
                / len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' '))
                AS bpe_per_word,
            length(regexp_replace(text, '\\s', '', 'g'))
                / len(regexp_extract_all(text, '{_BPE_RE}'))
                AS chars_per_bpe_token
        FROM documents
        WHERE text IS NOT NULL AND regexp_matches(text, '\\S')
    """,
    "token_histogram": """
        SELECT token, COUNT(*) AS freq
        FROM (SELECT unnest(regexp_split_to_array(lower(trim(text, ' ')), '\\s+'))
                  AS token
              FROM documents
              WHERE text IS NOT NULL AND regexp_matches(text, '\\S'))
        WHERE token <> ''
        GROUP BY token
        ORDER BY freq DESC, token
        LIMIT 100
    """,
}


def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus prep: quality gate (the corpus
    runner's ``gate_predicate``: length + punct + stopword mix) →
    exact-dedup keeper selection → per-language corpus stats. The
    canonical LLM-data funnel, composed from the same expressions the
    individual queries verify — one scan, one groupBy for the dedup, one
    for the stats; linear at 100 TB.

    Size-adaptive spread (r12): Catalyst already reuses the content_hash
    exchange across the keeper/labeled branches, so the gate expressions
    run once — at small corpus sizes the raw-text repartition costs more
    than it saves (measured ABBA at local[32]: 1.33 → 1.18 s at 0.59 MB),
    while past the ``SPREAD_TEXT_MIN_BYTES_PER_CORE`` crossover the serial gate
    pass dominates and spread pays again; no-op at cluster scale."""
    from ..llm.pipeline import gate_predicate, stage_raw
    d = spread(load(spark, sf_dir, "documents"), spark,
               min_bytes_per_core=SPREAD_TEXT_MIN_BYTES_PER_CORE)
    gated = (
        stage_raw(d).filter(gate_predicate())
        .select("doc_id", "lang",
                content_hash("text").alias("content_hash"), "n_tokens")
    )
    # Per-language accounting at each doc's OWN language: dup groups span
    # languages in real corpora (the generator assigns lang independently
    # of duplicated text), so attributing a whole group's removals to the
    # KEEPER's lang — the earlier form, mirrored by the oracle and thus
    # invisible to the hash gate — miscounted every cross-language dup.
    keepers = gated.groupBy("content_hash").agg(
        F.min("doc_id").alias("keeper_id"))
    labeled = gated.join(keepers, "content_hash")
    kept = (labeled.filter(F.col("doc_id") == F.col("keeper_id"))
            .groupBy("lang")
            .agg(F.count("*").alias("kept_docs"),
                 F.sum("n_tokens").alias("kept_tokens")))
    removed = (labeled.filter(F.col("doc_id") != F.col("keeper_id"))
               .groupBy("lang")
               .agg(F.count("*").alias("dups_removed")))
    return (
        kept.join(removed, "lang", "full_outer")
        .select("lang",
                F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
                F.coalesce("kept_tokens", F.lit(0).cast("long"))
                .alias("kept_tokens"),
                F.coalesce("dups_removed", F.lit(0)).alias("dups_removed"))
        .orderBy("lang")
    )


QUERIES["corpus_prep"] = corpus_prep

ORACLES["corpus_prep"] = f"""
    WITH gated AS (
        SELECT doc_id, lang,
               md5({NORM_SQL})
                   AS content_hash,
               CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' ')) AS BIGINT)
                   AS n_tokens
        FROM documents
        WHERE text IS NOT NULL AND regexp_matches(text, '\\S')
          AND len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' ')) >= 5
          AND length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 5
              < length(text)
          AND {_STOP_COUNT_SQL} * 100
              >= len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' '))
          AND {_STOP_COUNT_SQL} * 10
              <= len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g'), ' '), ' ')) * 6
    ), keepers AS (
        SELECT content_hash, MIN(doc_id) AS keeper_id
        FROM gated GROUP BY content_hash
    ), labeled AS (
        SELECT g.*, k.keeper_id
        FROM gated g JOIN keepers k ON g.content_hash = k.content_hash
    ), kept AS (
        SELECT lang, COUNT(*) AS kept_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
        FROM labeled WHERE doc_id = keeper_id GROUP BY lang
    ), removed AS (
        SELECT lang, COUNT(*) AS dups_removed
        FROM labeled WHERE doc_id <> keeper_id GROUP BY lang
    )
    SELECT COALESCE(k.lang, r.lang) AS lang,
           CAST(COALESCE(k.kept_docs, 0) AS BIGINT) AS kept_docs,
           CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           CAST(COALESCE(r.dups_removed, 0) AS BIGINT) AS dups_removed
    FROM kept k FULL JOIN removed r ON k.lang = r.lang
    ORDER BY lang
"""


def dq_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data-quality scorecard in ONE fused aggregate pass (the
    reference's job-per-check pattern collapsed, `silver/utils/
    data_quality_checks.py` family applied to the documents table):
    null/empty text, id uniqueness, language-vocabulary conformance,
    n_chars consistency with the actual text length."""
    d = load(spark, sf_dir, "documents")
    text = F.col("text")
    return d.agg(
        F.count("*").alias("row_count"),
        F.sum(F.when(text.isNull(), 1).otherwise(0)).cast("long")
        .alias("null_text"),
        F.sum(F.when(text.isNotNull() & ~text.rlike(r"\S"), 1)
              .otherwise(0)).cast("long").alias("empty_text"),
        (F.count("*") - F.countDistinct("doc_id")).alias("dup_doc_ids"),
        F.sum(F.when(~F.col("lang").isin("en", "de", "es", "fr"), 1)
              .otherwise(0)).cast("long").alias("bad_lang"),
        F.sum(F.when(F.col("n_chars") != F.length(text), 1).otherwise(0))
        .cast("long").alias("n_chars_mismatch"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


QUERIES["dq_documents"] = dq_documents

ORACLES["dq_documents"] = """
    SELECT COUNT(*) AS row_count,
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_text,
           CAST(SUM(CASE WHEN text IS NOT NULL
                          AND NOT regexp_matches(text, '\\S')
                         THEN 1 ELSE 0 END) AS BIGINT) AS empty_text,
           COUNT(*) - COUNT(DISTINCT doc_id) AS dup_doc_ids,
           CAST(SUM(CASE WHEN lang NOT IN ('en','de','es','fr')
                         THEN 1 ELSE 0 END) AS BIGINT) AS bad_lang,
           CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_chars_mismatch,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
"""


def doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filter (the published Gopher-rules
    heuristic family): the fraction of word 2-grams that are duplicates
    of an earlier 2-gram in the SAME document. Degenerate, loopy text
    (boilerplate, keyboard mash, decoding failures) scores high and gets
    flagged. The gate is integer-exact — (total - distinct) * 5 > total
    ⇔ duplicate fraction > 20% — so borderline docs can't flip engines.
    Plan: map-side gram arrays, one hash aggregate keyed by doc."""
    d = spread(load(spark, sf_dir, "documents"), spark)
    norm = norm_text(F.col("text"))
    toks = F.split(norm, " ")
    # bind: tokens (and then the gram array) as lambda VARIABLES — a
    # lambda capture re-evaluates the whole split+regex per gram index
    # (functions.bind), and binding the grams lets total/distinct share
    # one construction instead of two
    gram_stats = bind(toks, lambda t: bind(
        F.transform(F.sequence(F.lit(1), F.size(t) - 1),
                    lambda i: F.concat_ws(" ", F.slice(t, i, 2))),
        lambda g: F.struct(
            F.size(g).cast("long").alias("total"),
            F.size(F.array_distinct(g)).cast("long").alias("distinct"))))
    per_doc = (
        d.filter(F.size(toks) >= 2)
        .select("doc_id", "lang", gram_stats.alias("__gs"))
        .select("doc_id", "lang",
                F.col("__gs.total").alias("total_2grams"),
                F.col("__gs.distinct").alias("distinct_2grams"))
    )
    dup = F.col("total_2grams") - F.col("distinct_2grams")
    return per_doc.select(
        "doc_id", "lang", "total_2grams", "distinct_2grams",
        dup.alias("duplicate_2grams"),
        (dup * 5 > F.col("total_2grams")).alias("flagged_repetitive"),
    ).orderBy("doc_id")


QUERIES["doc_repetition_filter"] = doc_repetition_filter

ORACLES["doc_repetition_filter"] = f"""
    WITH toks AS (
        SELECT doc_id, lang,
               string_split({NORM_SQL}, ' ') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, lang,
               list_transform(generate_series(1, len(t) - 1),
                              i -> array_to_string(t[i:i+1], ' ')) AS g
        FROM toks
        WHERE len(t) >= 2
    )
    SELECT doc_id, lang,
           CAST(len(g) AS BIGINT) AS total_2grams,
           CAST(len(list_distinct(g)) AS BIGINT) AS distinct_2grams,
           CAST(len(g) - len(list_distinct(g)) AS BIGINT)
               AS duplicate_2grams,
           (len(g) - len(list_distinct(g))) * 5 > len(g)
               AS flagged_repetitive
    FROM grams
    ORDER BY doc_id
"""
