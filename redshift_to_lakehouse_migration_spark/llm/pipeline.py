"""End-to-end training-corpus preparation pipeline.

The LLM-side counterpart of the medallion pipeline (`medallion/flow.py`):
the full funnel a training-data team runs before tokenization —

    raw → quality gate → exact dedup → near-dup clustering (drop
    non-canonical) → benchmark decontamination → stratified sampling
    → sequence packing

Each stage calls the same rule function as the standalone query that
verifies it against DuckDB, so the composed pipeline inherits those
per-stage oracles:

- raw: ``llm.dedup.has_text`` + ``ws_token_count`` (`corpus_prep` calls
  :func:`stage_raw` itself);
- gated: :func:`gate_predicate` (`corpus_prep`);
- exact_dedup: ``llm.dedup.content_hash``, keeping the min doc_id
  (`dedup_exact`, `corpus_prep`);
- near_dup_canonical: ``llm.dedup.shingle_blocks`` +
  ``near_dup_components`` (`dedup_ngram_jaccard`, `dedup_clusters`);
- decontaminated: ``queries.curation.is_bench`` + ``gram_tokens`` /
  ``word_grams`` (`contamination_check`);
- sampled: ``queries.sampling.sample_rule`` (`sample_stratified`);
- packing: ``queries.sampling.assign_pack_bins`` + ``pack_bin_stats``
  (`pack_sequences`).

The composed funnel itself is value-checked end-to-end by the
`corpus_funnel` query oracle.

The stage builders are pure DataFrame functions, wired once by
``_chain``. ``run_corpus_pipeline`` writes each stage to parquet like a
real pipeline (bronze→silver-style restartability); ``funnel`` — the
`corpus_funnel` query — evaluates the same chain lazily with zero
writes, localCheckpointing the stages it reads more than once.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import bind
from ..queries.curation import NGRAM_N, gram_tokens, is_bench, word_grams
from ..queries.sampling import sample_rule
from .dedup import (content_hash, has_text, near_dup_components,
                    shingle_blocks, ws_token_count)


def stage_raw(docs: DataFrame) -> DataFrame:
    """Non-empty documents with the token count every later stage reuses."""
    return (
        docs.filter(has_text("text"))
        .select("doc_id", "lang", "text",
                ws_token_count("text").cast("long").alias("n_tokens"))
    )


def gate_predicate() -> F.Column:
    """The quality gate over (text, n_tokens) columns, in integer
    arithmetic so borderline docs can never flip between engines (float
    ratio comparisons hash-mismatched the driver oracle in round 1):
    punct_ratio < 0.2 ⇔ n_punct*5 < n_chars; stop_ratio ∈ [0.01, 0.6] ⇔
    n_stop*100 >= n_tokens ∧ n_stop*10 <= n_tokens*6. The one definition,
    read by :func:`stage_gate` and `queries/llm_text.corpus_prep`."""
    text = F.col("text")
    n_chars = F.length(text)
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    from ..queries.llm_text import STOPWORDS, word_run_count
    n_stop = word_run_count(text, STOPWORDS)
    n_tokens = F.col("n_tokens")
    return ((n_tokens >= 5) & (n_punct * 5 < n_chars)
            & (n_stop * 100 >= n_tokens)
            & (n_stop * 10 <= n_tokens * 6))


def stage_gate(raw: DataFrame) -> DataFrame:
    """Quality gate (:func:`gate_predicate`)."""
    return raw.filter(gate_predicate())


def stage_exact_dedup(gated: DataFrame) -> DataFrame:
    """Keep the min doc_id per ``content_hash`` (`dedup_exact`)."""
    hashed = gated.withColumn("content_hash", content_hash("text"))
    keepers = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id"))
    return hashed.join(keepers, ["content_hash", "doc_id"]) \
        .drop("content_hash")


def stage_near_dup_canonical(deduped: DataFrame,
                             signatures: DataFrame) -> DataFrame:
    """Drop non-canonical members of near-dup clusters: the
    ``near_dup_components`` of the ``shingle_blocks`` table
    ``signatures`` → keep component-min docs and singletons."""
    comp = near_dup_components(signatures)
    return (
        deduped.join(comp, deduped["doc_id"] == comp["node"], "left")
        .filter(F.col("comp").isNull()
                | (F.col("comp") == deduped["doc_id"]))
        .drop("node", "comp")
    )


def _grams(text_col: F.Column) -> F.Column:
    # total on short docs: the empty array below NGRAM_N tokens
    return bind(gram_tokens(text_col), lambda t: F.when(
        F.size(t) >= NGRAM_N, F.array_distinct(word_grams(t)),
    ).otherwise(F.array().cast("array<string>")))


def stage_decontaminate(canonical: DataFrame,
                        all_docs: DataFrame) -> DataFrame:
    """Drop benchmark docs themselves and any doc sharing a word
    NGRAM_N-gram with the benchmark set (same rule as
    `contamination_check`; short docs carry no grams and pass)."""
    bench_grams = (
        all_docs.filter(is_bench() & F.col("text").isNotNull())
        .select(F.explode(_grams(F.col("text"))).alias("gram"))
        .distinct()
    )
    corpus = canonical.filter(~is_bench())
    dirty = (
        corpus.select("doc_id", F.explode(_grams(F.col("text"))).alias("gram"))
        .join(F.broadcast(bench_grams), "gram")
        .select("doc_id").distinct()
    )
    return corpus.join(dirty, "doc_id", "left_anti")


def stage_sample(clean: DataFrame) -> DataFrame:
    """Deterministic stratified sample (``sample_rule``, as
    `sample_stratified`)."""
    keep, _, _ = sample_rule()
    return clean.filter(keep)


def stage_pack(sampled: DataFrame) -> DataFrame:
    """Concat-and-chunk packing stats — THE shared rule
    (`sampling.assign_pack_bins`), not a copy of it: a bin-rule edit in
    the oracle-checked `pack_sequences` query must reach this runner
    stage by construction."""
    from ..queries.sampling import assign_pack_bins, pack_bin_stats
    return pack_bin_stats(assign_pack_bins(sampled))


STAGES = ("raw", "gated", "exact_dedup", "near_dup_canonical",
          "decontaminated", "sampled")


def _stage_stats() -> list[F.Column]:
    """A stage's (docs, tokens): the runner's ``Observation`` metrics and
    :func:`funnel`'s per-stage aggregate."""
    return [F.count(F.lit(1)).cast("long").alias("docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long")
            .alias("tokens")]


def _chain(docs: DataFrame, keep) -> DataFrame:
    """The stage wiring, written once for :func:`run_corpus_pipeline` and
    :func:`funnel`. ``keep(make_df, path, stage)`` receives each stage as
    a thunk (so the runner times plan construction too) and returns the
    DataFrame later stages read; ``stage`` is the `STAGES` name, or None
    for the near-dup signature table, which has no stats row."""
    raw = keep(lambda: stage_raw(docs), "raw", "raw")
    gated = keep(lambda: stage_gate(raw), "gated", "gated")
    exact = keep(lambda: stage_exact_dedup(gated), "exact_dedup",
                 "exact_dedup")
    # The pair join and the size denominators (3 consumers) read the kept
    # signature table instead of re-shingling the exact_dedup table.
    shb = keep(lambda: shingle_blocks(exact), "shingle_blocks", None)
    canon = keep(lambda: stage_near_dup_canonical(exact, shb),
                 "canonical", "near_dup_canonical")
    # `raw` has the same benchmark gram set as `docs`: the filtered-out
    # empty/whitespace docs contribute no NGRAM_N-grams. Reading it saves
    # the runner one more scan of the source corpus.
    clean = keep(lambda: stage_decontaminate(canon, raw),
                 "decontaminated", "decontaminated")
    return keep(lambda: stage_sample(clean), "sampled", "sampled")


# The stages `funnel` reads more than once downstream and cannot afford
# to recompute: exact_dedup (the gate regexes + content hash, read by
# its stats, the shingles and the canonical join), the signature table,
# and decontaminated (the gram join, read by its stats and the sample).
# Measured at sf0.1, local[4], same-session ABBA medians: without the
# exact_dedup checkpoint the funnel took 7.00 s instead of 5.23 s,
# without the decontaminated one 6.26 s instead of 5.79 s (5-6 pairs
# each, identical rows). The decontaminated checkpoint also puts the
# benchmark-gram broadcast hint under a LogicalRDD leaf, out of the
# per-query hint audit's reach; tools/plan_audit audits the chain with
# every stage lazy instead (DECLARED_CHAIN_HINTS).
_LAZY_CHECKPOINTS = ("exact_dedup", "shingle_blocks", "decontaminated")


def funnel(docs: DataFrame) -> DataFrame:
    """The whole funnel evaluated lazily, with zero writes: the
    :func:`run_corpus_pipeline` stage chain with three stages
    localCheckpointed instead of written, and one (stage_id, stage,
    docs, tokens) row per stage.

    Caveat: constructing this plan is NOT fully lazy — the embedded
    near-dup clustering step (connected_components) eagerly checkpoints
    the pair graph and runs one small convergence probe per propagation
    round, so calling funnel() executes the shingle/Jaccard/clustering
    work up front even if the returned DataFrame is never collected.

    Fault-tolerance trade: localCheckpoint blocks live in NON-replicated
    executor storage with truncated lineage, so an executor loss mid-job
    fails the job (it restarts from the source) instead of recomputing
    the lost blocks, and the blocks are freed by the ContextCleaner only
    when the DataFrame is garbage-collected — a long-lived session
    calling funnel() repeatedly while holding the results accumulates
    executor storage. On a fault-prone cluster or in a session that
    keeps many funnel results alive, run :func:`run_corpus_pipeline`
    instead (identical funnel; every stage staged to parquet, the same
    discipline as `materialize_minhash` /
    `minhash_pairs_from_tables`)."""
    kept: dict[str, DataFrame] = {}

    def keep(make_df, path: str, stage: str | None) -> DataFrame:
        df = make_df()
        if path in _LAZY_CHECKPOINTS:
            df = df.localCheckpoint(eager=False)
        if stage is not None:
            kept[stage] = df
        return df

    _chain(docs, keep)
    return reduce(DataFrame.unionByName, (
        kept[stage].agg(F.lit(i).alias("stage_id"),
                        F.lit(stage).alias("stage"), *_stage_stats())
        for i, stage in enumerate(STAGES))).orderBy("stage_id")


def run_corpus_pipeline(spark: SparkSession, docs: DataFrame,
                        out_dir: str,
                        timings: dict[str, float] | None = None,
                        ) -> DataFrame:
    """Materializing runner: write every stage to parquet (restartable,
    inspectable — the medallion discipline applied to corpus prep) and
    return the funnel stats.

    Per-stage (docs, tokens) come from ``Observation`` metrics collected
    DURING each stage's write — zero extra jobs, where re-aggregating the
    written tables would re-scan every stage (six more corpus-sized passes
    at 100 TB).

    ``timings``: pass a dict to receive per-stage wall seconds (plan
    CONSTRUCTION + execution + parquet write — construction is lazy for
    every stage except near_dup_canonical, whose connected-components
    step eagerly checkpoints the pair graph; timing only the write hid
    that cost outside the table and overstated every other stage's
    share, r6), keyed by stage artifact name — the observability hook a
    production run records next to row counts.
    """
    import time

    from pyspark.sql import Observation

    from ..tables import spread

    stats: list[tuple[int, str, int, int]] = []

    def timed(key: str, fn):
        t0 = time.perf_counter()
        out = fn()
        if timings is not None:
            timings[key] = round(time.perf_counter() - t0, 3)
        return out

    def write_stage(make_df, path: str, stage: str | None) -> DataFrame:
        obs = Observation(f"corpus_{stage}") if stage is not None else None

        def construct_and_write():
            df = make_df()
            if obs is not None:
                df = df.observe(obs, *_stage_stats())
            df.write.mode("overwrite").parquet(f"{out_dir}/{path}")

        timed(path, construct_and_write)
        if obs is not None:
            got = obs.get
            stats.append((STAGES.index(stage), stage,
                          got["docs"], got["tokens"]))
        # spread the read-back: AQE coalesces small join outputs to ONE
        # parquet file (measured: the canonical stage), which would
        # serialize every downstream stage's per-row expression work
        # (the decon gram build above all) onto one core — the r5
        # instrumentation blamed "decontamination 46-50%" on exactly
        # this. spread() is a no-op at cluster scale (CHANGES_r6 §8:
        # stage 4.8 s -> ~1 s, pipeline ~20 s -> ~13 s at sf0.1).
        return spread(spark.read.parquet(f"{out_dir}/{path}"), spark)

    sampled = _chain(docs, write_stage)
    timed("packed_bins",
          lambda: stage_pack(sampled).write.mode("overwrite")
          .parquet(f"{out_dir}/packed_bins"))

    return spark.createDataFrame(
        sorted(stats),
        "stage_id int, stage string, docs long, tokens long")
