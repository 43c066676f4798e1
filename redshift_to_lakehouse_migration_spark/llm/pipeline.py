"""End-to-end training-corpus preparation pipeline.

The LLM-side counterpart of the medallion pipeline (`medallion/flow.py`):
the full funnel a training-data team runs before tokenization —

    raw → quality gate → exact dedup → near-dup clustering (drop
    non-canonical) → benchmark decontamination → stratified sampling
    → sequence packing

Every stage reuses the exact operator the standalone queries verify
against DuckDB (`corpus_prep` gates, `dedup_exact` keeper rule,
`dedup_clusters` components, `contamination_check` gram overlap,
`sample_stratified` md5 thresholds, `pack_sequences` binning), so the
composed pipeline inherits their per-stage oracles; the composed funnel
itself is value-checked end-to-end by the `corpus_funnel` query oracle.

``run_corpus_pipeline`` materializes each stage to parquet like a real
pipeline (bronze→silver-style restartability); the stage builders are
pure DataFrame functions so `corpus_funnel` can also evaluate the whole
funnel as ONE lazy plan with zero writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.curation import BENCH_MOD, NGRAM_N
from ..queries.sampling import DEFAULT_CEILING, STRATUM_CEILING
from .components import connected_components
from .dedup import norm_text, ws_token_count


def stage_raw(docs: DataFrame) -> DataFrame:
    """Non-empty documents with the token count every later stage reuses."""
    text = F.col("text")
    return (
        docs.filter(text.isNotNull() & text.rlike(r"\S"))
        .select("doc_id", "lang", "text",
                ws_token_count(text).cast("long").alias("n_tokens"))
    )


def gate_predicate() -> F.Column:
    """The `corpus_prep` quality gate over (text, n_tokens) columns —
    integer-exact thresholds. ONE definition shared by :func:`stage_gate`
    and :func:`funnel` (the lazy-funnel/runner parity contract,
    test_runner_matches_lazy_funnel, depends on the copies never
    drifting — so there are no copies)."""
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
    """Quality gate — integer-exact thresholds (same as `corpus_prep`)."""
    return raw.filter(gate_predicate())


def stage_exact_dedup(gated: DataFrame) -> DataFrame:
    """Keep the min doc_id per normalized-content hash (`dedup_exact`)."""
    hashed = gated.withColumn("content_hash", F.md5(norm_text("text")))
    keepers = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id"))
    return hashed.join(keepers, ["content_hash", "doc_id"]) \
        .drop("content_hash")


def build_shingle_blocks(deduped: DataFrame) -> DataFrame:
    """The (doc_id, shingle, block) signature table the near-dup stage
    joins on — built from the exact-dedup survivors with the boilerplate
    DF cap already applied. ``run_corpus_pipeline`` MATERIALIZES this to
    parquet: the pair self-join and the size denominators then read the
    compact signature table instead of re-shingling the corpus (3 scans →
    1 at 100 TB, the same discipline as `materialize_minhash`)."""
    from .dedup import capped_shingle_blocks, shingles
    normed = deduped.select("doc_id", norm_text("text").alias("norm"))
    sh = shingles(normed, "doc_id", "norm")
    blocks = normed.select("doc_id",
                           F.substring("norm", 1, 16).alias("block"))
    return capped_shingle_blocks(sh, blocks)


def stage_near_dup_canonical(deduped: DataFrame,
                             shingle_blocks: DataFrame | None = None,
                             ) -> DataFrame:
    """Drop non-canonical members of near-dup clusters: blocked 3-gram
    Jaccard pairs (threshold 0.4, as `dedup_ngram_jaccard`) → connected
    components → keep component-min docs and singletons.

    ``shingle_blocks``: optionally a pre-materialized
    :func:`build_shingle_blocks` table (identical pair set; the scale
    path). Default rebuilds it inline as one lazy plan."""
    from .dedup import jaccard_pairs_from_capped
    if shingle_blocks is None:
        shingle_blocks = build_shingle_blocks(deduped)
    pairs = jaccard_pairs_from_capped(shingle_blocks, threshold=0.4) \
        .select("doc_id_1", "doc_id_2")
    comp = connected_components(pairs, "doc_id_1", "doc_id_2")
    return (
        deduped.join(comp, deduped["doc_id"] == comp["node"], "left")
        .filter(F.col("comp").isNull()
                | (F.col("comp") == deduped["doc_id"]))
        .drop("node", "comp")
    )


def _grams(text_col: F.Column) -> F.Column:
    # Tokens via the trim-LAST norm (see dedup.norm_text): one regex
    # rewrite + a literal-space split, and no phantom empty tokens at the
    # edges when text carries leading/trailing non-space whitespace.
    # bind: the token array must be a lambda VARIABLE, not a captured
    # subexpression — captures re-evaluate the whole split+regex per gram
    # index (O(tokens x doc_bytes) per row; see functions.bind)
    from ..functions import bind
    toks = F.split(norm_text(text_col), " ")
    return bind(toks, lambda t: F.when(
        # total on short docs: sequence(1, n<1) would run DESCENDING
        F.size(t) >= NGRAM_N,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.size(t) - (NGRAM_N - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, NGRAM_N)),
        ))).otherwise(F.array().cast("array<string>")))


def bench_gram_set(docs: DataFrame) -> DataFrame:
    """Distinct word NGRAM_N-grams of the benchmark membership — shared
    by :func:`stage_decontaminate` and :func:`funnel`."""
    return (
        docs.filter((F.col("doc_id") % BENCH_MOD == 0)
                    & F.col("text").isNotNull())
        .select(F.explode(_grams(F.col("text"))).alias("gram"))
        .distinct()
    )


def stage_decontaminate(canonical: DataFrame,
                        all_docs: DataFrame) -> DataFrame:
    """Drop benchmark docs themselves and any doc sharing a word
    NGRAM_N-gram with the benchmark set (same rule as
    `contamination_check`; short docs carry no grams and pass)."""
    bench_grams = bench_gram_set(all_docs)
    corpus = canonical.filter(F.col("doc_id") % BENCH_MOD != 0)
    dirty = (
        corpus.select("doc_id", F.explode(_grams(F.col("text"))).alias("gram"))
        .join(F.broadcast(bench_grams), "gram")
        .select("doc_id").distinct()
    )
    return corpus.join(dirty, "doc_id", "left_anti")


def sample_predicate() -> F.Column:
    """The deterministic md5-threshold sample rule (`sample_stratified`)
    — shared by :func:`stage_sample` and :func:`funnel`."""
    ceiling = F.when(F.col("lang") == "en",
                     F.lit(STRATUM_CEILING["en"])) \
        .otherwise(F.lit(DEFAULT_CEILING))
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return bucket < ceiling


def stage_sample(clean: DataFrame) -> DataFrame:
    """Deterministic stratified sample (same rule as `sample_stratified`)."""
    return clean.filter(sample_predicate())


def stage_pack(sampled: DataFrame) -> DataFrame:
    """Concat-and-chunk packing stats — THE shared rule
    (`sampling.assign_pack_bins`), not a copy of it: a bin-rule edit in
    the oracle-checked `pack_sequences` query must reach this runner
    stage by construction."""
    from ..queries.sampling import assign_pack_bins, pack_bin_stats
    return pack_bin_stats(assign_pack_bins(sampled))


STAGES = ("raw", "gated", "exact_dedup", "near_dup_canonical",
          "decontaminated", "sampled")


def funnel(docs: DataFrame) -> DataFrame:
    """The whole funnel as ONE single-pass plan: every document carries a
    survival flag per stage (the lineage instrumentation a production
    pipeline would emit anyway), and one conditional aggregate + unpivot
    yields (stage_id, stage, docs, tokens) for all six stages in ONE
    final aggregate job instead of one per stage — the per-action fixed
    cost dominates small runs, and at 100 TB one corpus pass beats six.

    Decide-on-narrow-rows shape (guide §2.3/§8, r11): the gate columns
    (three regex passes, the stopword split, the md5 content hash) are
    computed ONCE into a narrow (doc_id, lang, n_tokens, in_gated,
    content_hash) table — localCheckpointed, ~tens of bytes per row, no
    text — and every flag join, the keeper aggregate and the final
    conditional aggregate run on that proxy. Text is re-read from the
    source only by the two branches that genuinely consume it (shingles
    for the near-dup pair graph, word n-grams for decontamination), each
    attaching its survivor id set with a doc_id equi-join instead of
    re-deriving the whole gate chain per branch — previously the
    gate+hash+keeper subtree re-evaluated in EVERY branch (4-6 corpus
    regex passes per action). The earlier rejected variant checkpointed
    the WIDE text-carrying table (measured 6.14 s vs 5.07 s — the text
    round-trip through executor storage cost more than the recompute);
    checkpointing only the narrow proxy keeps the saving without the
    payload round-trip. At 100 TB the id joins are broadcast/Bloom-sized
    relative to the text side and the narrow table is the only thing
    checkpointed.

    Caveat: constructing this plan is NOT fully lazy — the embedded
    near-dup clustering step (connected_components) eagerly checkpoints
    the pair graph and runs one small convergence probe per propagation
    round, so calling funnel() executes the shingle/Jaccard/clustering
    work up front even if the returned DataFrame is never collected.

    Fault-tolerance trade (same caveat as stage_decontaminate's
    bench-side checkpoint): localCheckpoint blocks live in NON-replicated
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
    from .dedup import jaccard_pairs, shingles

    raw = stage_raw(docs)
    meta = raw.select("doc_id", "lang", "n_tokens",
                      gate_predicate().alias("in_gated"),
                      F.md5(norm_text("text")).alias("content_hash")) \
        .localCheckpoint(eager=False)

    keepers = (meta.filter("in_gated")
               .groupBy("content_hash")
               .agg(F.min("doc_id").alias("keeper_id")))
    flagged = (
        meta.join(keepers, "content_hash", "left")
        .withColumn("in_exact",
                    F.col("in_gated")
                    & (F.col("doc_id") == F.col("keeper_id")))
    )

    exact_ids = flagged.filter("in_exact").select("doc_id")
    normed = (docs.join(exact_ids, "doc_id")
              .select("doc_id", norm_text("text").alias("norm")))
    sh = shingles(normed, "doc_id", "norm")
    blocks = normed.select("doc_id",
                           F.substring("norm", 1, 16).alias("block"))
    pairs = jaccard_pairs(sh, blocks, threshold=0.4) \
        .select("doc_id_1", "doc_id_2")
    comp = connected_components(pairs, "doc_id_1", "doc_id_2")
    flagged = (
        flagged.join(comp, flagged["doc_id"] == comp["node"], "left")
        .withColumn("in_canon",
                    F.col("in_exact")
                    & (F.col("node").isNull()
                       | (F.col("comp") == F.col("doc_id"))))
        .drop("node", "comp")
    )

    bench_grams = bench_gram_set(docs)
    canon_ids = (flagged.filter(F.col("in_canon")
                                & (F.col("doc_id") % BENCH_MOD != 0))
                 .select("doc_id"))
    dirty = (
        docs.join(canon_ids, "doc_id")
        .select("doc_id", F.explode(_grams(F.col("text"))).alias("gram"))
        .join(F.broadcast(bench_grams), "gram")
        .select("doc_id").distinct()
        .withColumn("is_dirty", F.lit(True))
    )
    flagged = (
        flagged.join(dirty, "doc_id", "left")
        .withColumn("in_clean",
                    F.col("in_canon")
                    & (F.col("doc_id") % BENCH_MOD != 0)
                    & F.col("is_dirty").isNull())
        .withColumn("in_sampled",
                    F.col("in_clean") & sample_predicate())
    )

    flags = ("in_raw", "in_gated", "in_exact", "in_canon", "in_clean",
             "in_sampled")
    flagged = flagged.withColumn("in_raw", F.lit(True))
    agg = flagged.agg(*(
        [F.sum(F.when(F.col(fl), 1).otherwise(0)).cast("long")
         .alias(f"docs_{i}") for i, fl in enumerate(flags)]
        + [F.sum(F.when(F.col(fl), F.col("n_tokens")).otherwise(0))
           .cast("long").alias(f"tokens_{i}") for i, fl in enumerate(flags)]
    ))
    stack = ", ".join(
        f"{i}, '{name}', docs_{i}, tokens_{i}"
        for i, name in enumerate(STAGES))
    return agg.selectExpr(
        f"stack({len(STAGES)}, {stack}) "
        "AS (stage_id, stage, docs, tokens)"
    ).orderBy("stage_id")


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

    stats: list[tuple[int, str, int, int]] = []

    def timed(key: str, fn):
        t0 = time.perf_counter()
        out = fn()
        if timings is not None:
            timings[key] = round(time.perf_counter() - t0, 3)
        return out

    def write_stage(make_df, path: str, stage: str) -> DataFrame:
        obs = Observation(f"corpus_{stage}")

        def construct_and_write():
            observed = make_df().observe(
                obs, F.count(F.lit(1)).cast("long").alias("docs"),
                F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long")
                .alias("tokens"))
            observed.write.mode("overwrite").parquet(f"{out_dir}/{path}")

        timed(path, construct_and_write)
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
        from ..tables import spread
        return spread(spark.read.parquet(f"{out_dir}/{path}"), spark)

    raw = write_stage(lambda: stage_raw(docs), "raw", "raw")
    gated = write_stage(lambda: stage_gate(raw), "gated", "gated")
    exact = write_stage(lambda: stage_exact_dedup(gated), "exact_dedup",
                        "exact_dedup")

    # Materialize the near-dup signature table ONCE; the pair join and the
    # size denominators (3 consumers) read this compact parquet instead of
    # re-shingling the exact_dedup table per consumer.
    timed("shingle_blocks",
          lambda: build_shingle_blocks(exact).write.mode("overwrite")
          .parquet(f"{out_dir}/shingle_blocks"))
    from ..tables import spread as _spread
    shb = _spread(spark.read.parquet(f"{out_dir}/shingle_blocks"), spark)

    canon = write_stage(
        lambda: stage_near_dup_canonical(exact, shingle_blocks=shb),
        "canonical", "near_dup_canonical")

    # `raw` (parquet-backed) has the same benchmark gram set as `docs`:
    # the filtered-out empty/whitespace docs contribute no NGRAM_N-grams.
    # Reading it avoids one more scan of the source corpus.
    clean = write_stage(lambda: stage_decontaminate(canon, raw),
                        "decontaminated", "decontaminated")
    sampled = write_stage(lambda: stage_sample(clean), "sampled", "sampled")

    timed("packed_bins",
          lambda: stage_pack(sampled).write.mode("overwrite")
          .parquet(f"{out_dir}/packed_bins"))

    return spark.createDataFrame(
        sorted(stats),
        "stage_id int, stage string, docs long, tokens long")
