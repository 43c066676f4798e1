"""The benchmark's workloads, each a sequence of parts.

Every part generates its inputs from the seed (once per seed, behind a
completion marker; oracle answers that depend only on the inputs are
cached beside them), runs its ops in each pass, and checks its outputs
after the timed window. An *op* is one timed call into the engine; a
*pass* runs every part of the workload once, as a closed loop with one
client (the main thread).

Parts:

- ``relational``: a fixed stratified sample of the relational query
  registry, every 6th query of each of the 8 modules (14 of 64), on sf0.01
  tables in the single-row-group layout, executed through the noop sink
  and checked against the DuckDB oracles. Op = one query (plan build +
  execute).
- ``medallion``: ``datagen.generate`` (5k policies), the DAG runner at
  ``max_workers=4``, the noop of every unmaterialized output, then silver
  DQ. Op = one DAG node. Checked: bronze row counts equal the generated
  counts; DQ results are identical across passes and runs of a seed.
- ``corpus``: ``llm.pipeline.run_corpus_pipeline`` over sf0.01 documents
  (~500 docs, 4096-row groups), each stage written to parquet. Op = one
  stage. Checked against the DuckDB ``corpus_funnel`` oracle, whose
  recursive near-dup query (6 s at 500 docs, 35 s at 2.5k) caps the size.
- ``vector``: five ``queries.llm_similarity`` entries on sf0.05 embeddings
  (1,000 x 64-d, 20 probes), collected: the neighbour lists are the
  product, and recall@5 against ``knn_bruteforce`` is computed from them.
  Op = one query. Checked: recall@5 above fixed floors and not below the
  recall the first run of the seed recorded.

Workloads: ``warehouse_bi`` = relational + medallion (the analyst and
migration side), ``corpus_prep`` = corpus + vector (the LLM-data side).
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from redshift_to_lakehouse_migration_spark import datagen
from redshift_to_lakehouse_migration_spark.llm.pipeline import (
    run_corpus_pipeline,
)
from redshift_to_lakehouse_migration_spark.medallion import silver
from redshift_to_lakehouse_migration_spark.medallion.flow import (
    build_medallion_pipeline,
)
from redshift_to_lakehouse_migration_spark.quality import check_relationships
from redshift_to_lakehouse_migration_spark.queries import (
    ORACLES,
    analytics,
    dims,
    events,
    facts,
    governance,
    llm_similarity,
    staging,
    tpch,
    windows,
)
from redshift_to_lakehouse_migration_spark.tables import TABLES, load, spread

from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool(name: str):
    """Import ``tools/<name>.py``. ``check_correctness`` parses argv and
    edits ``sys.path`` at import; both are restored afterwards."""
    path = os.path.join(ROOT, "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(f"_tool_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    argv, sys_path = sys.argv, list(sys.path)
    sys.argv = [path]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
        sys.path[:] = sys_path
    return mod


value_hash = _tool("check_correctness").value_hash


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _op_failed(what: str) -> None:
    print(f"op failed: {what}", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


@dataclass
class Inputs:
    dir: str
    bytes: int                      # input size, the write_amp base
    info: dict = field(default_factory=dict)


@dataclass
class PassResult:
    ops: list[float] = field(default_factory=list)   # per-op latency, s
    failed: int = 0                                  # ops that raised
    layer: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    output: dict = field(default_factory=dict)       # what check() reads


def compare(name: str, columns: list[str], rows: list,
            want_cols: list[str], want: list) -> str | None:
    """None when two results agree on row count, column names and the
    order-insensitive value hash; else why they differ."""
    if len(rows) != len(want):
        return f"{name}: {len(rows)} rows, oracle {len(want)}"
    if sorted(columns) != sorted(want_cols):
        return f"{name}: columns {sorted(columns)} vs {sorted(want_cols)}"
    if value_hash(rows, columns) != value_hash(want, want_cols):
        return f"{name}: value hash differs from the DuckDB oracle"
    return None


class DuckOracle:
    """DuckDB views over a generated table directory."""

    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{data_dir}/{t}.parquet'")

    def answer(self, name: str) -> tuple[list[str], list]:
        rel = self.con.sql(ORACLES[name])
        return rel.columns, rel.fetchall()

    def check(self, name: str, columns: list[str], rows: list) -> str | None:
        return compare(name, columns, rows, *self.answer(name))


class Part:
    """One component of a workload: its inputs, ops and output checks."""
    name: str

    def inputs(self, root: str, seed: int) -> Inputs:
        raise NotImplementedError

    def warm_up(self, spark: SparkSession, inp: Inputs) -> None:
        """The read every setup ends with (after the shared range job)."""
        raise NotImplementedError

    def run_pass(self, spark: SparkSession, inp: Inputs, tracer: Tracer,
                 work: str) -> PassResult:
        """The timed part of one pass."""
        raise NotImplementedError

    def after_pass(self, spark: SparkSession, inp: Inputs, res: PassResult,
                   work: str) -> None:
        """Untimed per-pass bookkeeping (bytes on disk, cleanup)."""

    def check(self, spark: SparkSession, inp: Inputs,
              passes: list[PassResult]) -> tuple[list[str], dict]:
        """(problems, per-layer quality metrics) after the timed window."""
        raise NotImplementedError


def _scale_data(root: str, sf: float, seed: int,
                row_group_size: int | None) -> Inputs:
    d = os.path.join(root, f"sf{sf}-rg{row_group_size or 0}-seed{seed}")
    if not os.path.exists(os.path.join(d, "_GEN_COMPLETE")):
        # the generator prints one line per table; stdout carries only
        # the result line
        with contextlib.redirect_stdout(sys.stderr):
            _tool("gen_scale_data").main(sf, d, seed=seed,
                                         row_group_size=row_group_size)
    return Inputs(d, dir_bytes(d))


def _module_name(mod) -> str:
    return mod.__name__.rsplit(".", 1)[1]


class Relational(Part):
    name = "relational"
    MODULES = (staging, facts, dims, analytics, tpch, windows, events,
               governance)
    STRIDE = 6

    def __init__(self) -> None:
        self.queries = [(_module_name(m), n, m.QUERIES[n])
                        for m in self.MODULES
                        for n in list(m.QUERIES)[::self.STRIDE]]

    def inputs(self, root, seed):
        return _scale_data(root, 0.01, seed, None)

    def warm_up(self, spark, inp):
        load(spark, inp.dir, "lineitem").selectExpr("count(*)").collect()

    def run_pass(self, spark, inp, tracer, work):
        res = PassResult()
        for module, name, fn in self.queries:
            with tracer.span(f"queries.{module}", counters=True,
                             query=name) as rec:
                t0 = time.perf_counter()
                try:
                    df = fn(spark, inp.dir)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                except Exception:
                    _op_failed(name)
                    res.failed += 1
                    continue
                t2 = time.perf_counter()
            res.ops.append(t2 - t0)
            res.layer[f"queries.{module}.build_s"] += t1 - t0
            res.layer[f"queries.{module}.exec_s"] += t2 - t1
            if "spark" in rec:
                res.layer[f"queries.{module}.jobs"] += rec["spark"]["jobs"]
        return res

    def check(self, spark, inp, passes):
        oracle, problems = DuckOracle(inp.dir), []
        for _, name, fn in self.queries:
            df = fn(spark, inp.dir)
            rows = [tuple(r) for r in df.collect()]
            if name in ORACLES:
                bad = oracle.check(name, df.columns, rows)
            else:
                bad = None if rows else f"{name}: no rows (no oracle)"
            if bad:
                problems.append(bad)
        return problems, {}


# keep_frac per runner stage: stats stage name -> timing key
_KEEP = {"raw": "raw", "gated": "gated", "exact_dedup": "exact_dedup",
         "near_dup_canonical": "canonical",
         "decontaminated": "decontaminated", "sampled": "sampled"}


class Corpus(Part):
    name = "corpus"

    def inputs(self, root, seed):
        inp = _scale_data(root, 0.01, seed, 4096)
        path = os.path.join(inp.dir, "documents.parquet")
        # the oracle's answer is a property of the inputs: computed once
        # per seed, like the data
        answer = os.path.join(inp.dir, "corpus_funnel.json")
        if not os.path.exists(answer):
            cols, rows = DuckOracle(inp.dir).answer("corpus_funnel")
            with open(answer + ".tmp", "w") as f:
                json.dump([cols, rows], f)
            os.replace(answer + ".tmp", answer)
        with open(answer) as f:
            want = json.load(f)
        return Inputs(inp.dir, os.path.getsize(path),
                      {"docs": pq.read_metadata(path).num_rows,
                       "want": want})

    def warm_up(self, spark, inp):
        load(spark, inp.dir, "documents").selectExpr("count(*)").collect()

    def run_pass(self, spark, inp, tracer, work):
        res = PassResult()
        out = os.path.join(work, "corpus")
        with tracer.span("tables.load_spread", counters=True):
            t0 = time.perf_counter()
            docs = spread(load(spark, inp.dir, "documents"), spark)
            res.layer["tables.load_spread_s"] = time.perf_counter() - t0
        timings: dict[str, float] = {}
        with tracer.span("llm.pipeline", counters=True):
            t0 = time.perf_counter()
            try:
                stats = run_corpus_pipeline(spark, docs, out,
                                            timings=timings)
                res.output["stats"] = (stats.columns,
                                       [tuple(r) for r in stats.collect()])
            except Exception:
                _op_failed("run_corpus_pipeline")
                res.failed += 1
            # the whole call; the runner's stage timings leave out the
            # work between its stages
            res.layer["llm.pipeline.run_s"] = time.perf_counter() - t0
        res.ops += timings.values()
        for stage, s in timings.items():
            res.layer[f"llm.pipeline.{stage}_s"] = s
        if "stats" in res.output:
            prev = inp.info["docs"]
            for row in sorted(res.output["stats"][1]):
                _, stage, n_docs, _ = row
                res.layer[f"llm.pipeline.{_KEEP[stage]}.keep_frac"] = (
                    n_docs / prev if prev else 0.0)
                prev = n_docs
        return res

    def after_pass(self, spark, inp, res, work):
        out = os.path.join(work, "corpus")
        written = dir_bytes(out) if os.path.exists(out) else 0
        res.layer["llm.pipeline.bytes_written"] = written
        res.layer["write_amp"] = written / inp.bytes
        shutil.rmtree(out, ignore_errors=True)

    def check(self, spark, inp, passes):
        problems = []
        for i, p in enumerate(passes):
            if "stats" not in p.output:
                problems.append(f"pass {i}: corpus pipeline raised")
                continue
            bad = compare("corpus_funnel", *p.output["stats"],
                          *inp.info["want"])
            if bad:
                problems.append(f"pass {i}: {bad}")
        return problems, {}


MEDALLION_AS_OF = "2024-06-01"
MEDALLION_POLICIES = 5_000


def _dq(outputs: dict) -> list:
    """Silver DQ: the fused validators plus claims→policies integrity."""
    results = (silver.validate_policies(outputs["silver_policies"])
               + silver.validate_claims(outputs["silver_claims"])
               + silver.validate_premiums(outputs["silver_premiums"])
               + silver.validate_properties(outputs["silver_properties"]))
    results.append(check_relationships(
        outputs["silver_claims"], "policy_id", outputs["silver_policies"],
        "policy_id", table_name="silver.claims"))
    return results


class Medallion(Part):
    name = "medallion"

    def inputs(self, root, seed):
        d = os.path.join(root, f"medallion-{MEDALLION_POLICIES}-seed{seed}")
        marker = os.path.join(d, "_BENCH_COMPLETE")
        if not os.path.exists(marker):
            counts = datagen.generate(os.path.join(d, "raw"),
                                      n_policies=MEDALLION_POLICIES,
                                      seed=seed)
            with open(marker, "w") as f:
                json.dump(counts, f)
        with open(marker) as f:
            counts = json.load(f)
        raw = os.path.join(d, "raw")
        return Inputs(raw, dir_bytes(raw), {"counts": counts})

    def warm_up(self, spark, inp):
        spark.read.option("header", "true") \
            .csv(os.path.join(inp.dir, "raw_policies.csv")).count()

    def run_pass(self, spark, inp, tracer, work):
        res = PassResult()
        wh = os.path.join(work, "warehouse")
        try:
            with tracer.span("pipeline.run", counters=True):
                t0 = time.perf_counter()
                pipe = build_medallion_pipeline(spark, inp.dir, wh,
                                                MEDALLION_AS_OF)
                outputs, runs = pipe.run(max_workers=4)
                # nodes run concurrently: their times overlap
                res.layer["pipeline.run_s"] = time.perf_counter() - t0
            with tracer.span("medallion.publish", counters=True):
                t0 = time.perf_counter()
                for name, df in outputs.items():
                    if not (name.startswith("bronze_")
                            or name == "fact_claims"):
                        df.write.format("noop").mode("overwrite").save()
                res.layer["medallion.publish_s"] = time.perf_counter() - t0
            with tracer.span("quality.validate", counters=True):
                t0 = time.perf_counter()
                dq = _dq(outputs)
                res.layer["quality.validate_s"] = time.perf_counter() - t0
        except Exception:
            _op_failed("medallion pass")
            res.failed += 1
            return res
        res.ops += [r.seconds for r in runs]
        for r in runs:
            res.layer[f"pipeline.node.{r.name}_s"] = r.seconds
        res.layer["quality.failed_rows"] = sum(r.failed_count or 0
                                               for r in dq)
        res.output["dq"] = [r.as_row() for r in dq]
        res.output["outputs"] = outputs
        return res

    def after_pass(self, spark, inp, res, work):
        wh = os.path.join(work, "warehouse")
        outputs = res.output.pop("outputs", None)
        if outputs is not None:
            res.output["bronze_rows"] = {
                t: outputs[f"bronze_{t}"].count()
                for t in ("policies", "claims", "premiums", "properties")}
        if os.path.exists(wh):
            bronze = sum(dir_bytes(os.path.join(wh, d))
                         for d in os.listdir(wh) if d.startswith("bronze_"))
            fact = dir_bytes(os.path.join(wh, "fact_claims"))
            res.layer["medallion.bronze_bytes_written"] = bronze
            res.layer["medallion.fact_claims_bytes_written"] = fact
            res.layer["write_amp"] = dir_bytes(wh) / inp.bytes
        shutil.rmtree(wh, ignore_errors=True)

    def check(self, spark, inp, passes):
        problems = []
        want = inp.info["counts"]
        for i, p in enumerate(passes):
            if "dq" not in p.output:
                problems.append(f"pass {i}: medallion pass raised")
                continue
            if p.output["bronze_rows"] != want:
                problems.append(f"pass {i}: bronze rows "
                                f"{p.output['bronze_rows']} != generated "
                                f"{want}")
            if p.output["dq"] != passes[0].output.get("dq"):
                problems.append(f"pass {i}: DQ results differ from pass 0")
        # DQ is a function of the inputs: the first run of a seed records
        # it, later runs of the seed must reproduce it
        dq = passes[0].output.get("dq")
        if dq is not None:
            seen = os.path.join(os.path.dirname(inp.dir), "dq.json")
            dq = json.loads(json.dumps(dq))
            if not os.path.exists(seen):
                with open(seen, "w") as f:
                    json.dump(dq, f)
            with open(seen) as f:
                if json.load(f) != dq:
                    problems.append("DQ results differ from an earlier run "
                                    "of this seed")
        return problems, {}


ANN = ("knn_pq_adc", "knn_ivfpq", "knn_ivfpq_refined")
# The similarity entries the vector part runs, each with the library module
# it exercises (its per-layer group): the exact baseline, k-means and the
# PQ trio, i.e. every such module and all the ANN time. The five LSH/IVF/
# stats entries are left out to fit the run budget.
VECTOR_GROUPS = {"knn_bruteforce": "llm.similarity",
                 "kmeans_clusters": "llm.kmeans",
                 **dict.fromkeys(ANN, "llm.pq")}
# Recall floors, a backstop: 21 seeds on the commit that added the
# benchmark (20 probes x 5 neighbours) gave 0.05-0.15 (pq_adc), 0.06-0.14
# (ivfpq) and 0.25-0.38 (refined); chance is 0.005. With 100 slots per
# query the two unrefined floors only reject (near) zero hits, or seeds
# would fail at random; refined, which re-ranks the ivfpq candidates,
# carries the tight floor.
RECALL_FLOOR = {"knn_pq_adc": 0.01, "knn_ivfpq": 0.01,
                "knn_ivfpq_refined": 0.1}
# The PQ and IVF queries seed their own randomness, so recall is a function
# of the inputs: the first run of a seed records it beside them, and a later
# run whose recall drops below the record by more than this (less than one
# hit of the 100) fails the output check.
RECALL_TOL = 0.005


def _top5(columns: list[str], rows: list) -> dict[int, set[int]]:
    q, n, r = (columns.index(c) for c in ("query_id", "neighbor_id", "rank"))
    out: dict[int, set[int]] = defaultdict(set)
    for row in rows:
        if row[r] <= 5:
            out[row[q]].add(row[n])
    return out


class Vector(Part):
    name = "vector"

    def inputs(self, root, seed):
        return _scale_data(root, 0.05, seed, None)

    def warm_up(self, spark, inp):
        load(spark, inp.dir, "embeddings").selectExpr("count(*)").collect()

    def run_pass(self, spark, inp, tracer, work):
        res = PassResult()
        for name, group in VECTOR_GROUPS.items():
            fn = llm_similarity.QUERIES[name]
            with tracer.span(group, counters=True, query=name) as rec:
                t0 = time.perf_counter()
                try:
                    df = fn(spark, inp.dir)
                    t1 = time.perf_counter()
                    rows = [tuple(r) for r in df.collect()]
                except Exception:
                    _op_failed(name)
                    res.failed += 1
                    continue
                t2 = time.perf_counter()
            res.ops.append(t2 - t0)
            res.output[name] = (df.columns, rows)
            res.layer[f"{group}.build_s"] += t1 - t0
            res.layer[f"{group}.exec_s"] += t2 - t1
            if "spark" in rec:
                res.layer[f"{group}.jobs"] += rec["spark"]["jobs"]
                res.layer[f"{group}.shuffle_write_bytes"] += \
                    rec["spark"]["shuffle_write_bytes"]
        return res

    def check(self, spark, inp, passes):
        oracle, problems, quality = DuckOracle(inp.dir), [], {}
        last = passes[-1].output
        missing = sorted(set(VECTOR_GROUPS) - set(last))
        if missing:
            return [f"queries raised: {missing}"], quality
        for name, (cols, rows) in last.items():
            if name in ORACLES:
                bad = oracle.check(name, cols, rows)
                if bad:
                    problems.append(bad)
            elif not rows:
                problems.append(f"{name}: no rows")
        exact = _top5(*last["knn_bruteforce"])
        recalls = {}
        for name in ANN:
            got = _top5(*last[name])
            recalls[name] = sum(len(exact[q] & got.get(q, set()))
                                / len(exact[q]) for q in exact) / len(exact)
            quality[f"recall_at_5.{name}"] = recalls[name]
            print(f"recall_at_5.{name} = {recalls[name]}", file=sys.stderr)
            if recalls[name] < RECALL_FLOOR[name]:
                problems.append(f"{name}: recall@5 {recalls[name]:.3f} "
                                f"below {RECALL_FLOOR[name]}")
        seen = os.path.join(inp.dir, "recall_at_5.json")
        if not os.path.exists(seen):
            with open(seen, "w") as f:
                json.dump(recalls, f)
        with open(seen) as f:
            recorded = json.load(f)
        for name in ANN:
            if recalls[name] < recorded[name] - RECALL_TOL:
                problems.append(f"{name}: recall@5 {recalls[name]:.3f} "
                                f"below {recorded[name]:.3f}, recorded by "
                                f"an earlier run of this seed")
        return problems, quality


class Workload:
    """A named sequence of parts; one pass runs every part once."""

    def __init__(self, name: str, parts: list[Part]) -> None:
        self.name, self.parts = name, parts

    def inputs(self, root: str, seed: int) -> dict[str, Inputs]:
        return {p.name: p.inputs(root, seed) for p in self.parts}

    def warm_up(self, spark: SparkSession, inps: dict[str, Inputs]) -> None:
        for p in self.parts:
            p.warm_up(spark, inps[p.name])

    def run_pass(self, spark: SparkSession, inps: dict[str, Inputs],
                 tracer: Tracer, work: str) -> dict[str, PassResult]:
        return {p.name: p.run_pass(spark, inps[p.name], tracer, work)
                for p in self.parts}

    def after_pass(self, spark: SparkSession, inps: dict[str, Inputs],
                   res: dict[str, PassResult], work: str) -> None:
        for p in self.parts:
            p.after_pass(spark, inps[p.name], res[p.name], work)

    def check(self, spark: SparkSession, inps: dict[str, Inputs],
              passes: list[dict[str, PassResult]]
              ) -> tuple[list[str], dict]:
        problems, quality = [], {}
        for p in self.parts:
            bad, q = p.check(spark, inps[p.name], [r[p.name] for r in passes])
            problems += [f"{p.name}: {b}" for b in bad]
            quality.update(q)
        return problems, quality


WORKLOADS = {w.name: w for w in (
    Workload("warehouse_bi", [Relational(), Medallion()]),
    Workload("corpus_prep", [Corpus(), Vector()]),
)}
