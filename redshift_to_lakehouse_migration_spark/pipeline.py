"""In-session pipeline DAG runner.

The reference orchestrates its medallion DAG as Databricks Workflow tasks —
every bronze→silver→gold arrow is a separate Spark application with Delta
tables as the hand-off (`databricks.yml:131-224`; SURVEY §3). This runner
keeps the same dependency semantics inside ONE SparkSession: nodes declare
upstream names, execute topologically, and hand DataFrames directly to
downstream nodes — no per-task cluster spin-up, no forced materialization
between layers (Catalyst sees through the whole chain unless a node opts
into persistence).

Nodes may opt into materialization (``materialize="path/.../table"``) to cut
lineage for iterative jobs or to publish a layer; that is the 100 TB
behavior too — facts publish, intermediate cleans stream through.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor
from concurrent.futures import wait as fwait
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Node:
    name: str
    fn: Callable[..., DataFrame]          # fn(spark, **upstream_dfs)
    deps: list[str] = field(default_factory=list)
    materialize: str | None = None        # parquet path to publish to
    partition_by: list[str] | None = None


@dataclass
class NodeRun:
    name: str
    seconds: float
    rows: int | None = None


class Pipeline:
    """A named DAG of DataFrame-producing nodes."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._nodes: dict[str, Node] = {}

    def add(self, name: str, fn: Callable[..., DataFrame],
            deps: list[str] | None = None,
            materialize: str | None = None,
            partition_by: list[str] | None = None) -> "Pipeline":
        if name in self._nodes:
            raise ValueError(f"duplicate node {name!r}")
        self._nodes[name] = Node(name, fn, deps or [], materialize,
                                 partition_by)
        return self

    def _run_node(self, node: Node, outputs: dict[str, DataFrame],
                  count_rows: bool) -> NodeRun:
        t0 = time.perf_counter()
        df = node.fn(self.spark, **{d: outputs[d] for d in node.deps})
        if node.materialize:
            writer = df.write.mode("overwrite")
            if node.partition_by:
                writer = writer.partitionBy(*node.partition_by)
            writer.parquet(node.materialize)
            df = self.spark.read.parquet(node.materialize)
        outputs[node.name] = df
        return NodeRun(node.name, round(time.perf_counter() - t0, 3),
                       df.count() if count_rows else None)

    def run(self, count_rows: bool = False, max_workers: int = 1
            ) -> tuple[dict[str, DataFrame], list[NodeRun]]:
        """Execute the DAG; returns node outputs + per-node metrics.

        ``count_rows`` adds a count job per node (the reference counts every
        layer, SURVEY §3; off by default — at scale you want the fused
        DQ pass to report counts instead).

        Nodes are submitted to a ``max_workers`` thread pool as soon as
        their deps are done. ``max_workers > 1`` runs topologically-ready
        nodes concurrently (Spark's scheduler interleaves the jobs across
        executors — the in-session analog of the reference's parallel
        workflow tasks, `databricks.yml:131-162`, where all four bronze
        ingests run at once). Plan construction is lazy and cheap;
        concurrency only pays on nodes that execute jobs
        (materialize/count), so the default of 1 runs the same loop one
        node at a time.
        """
        # Validate dependency names up front: an undeclared dep would
        # otherwise surface as a bare KeyError from the sorter's implicit
        # node (TopologicalSorter auto-creates nodes for unknown deps).
        unknown = sorted(
            {d for n in self._nodes.values() for d in n.deps}
            - set(self._nodes))
        if unknown:
            raise ValueError(f"undeclared dependency node(s): {unknown}")
        sorter = TopologicalSorter(
            {n.name: set(n.deps) for n in self._nodes.values()})
        sorter.prepare()
        outputs: dict[str, DataFrame] = {}
        runs: list[NodeRun] = []
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            pending = {}
            while sorter.is_active():
                for name in sorter.get_ready():
                    pending[pool.submit(
                        self._run_node, self._nodes[name], outputs,
                        count_rows)] = name
                if not pending:
                    break
                done, _ = fwait(pending, return_when=FIRST_COMPLETED)
                for fut in done:
                    runs.append(fut.result())       # re-raises node errors
                    sorter.done(pending.pop(fut))
        return outputs, runs
