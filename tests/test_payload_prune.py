"""Payload-prune invariants (r11 optimization, guide §2.3).

`ivf_assign(keep_vec=False)` and `assign_codes(keep_subvec=False)` exist
because Catalyst cannot prune a column OUT of an aggregate's max-struct
expression: a caller that drops the vector right after the assignment
still pays a dim-sized struct copy per (row × centroid) scored pair and
ships vector-wide rows through the aggregate shuffle. These tests pin
both halves of the contract:

1. semantics — the pruned variant returns exactly the payload-carrying
   variant minus the payload column (same assignments, same tie-breaks,
   including the hostile NULL/NaN rows the totality guards exist for);
2. plan — the pruned variant's aggregate/exchange really is free of the
   vector column (a future refactor that quietly re-adds the payload to
   the struct would re-open the 100 TB shuffle regression unnoticed by
   any semantics test).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from redshift_to_lakehouse_migration_spark.llm import pq
from redshift_to_lakehouse_migration_spark.llm import similarity as sim
from redshift_to_lakehouse_migration_spark.tables import load
from tests.conftest import SF_SMOKE as SF

M, DIM = 4, 64


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF, "embeddings").cache()


@pytest.fixture(scope="module")
def centroids(emb):
    return emb.filter(F.col("vec_id") % 16 == 0)


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def _struct_items(df):
    """Field names inside every `max(struct(...))` aggregate of the
    executed plan — ONE parser for both the negative assertions and their
    positive controls, so a Spark version that changes expression
    pretty-printing breaks the control loudly instead of making the
    negative check vacuously pass (ADVICE r11)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [p.strip() for line in plan.splitlines()
            if "max(struct(" in line
            for p in line.split("struct(")[1].split(")")[0].split(",")]


@pytest.mark.parametrize("nprobe", [1, 2])
def test_keep_vec_false_matches_assignments(emb, centroids, nprobe):
    full = sim.ivf_assign(emb, centroids, "vec_id", "embedding",
                          "vec_id", "embedding", nprobe=nprobe)
    slim = sim.ivf_assign(emb, centroids, "vec_id", "embedding",
                          "vec_id", "embedding", nprobe=nprobe,
                          keep_vec=False)
    assert slim.columns == ["vec_id", "centroid_id"]
    assert _rows(slim, ["vec_id", "centroid_id"]) == \
        _rows(full, ["vec_id", "centroid_id"])


def test_keep_vec_false_plan_carries_no_vector(emb, centroids):
    slim = sim.ivf_assign(emb, centroids, "vec_id", "embedding",
                          "vec_id", "embedding", nprobe=1, keep_vec=False)
    # the argmax aggregate must not build (nor shuffle) an `emb` slot
    assert "emb" not in _struct_items(slim)
    # positive control THROUGH THE SAME PARSER (ADVICE r11): the
    # payload-carrying twin's struct items must contain `emb`, proving
    # the parser still reaches the field list on this Spark version
    full = sim.ivf_assign(emb, centroids, "vec_id", "embedding",
                          "vec_id", "embedding", nprobe=1)
    assert "emb" in _struct_items(full)


@pytest.fixture(scope="module")
def sub(emb):
    return pq.split_subvectors(emb, "vec_id", "embedding", M, DIM).cache()


@pytest.fixture(scope="module")
def codebook(sub):
    seeds = sub.filter(F.col("vec_id") % 16 == 0)
    return seeds.select(
        "subspace",
        (F.row_number().over(W.partitionBy("subspace").orderBy("vec_id"))
         - 1).alias("code"),
        F.col("subvec").alias("centroid"))


def test_keep_subvec_false_matches_codes(sub, codebook):
    full = pq.assign_codes(sub, codebook)
    slim = pq.assign_codes(sub, codebook, keep_subvec=False)
    assert slim.columns == ["vec_id", "subspace", "code"]
    assert _rows(slim, ["vec_id", "subspace", "code"]) == \
        _rows(full, ["vec_id", "subspace", "code"])


def test_keep_subvec_false_plan_carries_no_subvec(sub, codebook):
    slim = pq.assign_codes(sub, codebook, keep_subvec=False)
    assert "sv" not in _struct_items(slim)
    # positive control through the same parser (ADVICE r11)
    full = pq.assign_codes(sub, codebook)
    assert "sv" in _struct_items(full)


def test_encode_uses_pruned_assignment(sub, codebook):
    # encode() must stay on the pruned path: its plan carries no subvec
    # through the argmin aggregate (the codes are the only output).
    codes = pq.encode(sub, codebook)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "max(struct(" in line:
            assert " sv," not in line and "(sv" not in line
