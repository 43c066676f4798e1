"""Degenerate-input robustness: every registered query must plan and
execute against EMPTY tables (0 rows, correct schemas) without raising —
the day-one state of any new deployment, and the state a partition
filter can produce for any date slice at 100 TB.

NOTHING is excluded: the sweep parametrizes over the full registry,
including the iterative trainers (kmeans/IVF/PQ) — on an empty corpus
they must return an empty result, not crash on an empty centroid seed.
"""

from __future__ import annotations

import pytest

from redshift_to_lakehouse_migration_spark.queries import QUERIES
from redshift_to_lakehouse_migration_spark.tables import TABLES, load
from tests.conftest import SF_SMOKE as SF


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        df = load(spark, SF, t)
        df.limit(0).write.parquet(str(out / f"{t}.parquet"))
    return str(out)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_survives_empty_tables(spark, empty_sf, name):
    rows = QUERIES[name](spark, empty_sf).collect()
    assert isinstance(rows, list)  # executed; no crash, sane result
