"""Maintenance ops: compaction reduces file count without changing data;
bucketed tables join WITHOUT a shuffle exchange (the co-located join that
replaces Redshift DISTKEY at scale)."""

from __future__ import annotations

from pyspark.sql import functions as F

from redshift_to_lakehouse_migration_spark.maintenance import (
    compact_parquet, write_bucketed,
)
from redshift_to_lakehouse_migration_spark.tables import load
from tests.conftest import SF_SMOKE as SF


def test_compaction_preserves_data(spark, tmp_path):
    path = str(tmp_path / "frag")
    orders = load(spark, SF, "orders")
    orders.repartition(64).write.parquet(path)          # breed small files
    before_files = len(spark.read.parquet(path).inputFiles())
    checksum = spark.read.parquet(path).agg(
        F.sum("o_orderkey"), F.count("*")).collect()[0]

    compact_parquet(spark, path, target_mb=256)

    after = spark.read.parquet(path)
    assert len(after.inputFiles()) < before_files
    assert after.agg(F.sum("o_orderkey"),
                     F.count("*")).collect()[0] == checksum


def test_compaction_refuses_stale_swap_residue(spark, tmp_path):
    """A prior run hard-killed between the two swap moves leaves the
    dataset at `<path>__old`. The next run must refuse LOUDLY: blindly
    re-swapping would shutil.move the live dir INSIDE the stale one
    (nesting), and the restore branch would then resurrect stale data as
    the live table. Auto-deleting is worse — `__old` may be the only
    surviving copy."""
    import pytest as _pytest

    path = str(tmp_path / "t")
    load(spark, SF, "region").write.parquet(path)
    stale = path + "__old"
    load(spark, SF, "nation").write.parquet(stale)

    with _pytest.raises(RuntimeError, match="stale swap residue"):
        compact_parquet(spark, path, target_mb=256)

    # both directories untouched by the refusal
    assert spark.read.parquet(path).count() == 5
    assert spark.read.parquet(stale).count() == 25


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    _saved_abjt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load(spark, SF, "orders")
        lineitem = load(spark, SF, "lineitem")
        write_bucketed(orders, "b_orders", "o_orderkey", 8,
                       sort_col="o_orderkey")
        write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "b_lineitem", "o_orderkey", 8, sort_col="o_orderkey")

        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan   # co-located
        # same join on raw parquet DOES shuffle — the bucketing is the win
        raw = orders.join(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "o_orderkey")
        raw_plan = raw._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in raw_plan
        assert joined.count() == raw.count()
    finally:
        # set, not unset: unset falls back to Spark's global 10MB
        # default rather than the session's 64MB builder conf, which
        # silently degraded every later test's broadcast planning
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _saved_abjt)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_zorder_layout_localizes_both_columns(spark, tmp_path):
    """Z-order vs single-column sort: after write_zordered, EVERY file's
    parquet footer covers a narrow range of BOTH columns (the property
    that lets min/max stats skip files for predicates on either column).
    A layout sorted only by x has full-width y ranges in every file."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from redshift_to_lakehouse_migration_spark.maintenance import write_zordered

    side = 64
    grid = (spark.range(side * side)
            .select((F.col("id") % side).alias("x"),
                    (F.col("id") / side).cast("long").alias("y")))

    zpath = str(tmp_path / "zorder")
    write_zordered(grid, zpath, "x", "y", n_files=16, bits=8)
    xpath = str(tmp_path / "xsort")
    (grid.repartitionByRange(16, "x").sortWithinPartitions("x")
     .write.parquet(xpath))

    def spans(path):
        import glob, statistics
        out = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            cols = {md.row_group(0).column(i).path_in_schema: i
                    for i in range(md.row_group(0).num_columns)}
            mins = {c: min(md.row_group(g).column(i).statistics.min
                           for g in range(md.num_row_groups))
                    for c, i in cols.items()}
            maxs = {c: max(md.row_group(g).column(i).statistics.max
                           for g in range(md.num_row_groups))
                    for c, i in cols.items()}
            out.append({c: maxs[c] - mins[c] for c in cols})
        return {c: statistics.mean(s[c] for s in out) for c in out[0]}

    z, x = spans(zpath), spans(xpath)
    # z-order: BOTH dims localized (each file covers ~a quadrant strip)
    assert z["x"] < side * 0.6 and z["y"] < side * 0.6, z
    # x-sort: x localized but y spans the full width in every file
    assert x["y"] > side * 0.9, x
    # and z-order's y-span beats the x-sorted layout's by a wide margin
    assert z["y"] < x["y"] / 2


def test_partitioned_compaction_does_not_explode_files(spark, tmp_path):
    """With partition_by, rows must be repartitioned ON the partition
    columns: each partition value → one task → ONE file. (A plain
    repartition(n) + partitionBy writes up to n×values files — an
    explosion, not a compaction.) The return value is the real data-file
    count."""
    path = str(tmp_path / "part_frag")
    orders = load(spark, SF, "orders").withColumn(
        "status", F.col("o_orderstatus"))
    orders.repartition(32).write.partitionBy("status").parquet(path)
    n_values = orders.select("status").distinct().count()
    before = len(spark.read.parquet(path).inputFiles())
    assert before > n_values          # fragmented: many files per value

    written = compact_parquet(spark, path, target_mb=256,
                              partition_by=["status"])

    after = spark.read.parquet(path)
    n_after = len(after.inputFiles())
    assert n_after == n_values        # exactly one file per partition value
    assert written == n_after         # returned count is the real count
    assert after.count() == orders.count()


def test_zorder_preserves_locality_on_wide_domains(spark, tmp_path):
    """Raw values above 2^bits must still drive the layout: two id
    clusters a million apart land in DIFFERENT files after min-max
    normalization (the unnormalized morton code discarded the high bits
    and interleaved them into the same files)."""
    from redshift_to_lakehouse_migration_spark.maintenance import (
        write_zordered,
    )
    rows = [(i, i % 50) for i in range(200)] + \
           [(1_000_000 + i, i % 50) for i in range(200)]
    df = spark.createDataFrame(rows, "big_id long, small long")
    path = str(tmp_path / "zorder")
    write_zordered(df, path, "big_id", "small", n_files=4, bits=16)

    out = spark.read.parquet(path).withColumn(
        "f", F.element_at(F.split(F.input_file_name(), "/"), -1))
    spans = out.groupBy("f").agg(
        (F.max("big_id") - F.min("big_id")).alias("span"))
    # every file covers ONE cluster (span < 200), never both (~1e6)
    assert spans.filter(F.col("span") > 10_000).count() == 0
