"""Streaming tests: exactly-once incremental file ingest (checkpoint +
availableNow, the reference's Auto Loader semantics) and watermarked
event-time aggregation running as a real stream (rate→memory sink)."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from redshift_to_lakehouse_migration_spark import datagen
from redshift_to_lakehouse_migration_spark import schemas as S
from redshift_to_lakehouse_migration_spark.streaming import ingest, windows
from redshift_to_lakehouse_migration_spark.tables import load
from tests.conftest import SF_SMOKE as SF


def test_ingest_stream_exactly_once(spark, tmp_path):
    land = tmp_path / "landing"
    land.mkdir()
    datagen.generate(str(tmp_path / "g1"), n_policies=30, seed=1,
                     dirty=False)
    shutil.copy(tmp_path / "g1" / "raw_policies.csv",
                land / "batch1.csv")

    target = str(tmp_path / "bronze_policies")
    ckpt = str(tmp_path / "ckpt")
    ingest.ingest_stream(spark, str(land), S.RAW_POLICIES, target, ckpt)
    n1 = spark.read.parquet(target).count()
    assert n1 == 30

    # re-run with no new files → no duplicates (checkpoint exactly-once)
    ingest.ingest_stream(spark, str(land), S.RAW_POLICIES, target, ckpt)
    assert spark.read.parquet(target).count() == 30

    # land a second batch → only the delta is appended
    datagen.generate(str(tmp_path / "g2"), n_policies=20, seed=2,
                     dirty=False)
    shutil.copy(tmp_path / "g2" / "raw_policies.csv",
                land / "batch2.csv")
    ingest.ingest_stream(spark, str(land), S.RAW_POLICIES, target, ckpt)
    df = spark.read.parquet(target)
    assert df.count() == 50
    assert {"_ingestion_timestamp", "_source_file"} <= set(df.columns)


def test_ingest_schema_evolution_restart(spark, tmp_path):
    """ST2: landing CSVs gain a column mid-stream → restarting the ingest
    with the widened schema and the SAME checkpoint processes exactly the
    new files; mergeSchema read surfaces the new column with NULLs for
    pre-evolution rows (the Auto Loader addNewColumns result, OSS form)."""
    land = tmp_path / "landing"
    land.mkdir()
    (land / "batch1.csv").write_text(
        "id,name\n1,alice\n2,bob\n")
    target = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")

    v1 = "id long, name string"
    ingest.ingest_stream(spark, str(land), v1, target, ckpt)
    assert spark.read.parquet(target).count() == 2

    # schema change lands: a third column appears in new files
    (land / "batch2.csv").write_text(
        "id,name,tier\n3,carol,gold\n")
    v2 = "id long, name string, tier string"
    ingest.ingest_stream(spark, str(land), v2, target, ckpt)

    df = ingest.read_ingested(spark, target)
    assert df.count() == 3                      # no reprocessing of batch1
    assert "tier" in df.columns
    rows = {r.id: r.tier for r in df.collect()}
    assert rows[3] == "gold"
    assert rows[1] is None and rows[2] is None  # pre-evolution rows → NULL


def test_windowed_aggs_streaming_vs_batch(spark, tmp_path):
    """The same windowed expression over a file stream must equal the batch
    result — Structured Streaming's unified-semantics contract."""
    events = load(spark, SF, "events")
    events.write.mode("overwrite").parquet(str(tmp_path / "events_pq"))

    stream_src = (spark.readStream.schema(events.schema)
                  .parquet(str(tmp_path / "events_pq")))
    out = windows.hourly_event_counts(stream_src)
    q = (out.writeStream.format("memory").queryName("hourly_test")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    streamed = spark.sql(
        "SELECT * FROM hourly_test ORDER BY window_start, event_type")
    batch = (windows.hourly_event_counts(events)
             .orderBy("window_start", "event_type"))
    s_rows = [(r.window_start, r.event_type, r.event_count)
              for r in streamed.collect()]
    b_rows = [(r.window_start, r.event_type, r.event_count)
              for r in batch.collect()]
    assert s_rows == b_rows and len(s_rows) > 0


def test_null_event_time_drops_identically_in_stream_and_batch(
        spark, tmp_path):
    """A NULL event time (corrupt producer row) is dropped by `window()`
    in BOTH modes — the generator yields nothing for NULL, so no
    NULL-window group forms in batch and no state forms in streaming.
    Pinned so a future refactor (e.g. coalescing ts into a default)
    cannot silently fork stream from batch on hostile rows; upstream DQ
    owns NULL-ts detection."""
    rows = [(1, "click", 1.0, "2024-01-01 10:05:00"),
            (2, "click", 2.0, None),
            (3, "view", 3.0, "2024-01-01 10:40:00")]
    events = (spark.createDataFrame(
        rows, "event_id long, event_type string, value double, ts_s string")
        .select("event_id", "event_type", "value",
                F.col("ts_s").cast("timestamp").alias("ts")))
    batch = sorted((str(r.window_start), r.event_type, r.event_count)
                   for r in windows.hourly_event_counts(events).collect())
    assert batch == [("2024-01-01 10:00:00", "click", 1),
                     ("2024-01-01 10:00:00", "view", 1)]  # row 2 dropped

    events.write.mode("overwrite").parquet(str(tmp_path / "pq"))
    src = spark.readStream.schema(events.schema).parquet(
        str(tmp_path / "pq"))
    q = (windows.hourly_event_counts(src)
         .writeStream.format("memory").queryName("null_ts_test")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = sorted(
        (str(r.window_start), r.event_type, r.event_count)
        for r in spark.sql("SELECT * FROM null_ts_test").collect())
    assert streamed == batch


def test_session_windows_conserve_events(spark):
    """Conservation ONLY: every event lands in exactly one session (a
    dropped or double-counted event flips the sum). The actual
    stream≡batch session-window equivalence — what a forked semantics
    would break — is proven bit-exact on the hostile envelope in
    test_streaming_hostile.py."""
    events = load(spark, SF, "events")
    sessions = windows.user_sessions(events)
    agg = sessions.agg(F.sum("event_count").alias("n")).collect()[0]
    assert agg.n == events.count()


def test_stateful_running_user_stats(spark, tmp_path):
    """applyInPandasWithState across TWO micro-batches must equal the batch
    lag-window computation — including the cross-batch boundary gap that
    only per-key state can see."""
    from pyspark.sql import Window as W

    from redshift_to_lakehouse_migration_spark.streaming.stateful import (
        running_user_stats,
    )

    events = load(spark, SF, "events").filter("user_id <= 20")
    # two files → two micro-batches (maxFilesPerTrigger=1), split by time so
    # the boundary gap genuinely crosses batches
    cut = events.selectExpr("percentile(cast(ts as double), 0.5) p") \
        .collect()[0].p
    src_dir = tmp_path / "events_stream"
    events.filter(F.col("ts").cast("double") <= cut).coalesce(1) \
        .write.parquet(str(src_dir / "b1"))
    events.filter(F.col("ts").cast("double") > cut).coalesce(1) \
        .write.parquet(str(src_dir / "b2"))

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src_dir / "*")))
    q = (running_user_stats(stream)
         .writeStream.format("memory").queryName("user_state")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_state"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    # update mode emits one row per user per touching batch → keep the last
    streamed = spark.sql("""
        SELECT user_id, event_count, total_value, max_gap_seconds
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY user_id ORDER BY event_count DESC) rn
              FROM user_state) WHERE rn = 1""")
    w = W.partitionBy("user_id").orderBy("ts")
    batch = (events
             .withColumn("gap", F.col("ts").cast("double")
                         - F.lag(F.col("ts").cast("double")).over(w))
             .groupBy("user_id")
             .agg(F.count("*").alias("event_count"),
                  F.sum("value").alias("total_value"),
                  F.coalesce(F.max("gap"), F.lit(0.0))
                  .alias("max_gap_seconds")))
    s = {r.user_id: r for r in streamed.collect()}
    b = {r.user_id: r for r in batch.collect()}
    assert set(s) == set(b)
    for uid in b:
        assert s[uid].event_count == b[uid].event_count, uid
        assert abs(s[uid].total_value - b[uid].total_value) < 1e-6, uid
        assert abs(s[uid].max_gap_seconds - b[uid].max_gap_seconds) < 1e-6, uid


def test_stream_static_dim_enrichment(spark, tmp_path):
    """Stream-static join: streamed events enriched against a static user
    dimension must equal the batch join, with the dim side broadcast."""
    events = load(spark, SF, "events").filter("user_id <= 10")
    events.write.mode("overwrite").parquet(str(tmp_path / "ev"))
    dim = spark.createDataFrame(
        [(i, f"tier_{i % 3}") for i in range(11)],
        "user_id long, tier string")

    stream = (spark.readStream.schema(events.schema)
              .parquet(str(tmp_path / "ev")))
    out = windows.enrich_with_dim(stream, dim, "user_id")
    q = (out.writeStream.format("memory").queryName("enriched")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_dim"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    streamed = spark.sql(
        "SELECT user_id, tier, count(*) n FROM enriched GROUP BY 1, 2")
    batch = (windows.enrich_with_dim(events, dim, "user_id")
             .groupBy("user_id", "tier").count())
    s = {(r.user_id, r.tier): r.n for r in streamed.collect()}
    b = {(r.user_id, r.tier): r["count"] for r in batch.collect()}
    assert s == b and len(s) == 11


def test_streaming_scd2_merge(spark, tmp_path):
    """Change rows landing as files stream into the SCD2 dimension via
    foreachBatch: per-batch merges accumulate versions exactly like the
    batch merge, and the checkpoint makes a re-run a no-op."""
    from redshift_to_lakehouse_migration_spark.scd2 import init_scd2
    from redshift_to_lakehouse_migration_spark.streaming.scd2_stream import (
        stream_scd2,
    )

    dim_path = str(tmp_path / "dim_user")
    snap = spark.createDataFrame(
        [(1, "bronze"), (2, "silver"), (3, "gold")],
        "user_id long, tier string")
    init_scd2(snap, "2024-01-01").write.parquet(dim_path)

    land = tmp_path / "changes"
    land.mkdir()
    spark.createDataFrame([(1, "silver")], "user_id long, tier string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(land / "b1"))
    spark.createDataFrame([(2, "silver"), (4, "bronze")],
                          "user_id long, tier string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(land / "b2"))

    changes = (spark.readStream.schema("user_id long, tier string")
               .option("maxFilesPerTrigger", "1")
               .parquet(str(land / "*")))
    ckpt = str(tmp_path / "ckpt_scd2")
    stream_scd2(spark, changes, dim_path, ["user_id"], ["tier"],
                "2024-02-01", ckpt)

    dim = spark.read.parquet(dim_path)
    assert dim.count() == 5                     # 3 + 1 new version + user 4
    u1 = {r.is_current: r.tier
          for r in dim.filter("user_id = 1").collect()}
    assert u1[True] == "silver" and u1[False] == "bronze"
    assert dim.filter("user_id = 2 AND is_current").collect()[0].tier \
        == "silver"
    assert dim.filter("user_id = 3").count() == 1        # untouched
    assert dim.filter("user_id = 4 AND is_current").count() == 1

    # replay with the same checkpoint: no new files → dimension unchanged
    changes2 = (spark.readStream.schema("user_id long, tier string")
                .option("maxFilesPerTrigger", "1")
                .parquet(str(land / "*")))
    stream_scd2(spark, changes2, dim_path, ["user_id"], ["tier"],
                "2024-03-01", ckpt)
    assert spark.read.parquet(dim_path).count() == 5


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (click → purchase within 1h per user):
    run both sides as REAL file streams with watermarks (availableNow →
    memory sink) and assert the result set equals the same operator
    applied to the batch frames — bounded state, identical semantics."""
    from redshift_to_lakehouse_migration_spark.streaming.joins import interval_join

    events = load(spark, SF, "events").select("user_id", "event_type",
                                              "ts", "event_id")
    clicks = events.filter(F.col("event_type") == "click") \
        .select("user_id", "ts", "event_id")
    purchases = events.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "event_id")
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    clicks.write.parquet(cdir)
    purchases.write.parquet(pdir)

    batch = interval_join(spark.read.parquet(cdir),
                          spark.read.parquet(pdir),
                          key="user_id", left_ts="ts", right_ts="ts")
    expected = {(r.l_key, r.l_event_id, r.r_event_id)
                for r in batch.collect()}
    assert expected  # non-degenerate fixture

    cs = spark.readStream.schema(clicks.schema).parquet(cdir)
    ps = spark.readStream.schema(purchases.schema).parquet(pdir)
    out = interval_join(cs, ps, key="user_id", left_ts="ts",
                        right_ts="ts")
    q = (out.writeStream.format("memory").queryName("ssjoin")
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(120)  # False = timed out -> partial sink
    finally:
        q.stop()  # on timeout the query would otherwise OUTLIVE the test
                  # and keep a microbatch thread running under later tests
                  # (VERDICT r9 #1b); stop() is a no-op once terminated
    got = {(r.l_key, r.l_event_id, r.r_event_id)
           for r in spark.sql("SELECT * FROM ssjoin").collect()}
    assert got == expected


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicates delivered in DIFFERENT files (→ different micro-batches
    under maxFilesPerTrigger=1) must collapse to one row when inside the
    watermark horizon."""
    from redshift_to_lakehouse_migration_spark.streaming.joins import dedup_stream

    base = load(spark, SF, "events").select("event_id", "user_id", "ts") \
        .limit(50)
    land = tmp_path / "dupland"
    base.write.parquet(str(land / "f1"))
    # the redelivered subset must come from the MATERIALIZED f1, not a
    # re-execution of the source plan: limit() without an order carries
    # no cross-execution determinism guarantee, so `base.limit(20)`
    # could pick rows f1 doesn't contain and break the 50-unique claim
    spark.read.parquet(str(land / "f1")).limit(20) \
        .write.parquet(str(land / "f2"))

    src = (spark.readStream.schema(base.schema)
           .option("maxFilesPerTrigger", 1)
           .parquet(str(land / "*")))
    deduped = dedup_stream(src, ["event_id"], "ts", watermark="10 years")
    q = (deduped.writeStream.format("memory").queryName("dedupstream")
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(120)  # False = timed out -> partial sink
    finally:
        q.stop()  # see ssjoin: never leak a live query past the test
    got = spark.sql("SELECT event_id FROM dedupstream").collect()
    assert len(got) == 50  # 70 delivered rows -> 50 unique events
    assert len({r.event_id for r in got}) == 50


def test_late_data_beyond_watermark_is_dropped(spark, tmp_path):
    """Watermark semantics in append mode: once the watermark passes a
    window's end, the window finalizes and emits exactly once; a row for
    that window arriving LATER (beyond the watermark) is dropped — it
    must neither re-emit nor change the finalized count."""
    from datetime import datetime

    schema = "event_id long, ts timestamp, user_id long, " \
             "event_type string, value double"

    def mk(rows):
        return spark.createDataFrame(
            [(i, datetime(2024, 1, 1, h, m), 1, "click", 1.0)
             for i, (h, m) in enumerate(rows)], schema)

    land = tmp_path / "late_land"
    target_ckpt = str(tmp_path / "late_ckpt")
    sink = str(tmp_path / "late_sink")

    def run_once():
        src = spark.readStream.schema(mk([]).schema) \
            .parquet(str(land / "*"))
        out = windows.hourly_event_counts(src, watermark="30 minutes")
        q = (out.writeStream.format("parquet")
             .option("path", sink)
             .outputMode("append")
             .option("checkpointLocation", target_ckpt)
             .trigger(availableNow=True).start())
        try:
            assert q.awaitTermination(120)  # False = timed out -> partial
        finally:
            q.stop()  # see ssjoin: never leak a live query past the test

    # batch 1: two rows in the 10:00 window + a 13:00 row that advances
    # the watermark to 12:30, finalizing the 10:00 window at count 2
    mk([(10, 0), (10, 20), (13, 0)]).write.parquet(str(land / "f1"))
    run_once()

    # batch 2: a LATE 10:15 row (far beyond the watermark) + a 15:00 row
    # that finalizes the 13:00 window
    mk([(10, 15), (15, 0)]).write.parquet(str(land / "f2"))
    run_once()

    result = spark.read.parquet(sink).collect()
    got = {(r.window_start.hour, r.event_count) for r in result}
    assert (10, 2) in got          # finalized without the late row
    assert (10, 3) not in got      # late row did not mutate the window
    assert (13, 1) in got          # 13:00 window finalized by batch 2
    # the 10:00 window emitted exactly once
    rows10 = [r for r in result if r.window_start.hour == 10]
    assert len(rows10) == 1


def test_stateful_stats_survive_arrow_chunking(spark, tmp_path):
    """One user's micro-batch rows arrive as MULTIPLE Arrow chunks in
    arbitrary order (chunking is by arrow.maxRecordsPerBatch, not time):
    the state fold must concat+sort the whole batch, not fold per chunk —
    a per-chunk fold corrupts last_ts and max_gap whenever a group spans
    chunks. Forced here with maxRecordsPerBatch=2 over a deliberately
    shuffled single-user file."""
    import random

    from pyspark.sql import Window as W

    from redshift_to_lakehouse_migration_spark.streaming.stateful import (
        running_user_stats,
    )

    rows = [(1, f"2024-01-01 00:{m:02d}:00", float(m)) for m in range(30)]
    random.Random(7).shuffle(rows)   # arbitrary order inside the file
    events = spark.createDataFrame(
        rows, "user_id long, ts_s string, value double"
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    src = tmp_path / "chunked_stream"
    events.coalesce(1).write.parquet(str(src / "b1"))

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = (spark.readStream.schema(events.schema)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(src / "*")))
        q = (running_user_stats(stream)
             .writeStream.format("memory").queryName("chunked_state")
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ckpt_chunked"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")

    got = spark.sql("""
        SELECT event_count, total_value, max_gap_seconds
        FROM chunked_state ORDER BY event_count DESC LIMIT 1""").collect()[0]
    assert got.event_count == 30
    assert abs(got.total_value - sum(range(30))) < 1e-6
    assert abs(got.max_gap_seconds - 60.0) < 1e-6   # uniform 1-min spacing


def test_stateful_stats_project_before_state_shuffle(spark, tmp_path):
    """Only the three columns the state function reads may cross the
    state shuffle / Arrow boundary: applyInPandasWithState is opaque to
    Catalyst, so without the operator's own projection every input
    column (event_id, event_type, the props JSON payload) is shuffled
    to the state partitioning and serialized to Python per micro-batch."""
    import re

    from redshift_to_lakehouse_migration_spark.streaming.stateful import (
        running_user_stats,
    )

    events = load(spark, SF, "events")           # full 6-column schema
    src = tmp_path / "proj_stream"
    events.limit(5).coalesce(1).write.parquet(str(src / "b1"))
    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src / "*")))
    plan = running_user_stats(stream) \
        ._jdf.queryExecution().analyzed().toString()
    assert re.search(
        r"Project \[user_id#\d+L?, ts#\d+, value#\d+\]", plan), plan


def test_ingest_stream_writes_full_lineage_columns(spark, tmp_path):
    """The stream path must emit the SAME metadata columns as the batch
    path (bronze.add_metadata_columns) — an earlier hand-rolled subset
    omitted _batch_id, splitting the schema of mixed batch/stream
    targets."""
    import csv

    from redshift_to_lakehouse_migration_spark.streaming.ingest import (
        ingest_stream, read_ingested,
    )

    src = tmp_path / "landing"
    src.mkdir()
    with open(src / "f1.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "v"])
        w.writerow(["1", "10"])
    schema = "id INT, v INT"
    from pyspark.sql import types as T
    st = T.StructType([T.StructField("id", T.IntegerType()),
                       T.StructField("v", T.IntegerType())])
    ingest_stream(spark, str(src), st, str(tmp_path / "target"),
                  str(tmp_path / "ckpt"))
    out = read_ingested(spark, str(tmp_path / "target"))
    assert {"_ingestion_timestamp", "_source_file", "_batch_id"} \
        <= set(out.columns)
    assert out.filter("_batch_id IS NULL").count() == 0
