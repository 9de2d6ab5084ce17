"""Streaming streams-fact pipeline.

The reference's cascade (SURVEY.md §3.1) — EventBridge schedule -> 25
ingest Lambdas -> process -> curate -> load, with files as the IR at
every hop — collapses into one streaming query: file-source over the
raw layer, the same pure transforms as batch (``pipeline.streams``),
watermarked dedup, curated sink. Batch identity (``day_date_id``,
``time_of_day_id``) stays as columns for star-schema parity; event time
for watermarking is derived from the grid cell.

At scale: an offset fetch lists the whole raw glob and filters out the
files already seen; when ``maxFilesPerTrigger`` (the reference's
100-page throttle analog, SURVEY.md §4) cuts a listing, the unread
remainder is cached for the next triggers. Each micro-batch then
re-lists its own files as explicit paths to build its file index. Above
32 paths both listings run as Spark jobs, which the session factory
sizes to the cores rather than one task per shard. State for dedup is
bounded by the watermark, and ``availableNow`` gives deterministic
replay for tests/backfills.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..pipeline.streams import curate_streams, process_raw_streams
from ..sources.json_envelope import read_envelope_records


def batch_event_time(day_date_id: Column, time_of_day_id: Column) -> Column:
    """Event-time timestamp of a batch grid cell (tz-free parse).

    The reference models time dimensionally (SURVEY.md §1.2); streaming
    needs a real timestamp for watermarks, so the grid cell converts
    back: "20260111" + "1715" -> 2026-01-11 17:15:00 UTC.
    """
    return F.to_timestamp(
        F.concat(day_date_id, F.lit(" "), time_of_day_id), "yyyyMMdd HHmm"
    )


def stream_raw_streams(
    spark: SparkSession, raw_glob: str, max_files_per_trigger: int | None = 100
) -> DataFrame:
    """Streaming scan of the raw streams layer (S1/S2/S3, streaming).

    ``max_files_per_trigger`` throttles how many raw shard files enter
    one micro-batch — the engine analog of the reference's 100-per-page
    API throttle (SURVEY.md §4). Without it, a backfill over months of
    raw slots arrives as ONE giant first micro-batch (unbounded state
    growth, one enormous shuffle); with it, ``availableNow`` replays
    still process everything, split into bounded micro-batches.
    ``None`` disables the throttle.
    """
    return read_envelope_records(
        spark,
        raw_glob,
        schemas.RAW_STREAMS_ENVELOPE,
        streaming=True,
        max_files_per_trigger=max_files_per_trigger,
    )


def curated_streams_stream(records: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Raw records stream -> curated fact stream.

    Same transform chain as batch (process -> curate) except the
    cross-shard dedup becomes ``dropDuplicatesWithinWatermark`` on the
    fact grain: state is bounded — a duplicate arriving later than the
    watermark is the reference's "at-most-once by choice" tradeoff
    (SURVEY.md §2.7) made explicit and tunable.
    """
    from ..operators.cleaning import valid_integer_ids

    cleaned = valid_integer_ids(records, "id", "user_id").withColumn(
        "language",
        F.when(F.col("language") == "", F.lit("notavailable")).otherwise(
            F.col("language")
        ),
    )
    curated = cleaned.select(
        F.col("id").alias("stream_id"),
        "day_date_id",
        "time_of_day_id",
        "user_id",
        F.col("game_id").alias("category_id"),
        F.col("language").alias("language_id"),
        "viewer_count",
        (F.col("viewer_count") * 0.25).alias("hours_watched"),
        batch_event_time(F.col("day_date_id"), F.col("time_of_day_id")).alias(
            "event_time"
        ),
    )
    return curated.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        ["stream_id", "day_date_id", "time_of_day_id"]
    )


def windowed_popularity_stream(
    curated: DataFrame, watermark: str | None = None
) -> DataFrame:
    """Per-window category popularity (A1 as a streaming aggregate).

    The reference computes this per batch and feeds it back into the
    next batch's fan-out (get_category_popularity.py:23-26 ->
    create_category_group_messages.py). Here it is a watermarked
    15-minute tumbling-window aggregate; the feedback consumer reads
    the sink table per micro-batch (stream-static join pattern).

    ``watermark`` must stay ``None`` when ``curated`` is already
    watermarked upstream (e.g. by :func:`curated_streams_stream` —
    Spark disallows redefining a watermark); pass a duration only when
    feeding a raw un-watermarked stream.
    """
    if watermark is not None:
        curated = curated.withWatermark("event_time", watermark)
    return (
        curated.groupBy(F.window("event_time", "15 minutes"), "category_id")
        .agg(F.count("stream_id").alias("num_of_streamers"))
        .select(
            F.col("window.start").alias("window_start"),
            "category_id",
            "num_of_streamers",
        )
    )


def replay_to_table(
    stream: DataFrame,
    query_name: str,
    output_mode: str = "append",
    timeout_sec: int = 120,
) -> DataFrame:
    """Run ANY streaming DataFrame to completion with an availableNow
    trigger into a memory sink and return the materialized table.

    The deterministic-replay primitive every streaming test and the
    streaming catalog queries share: ``availableNow`` bounds the run to
    the data already on disk, the memory sink materializes the final
    state, and the returned DataFrame is a plain batch relation over it
    (collect-able, hash-able, oracle-comparable).

    Use ``output_mode="complete"`` for windowed aggregates: in append
    mode a window only emits once the watermark passes its end, which
    never happens when the replay data stops inside the last window —
    complete mode emits the FINAL aggregate state regardless of how
    many micro-batches the trigger split the input into, which is what
    makes the result micro-batch-split-independent.

    Raises ``TimeoutError`` if the replay doesn't finish within
    ``timeout_sec`` — a partially-populated memory table must never
    masquerade as a completed backfill.
    """
    q = (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_sec)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"streams replay {query_name!r} still running after {timeout_sec}s; "
            "memory table would be incomplete"
        )
    return stream.sparkSession.table(query_name)


def run_streams_replay(
    spark: SparkSession,
    raw_glob: str,
    query_name: str = "curated_streams",
    transform=curated_streams_stream,
    output_mode: str = "append",
    max_files_per_trigger: int | None = 100,
    timeout_sec: int = 120,
) -> DataFrame:
    """Deterministic availableNow replay of the RAW-LAYER pipeline into
    a memory sink (tests / backfills): :func:`replay_to_table` over
    ``transform(stream_raw_streams(...))``."""
    stream = transform(
        stream_raw_streams(spark, raw_glob, max_files_per_trigger)
    )
    return replay_to_table(stream, query_name, output_mode, timeout_sec)


def stream_to_partitioned_lake(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: tuple[str, ...] = ("day_date_id",),
    timeout_sec: int = 120,
) -> None:
    """Stream → partitioned parquet lake layer (the streaming twin of
    sinks.write_partitioned / SURVEY K2): availableNow catch-up into
    the same ``day_date_id=`` directory layout batch readers prune on.

    The file sink is exactly-once BY CONSTRUCTION: each micro-batch's
    files are recorded in the sink's ``_spark_metadata`` transaction
    log under the checkpoint's batch id, so a crashed-and-resumed query
    never double-commits a batch — the lake stays consistent without
    any foreachBatch bookkeeping. availableNow drains everything
    pending and stops, which is the lake-maintenance cadence (a cron'd
    catch-up), as opposed to a resident 15-minute trigger.
    """
    q = (
        stream.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(*partition_cols)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"partitioned lake write to {path!r} still running after "
            f"{timeout_sec}s; sink log would be mid-batch"
        )


def session_stream(
    events: DataFrame,
    ts_col: str = "event_time",
    key: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming sessionization via native ``session_window``.

    The streaming twin of the batch lag+cumsum sessionizer (catalog
    ``sessionize``): dynamic-gap session windows merge as events
    arrive, state is bounded by the watermark (a session closes once no
    event can extend it), and the output is one row per closed session.
    At 100 TB the state store is keyed by (key, open-session), i.e. the
    concurrent-session count — never the event count.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "l_time",
    right_ts: str = "r_time",
    upper: str = "15 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner equi-join within an event-time interval:
    rows pair when keys match and ``right_ts`` falls in
    ``[left_ts, left_ts + upper]``.

    The streaming statement of the batch as-of/range join family (J5,
    ``range_join_quantity_buckets``): the reference correlates events
    across 15-minute batch slots by key (SURVEY.md §3.1); with two live
    streams that correlation is Spark's watermarked interval join.
    Both sides carry a watermark and the time-range condition is what
    BOUNDS the join state — each side's buffered rows are evicted once
    the other side's watermark passes ``ts + upper``; without the range
    bound Spark would have to buffer both streams forever. Column names
    besides ``key`` must be disjoint across the two inputs.

    ``how="left_outer"`` emits unmatched left rows with NULL right
    columns *once the watermark proves no match can still arrive* —
    the streaming statement of J2's left-join-plus-defaults. Outer
    results are therefore watermark-delayed by construction; an
    ``availableNow`` replay emits them in its final micro-batch.
    """
    # the key handling below (drop the RIGHT side's key) and the outer-
    # emission contract documented above are only correct for these two
    # modes; right/full outer would silently drop the populated right
    # key and keep NULL left keys
    allowed = {"inner", "left_outer", "leftOuter", "left outer"}
    if how not in allowed:
        raise ValueError(
            f"interval_join_streams supports how in {sorted(allowed)}, got {how!r}"
        )
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {upper}"))
    )
    return lw.join(rw, cond, how).drop(rw[key])
