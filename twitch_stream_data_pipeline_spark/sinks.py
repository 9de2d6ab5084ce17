"""Sinks (SURVEY.md §2.2 K1-K5).

The engine-native storage layer is parquet partitioned by
``day_date_id`` — the Spark restatement of the reference's
``{dataset}/{day}/{slot}`` path scheme (``scripts/process_raw_data/
process_raw_streams_data.py:123-125``), which is what makes partition
pruning work: a dashboard query filtered to one day touches one
directory. CSV remains available for byte-compatible exports, JDBC for
the Postgres warehouse load (K3).
"""

from __future__ import annotations

import threading
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Serializes the partition-type-inference conf toggle in
# read_partitioned_verbatim (see its docstring).
_VERBATIM_READ_LOCK = threading.Lock()


def write_json_envelope(
    df: DataFrame,
    path: str,
    day_date_id: str,
    time_of_day_id: str,
    mode: str = "overwrite",
) -> None:
    """Raw-layer JSON envelope write (K1).

    Emits the reference's envelope shape — one JSON document
    ``{"day_date_id": d, "time_of_day_id": t, "data": [record, ...]}``
    per call (``scripts/get_raw_data/get_raw_streams_data.py:113-117,
    130-139`` builds and ``json.dump``s exactly this, one file per
    ingest shard). ``read_envelope_records`` reads it back verbatim.

    Contract mirrors the reference's: one call = one 15-minute-batch
    shard (a few thousand records — the ``collect_list`` envelope row
    is bounded by the shard size, never fact-scale). Multi-batch
    replays loop per slot, exactly like the per-Lambda-invocation
    writes being modeled.
    """
    rec_cols = [c for c in df.columns if c not in ("day_date_id", "time_of_day_id")]
    env = df.agg(F.collect_list(F.struct(*rec_cols)).alias("data")).select(
        F.lit(day_date_id).alias("day_date_id"),
        F.lit(time_of_day_id).alias("time_of_day_id"),
        "data",
    )
    env.coalesce(1).write.mode(mode).json(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = ("day_date_id",),
    mode: str = "append",
    max_records_per_file: int | None = None,
    partition_overwrite_mode: str | None = None,
) -> None:
    """Partitioned parquet write (K2, engine-native).

    At 100 TB: one directory per day keeps file listing bounded and
    lets Catalyst prune to the queried days; within a partition, file
    count follows task parallelism (AQE coalescing keeps files from
    fragmenting). ``max_records_per_file`` caps file size from the
    other direction — one hot day must not produce multi-GB files that
    downstream scans can't split across row groups evenly (the
    file-size governance every long-lived lake needs).

    ``partition_overwrite_mode="dynamic"`` makes an overwrite replace
    only the partitions present in ``df`` — passed as a per-WRITE
    DataFrameWriter option, never by mutating the session conf (a
    concurrent writer would inherit silently changed overwrite
    semantics).
    """
    writer = df.write.mode(mode).partitionBy(*partition_cols)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_overwrite_mode is not None:
        writer = writer.option("partitionOverwriteMode", partition_overwrite_mode)
    writer.parquet(path)


def read_partitioned(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Read the partitioned layer; ``merge_schema=True`` handles schema
    evolution (a column added partway through the table's life): the
    unified schema is the union across all partitions' footers, and
    partitions written before the column existed surface it as NULL.

    Off by default — schema merging reads every file's footer at
    planning time, which on a 100 TB table is thousands of S3 HEADs per
    query; steady-state readers should pin the current schema (or keep
    it in a catalog) and pay the merge only in the migration window.
    Partition pruning is unaffected either way (directory-level, not
    footer-level; pinned by ``tests/test_sinks.py``).
    """
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def read_partitioned_verbatim(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned layer with partition-column type inference
    DISABLED, so directory values round-trip verbatim as strings.

    Inference turns ``slot=0015`` into the int 15; a maintenance job
    that reads-then-rewrites (compaction, incremental catch-up) would
    then write the rows back to a NEW ``slot=15`` directory — silently
    duplicating the table and desyncing directory names between
    layers. Zero-padded slot ids (the reference's ``time_of_day_id``
    grid: '0000', '0015', ...) are exactly the breaking shape.

    The inference conf has no per-read option, so it is toggled around
    relation resolution only — partition schema is resolved eagerly
    inside ``spark.read.parquet``, and the conf is restored before
    returning. The toggle window is serialized by a module-level lock:
    without it, a query planned concurrently on the same session
    (another thread, or two maintenance jobs racing the restore) would
    silently inherit disabled inference — the same cross-writer hazard
    that made write_partitioned take partitionOverwriteMode as a
    per-write option instead of session conf. The lock covers every
    caller *of this function*; genuinely unrelated concurrent planning
    still observes the brief toggle, which is why this stays the only
    conf-mutating read in the repo and exists solely for maintenance
    jobs that must round-trip directory names verbatim.
    """
    conf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    with _VERBATIM_READ_LOCK:
        prev = spark.conf.get(conf_key)
        try:
            spark.conf.set(conf_key, "false")
            return spark.read.parquet(path)
        finally:
            spark.conf.set(conf_key, prev)


def write_csv_compat(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Byte-compatible CSV export (K2 as the reference writes it:
    header, no index, RFC-4180 doubled-quote escaping like pandas
    ``to_csv``).
    """
    (
        df.coalesce(1)
        .write.mode(mode)
        .option("header", "true")
        .option("escape", '"')
        .csv(path)
    )


def warehouse_route(file_key: str) -> tuple[str, str, str]:
    """Warehouse-load routing (K3 contract): derive the target table and
    batch identity from a curated-layer object key.

    Mirrors ``src/other/insert_data_to_db.py:42-49``: the key
    ``curated_{table}_data/{day_date_id}/..._{slot}.csv`` routes to
    Postgres table ``{table}``, with the batch's ``day_date_id`` as the
    second path segment and ``time_of_day_id`` as the 4 digits before
    the file extension. Returns ``(table_name, day_date_id,
    time_of_day_id)``.
    """
    parts = file_key.split("/")
    day_date_id = parts[1]
    time_of_day_id = parts[2][-8:-4]
    table_name = file_key.split("curated_")[1].split("_data")[0]
    return table_name, day_date_id, time_of_day_id


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
) -> None:
    """Warehouse bulk load (K3): the reference's S3 -> Postgres COPY
    (``src/other/insert_data_to_db.py:19-96``) becomes a straight
    ``df.write.jdbc``. Each task opens one connection and writes its
    partition, so the load parallelism is the DataFrame's partition
    count — repartition to the warehouse's ingest headroom first.

    Executed end-to-end in tests against Apache Derby's embedded
    driver (pure-Java, ships inside Spark's own jars directory), the
    same code path a Postgres url + driver property takes on a real
    cluster (``tests/test_sinks.py::test_write_jdbc_roundtrip_derby``).
    """
    df.write.jdbc(url=url, table=table, mode=mode, properties=properties or {})


def write_training_shards(
    df: DataFrame,
    path: str,
    num_shards: int,
    key_col: str = "doc_id",
    sort_cols: Sequence[str] = (),
    mode: str = "overwrite",
) -> DataFrame:
    """Deterministic sharded export — the terminal write of a training-
    data pipeline: the curated corpus as ``num_shards`` parquet shards
    a data loader can stream round-robin.

    Shard assignment is md5-derived from ``key_col`` (engine-portable,
    like every hash in this repo), so it is reproducible across reruns,
    cluster sizes, partitionings, and row orders — re-exporting after
    an upstream fix moves only the documents that changed, never the
    shard membership. One ``repartition(num_shards, shard)`` routes
    every row of a shard to one task (same value => same hash => same
    task), so each ``shard=N`` directory holds exactly one file;
    ``sort_cols`` orders rows *within* the shard file
    (``sortWithinPartitions`` — no global sort) for reproducible
    loader iteration.

    Returns the manifest (``shard, n_rows``) read back from the
    written output — parquet row counts come from footer metadata, so
    at 100 TB the manifest job reads no data pages.

    NULL keys hash via the empty string (all land in one deterministic
    shard rather than a surprise ``shard=__HIVE_DEFAULT_PARTITION__``
    directory a 0..N-1 loader would silently skip); curated corpora
    should not have NULL ids in the first place — dedup/validity tiers
    run earlier. A pre-existing ``shard`` column is an error, not a
    silent overwrite.

    ``mode="append"`` is rejected: the manifest is read back from the
    written path, so appending would count pre-existing rows from
    earlier exports, and the one-file-per-shard invariant only holds
    for a fresh write. Re-exports are full overwrites by design — the
    md5 shard assignment already guarantees membership stability
    across them.
    """
    if mode == "append":
        raise ValueError(
            "write_training_shards is a full-snapshot export: append "
            "would break the manifest (it reads back the whole path) "
            "and the one-file-per-shard invariant; use mode='overwrite'"
        )
    if "shard" in df.columns:
        raise ValueError(
            "input already has a 'shard' column; rename it before export"
        )
    shard = (
        F.conv(
            F.substring(
                F.md5(F.coalesce(F.col(key_col).cast("string"), F.lit(""))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        % num_shards
    ).alias("shard")
    out = df.select("*", shard).repartition(num_shards, F.col("shard"))
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode(mode).partitionBy("shard").parquet(path)
    spark = df.sparkSession
    return (
        spark.read.parquet(path)
        .groupBy("shard")
        .agg(F.count("*").alias("n_rows"))
    )


def zorder_key(
    cols: Sequence[str],
    mins: Sequence[int],
    maxs: Sequence[int],
    bits: int = 16,
) -> "Column":
    """Morton (Z-order) interleave key over integer columns.

    Each column is normalized to ``[0, 2^bits)`` against its
    ``[min, max]`` range, then the bits of all columns are interleaved
    so rows close in EVERY dimension get close keys. Built as one
    ``F.expr`` string (2 x bits x n_cols terms — the Column-tree form
    would be thousands of py4j round trips, see BENCHNOTES round 4).

    The normalization runs in DOUBLE, not BIGINT: ``(c - lo) * 65535``
    overflows int64 for column spans above ~1.4e14 (an epoch-micros
    column spanning ~4.5 years is enough), which under Spark 4's
    default ANSI mode aborts the write with ARITHMETIC_OVERFLOW — and
    with ANSI off would silently wrap and scramble the clustering.
    Doubles keep 53 bits of mantissa, far beyond the 2^bits bucket
    granularity that survives the cast, and the result is clamped to
    ``[0, 2^bits)`` so out-of-range values (e.g. when the caller
    passes *sampled* mins/maxs) cluster into the edge buckets instead
    of corrupting the interleave.
    """
    terms = []
    n = len(cols)
    m = (1 << bits) - 1
    for ci, (c, lo, hi) in enumerate(zip(cols, mins, maxs)):
        span = max(int(hi) - int(lo), 1)
        # scale to [0, 2^bits) in double precision, clamped
        scaled = (
            f"CAST(LEAST(CAST({m} AS DOUBLE), GREATEST(CAST(0 AS DOUBLE), "
            f"(CAST({c} AS DOUBLE) - CAST({int(lo)} AS DOUBLE)) "
            f"* CAST({m} AS DOUBLE) / CAST({span} AS DOUBLE))) AS BIGINT)"
        )
        for b in range(bits):
            # fully parenthesized: SQL `+` binds TIGHTER than `<<`, so
            # `a << 1 + b << 2` parses as `a << (1 + b) << 2`
            terms.append(
                f"((shiftright({scaled}, {b}) & 1L) << {b * n + ci})"
            )
    return F.expr("(" + " + ".join(terms) + ")")


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    bits: int = 16,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
    sample_fraction: float | None = None,
    num_files: int | None = None,
) -> None:
    """Z-order-clustered parquet write — multi-dimensional data
    skipping for the lake layer (the OPTIMIZE ZORDER analog, in plain
    Spark).

    A single-column sort gives perfect parquet min/max pruning on that
    column and none on any other; range-partitioning by the Morton
    interleave of several columns gives every file/row-group a NARROW
    min/max envelope on ALL of them, so a predicate on any z-ordered
    column skips most row groups at scan time (footer stats — free at
    read). The ranges are computed in one aggregate pass, the key is
    clamped double-normalized bit arithmetic, and ``repartitionByRange``
    on the key does the clustering with one range shuffle — no UDF, no
    driver loop. Within each range partition rows are sorted by the key
    so row-group envelopes inside big files stay tight too.

    ``sample_fraction`` computes the min/max ranges on a sample instead
    of a full extra scan — at 100 TB the exact-range pass costs a whole
    table read before the write even starts, while a 0.1% sample pins
    the envelope to within noise of the true range; values outside the
    sampled range clamp into the edge buckets (zorder_key guarantees
    this), so clustering quality degrades gracefully, never corrupts.
    ``num_files`` targets that many range partitions (≈ output files),
    decoupling file count from ``spark.sql.shuffle.partitions``.
    """
    src = df.sample(sample_fraction) if sample_fraction is not None else df
    row = src.agg(
        *[F.min(c).cast("long").alias(f"lo_{c}") for c in zorder_cols],
        *[F.max(c).cast("long").alias(f"hi_{c}") for c in zorder_cols],
    ).first()
    mins = [row[f"lo_{c}"] for c in zorder_cols]
    maxs = [row[f"hi_{c}"] for c in zorder_cols]
    if any(v is None for v in mins + maxs):
        # empty table or empty sample: no meaningful ranges — fall back
        # to zeros so the write still succeeds (all keys clamp equal)
        mins = [0 if v is None else v for v in mins]
        maxs = [0 if v is None else v for v in maxs]
    key = zorder_key(zorder_cols, mins, maxs, bits).alias("__zkey")
    parts = [num_files] if num_files is not None else []
    out = (
        df.select("*", key)
        .repartitionByRange(*parts, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    writer = out.write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed + sorted managed table (the co-located-join layout).

    Pre-hashing a fact table into ``num_buckets`` files per the join/agg
    key is the storage-level answer to repeated shuffles: two tables
    bucketed by the same key with the same bucket count sort-merge-join
    with **no Exchange on either side**, and aggregations on the bucket
    key skip their shuffle too. At 100 TB this turns the nightly
    fact-x-fact join from the dominant shuffle into a local merge —
    the same economics the reference gets from its path-keyed layout,
    applied to keys instead of dates. Bucket count should be sized so
    one bucket of the largest table fits an executor's memory
    (``tests/test_plans.py`` pins the no-shuffle plan shape).
    """
    writer = (
        df.write.mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


class JdbcBatchLoader:
    """foreachBatch sink: append every streaming micro-batch to a
    warehouse table over JDBC — the Structured Streaming statement of
    the reference's per-15-minute S3 -> Postgres load
    (``src/other/insert_data_to_db.py:19-96``, fired per curated
    upload).

    Each micro-batch appends exactly the batch's rows; idempotence
    across failure retries comes from carrying the batch identity
    (``day_date_id, time_of_day_id``) in the rows, so a replayed epoch
    can be reconciled with a keyed DELETE/MERGE warehouse-side (the
    reference relies on the same composite key, ``twitch_stream_db_
    schema.sql:62-72``). Tested live against Spark's bundled Derby
    embedded driver; on a cluster the url/driver swap to Postgres with
    no code change.
    """

    def __init__(
        self,
        url: str,
        table: str,
        properties: dict[str, str] | None = None,
    ) -> None:
        self.url = url
        self.table = table
        self.properties = properties or {}

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        write_jdbc(
            batch, self.url, self.table, mode="append", properties=self.properties
        )


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str = "day_date_id",
    max_records_per_file: int | None = None,
    partitions: Sequence[str] | None = None,
) -> None:
    """Small-file compaction for a partitioned parquet layer — the lake
    maintenance job every 15-minute-cadence pipeline eventually needs:
    96 slot-writes per day fragment each day directory into ~96 small
    files, and file-open overhead starts dominating scans.

    Rewrites with one shuffle keyed on the partition column, so every
    partition's rows land in a single task and therefore a single
    output file (bounded above by ``max_records_per_file`` when set),
    using dynamic partition overwrite so each rewritten partition's
    directory is replaced atomically rather than the whole table being
    dropped first.

    ``partitions`` scopes the job to the named partition values —
    at 100 TB only the recently-written (fragmented) days need
    compacting, and rewriting the whole table for yesterday's 96 slot
    files would be absurd. The value filter becomes a *partition*
    filter on the scan (pruning — only those directories are read),
    and dynamic overwrite guarantees only the partitions present in
    the rewritten frame are replaced: every other partition's files
    are untouched bytes. ``None`` keeps the full-table rewrite for
    initial migrations / small layers.

    Reads via :func:`read_partitioned_verbatim` so directory values
    round-trip exactly (type inference would rewrite ``slot=0015`` to
    ``slot=15``, duplicating the partition instead of compacting it);
    the dynamic overwrite is a per-write option, never session state.
    """
    df = read_partitioned_verbatim(spark, path)
    if partitions is not None:
        df = df.filter(F.col(partition_col).isin([str(p) for p in partitions]))
    write_partitioned(
        df.repartition(F.col(partition_col)),
        path,
        [partition_col],
        mode="overwrite",
        max_records_per_file=max_records_per_file,
        partition_overwrite_mode="dynamic",
    )
