"""Sink-layer tests: K1 envelope round-trip, K3 routing + arg shape,
S4/K2 CSV reference semantics (SURVEY.md §2.2)."""

from __future__ import annotations

import shutil
from unittest import mock

import pytest
from pyspark.sql import functions as F

from twitch_stream_data_pipeline_spark import schemas
from twitch_stream_data_pipeline_spark.sinks import (
    warehouse_route,
    write_csv_compat,
    write_jdbc,
    write_json_envelope,
)
from twitch_stream_data_pipeline_spark.sources import (
    read_csv_reference,
    read_envelope_records,
)

SCRATCH = "/root/repo/.scratch"


def test_json_envelope_roundtrip_with_reference_batch(spark, tmp_path):
    """K1: write a batch through write_json_envelope, read it back with
    read_envelope_records — identical record multiset and batch ids
    (raw-layer envelope shape, get_raw_streams_data.py:113-117,130-139)."""
    src = read_envelope_records(
        spark,
        "/root/reference/data/twitch_project_raw_layer/raw_categories_data/20260111/raw_categories_data_20260111_1645.json",
        schemas.RAW_CATEGORIES_ENVELOPE,
    )
    rec_cols = [
        c
        for c in src.columns
        if c not in ("day_date_id", "time_of_day_id", "source_file", "record_pos")
    ]
    out = str(tmp_path / "k1_roundtrip")
    write_json_envelope(src.select(*rec_cols), out, "20260111", "1645")
    back = read_envelope_records(spark, f"{out}/*.json", schemas.RAW_CATEGORIES_ENVELOPE)
    orig = sorted(tuple(r) for r in src.select(*rec_cols).collect())
    got = sorted(tuple(r) for r in back.select(*rec_cols).collect())
    assert got == orig
    ids = back.select("day_date_id", "time_of_day_id").distinct().collect()
    assert [tuple(r) for r in ids] == [("20260111", "1645")]


def test_warehouse_route_parses_reference_keys():
    """K3 routing contract (insert_data_to_db.py:42-49)."""
    key = "curated_streams_data/20260111/curated_stream_data_20260111_1715.csv"
    assert warehouse_route(key) == ("streams", "20260111", "1715")
    key = "curated_genre_bridge_data/20260111/curated_genre_bridge_data_20260111_1645.csv"
    assert warehouse_route(key) == ("genre_bridge", "20260111", "1645")
    key = "curated_users_data/20260111/curated_users_data_20260111_1715.csv"
    assert warehouse_route(key) == ("users", "20260111", "1715")


def test_write_jdbc_arg_shape(spark):
    """K3: no JDBC jar in this env, so assert the passthrough wires the
    DataFrameWriter args exactly (url/table/mode/properties)."""
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    with mock.patch.object(type(df.write), "jdbc") as jdbc:
        write_jdbc(
            df,
            "jdbc:postgresql://host:5432/db",
            "streams",
            mode="append",
            properties={"user": "u"},
        )
    jdbc.assert_called_once_with(
        url="jdbc:postgresql://host:5432/db",
        table="streams",
        mode="append",
        properties={"user": "u"},
    )


def test_write_jdbc_roundtrip_derby(spark, tmp_path):
    """K3 executed live: Spark's bundled Apache Derby embedded driver
    (pure Java, already on the classpath) stands in for Postgres — the
    identical ``df.write.jdbc`` / ``spark.read.jdbc`` code path, real
    connections, real SQL DDL+INSERT. Routing comes from the reference
    key contract (``insert_data_to_db.py:42-49``)."""
    key = "curated_streams_data/20260111/curated_streams_data_20260111_1715.csv"
    table, day_date_id, time_of_day_id = warehouse_route(key)
    df = spark.createDataFrame(
        [
            ("s1", day_date_id, time_of_day_id, "u1", "c1", "en", 120, 30.0),
            ("s2", day_date_id, time_of_day_id, "u2", "c2", "de", 45, 11.25),
        ],
        "stream_id string, day_date_id string, time_of_day_id string, "
        "user_id string, category_id string, language_id string, "
        "viewer_count int, hours_watched double",
    )
    url = f"jdbc:derby:{tmp_path}/warehouse_db;create=true"
    props = {
        "driver": "org.apache.derby.jdbc.EmbeddedDriver",
        # Derby maps StringType to CLOB by default, which cannot be
        # compared in pushed-down filters; pin VARCHAR DDL exactly as a
        # Postgres deployment would (schema.sql uses varchar columns)
        "createTableColumnTypes": (
            "stream_id VARCHAR(64), day_date_id VARCHAR(8), "
            "time_of_day_id VARCHAR(4), user_id VARCHAR(64), "
            "category_id VARCHAR(64), language_id VARCHAR(16)"
        ),
    }
    write_jdbc(df, url, table, mode="overwrite", properties=props)
    # append path too (the reference loads one batch per 15-min key)
    write_jdbc(df.filter(F.col("stream_id") == "s1"), url, table, properties=props)
    back = spark.read.jdbc(url=url, table=table, properties=props)
    assert back.count() == 3
    got = sorted(tuple(r) for r in back.filter(F.col("stream_id") == "s2").collect())
    assert got == [("s2", "20260111", "1715", "u2", "c2", "de", 45, 11.25)]


def test_csv_reference_semantics(spark, tmp_path):
    """S4: keep_default_na=False — 'NA' and '' are data, never NULL;
    zero-padded ids survive as strings."""
    p = tmp_path / "in"
    p.mkdir()
    (p / "a.csv").write_text(
        'category_id,igdb_id,time_of_day_id\n10,NA,0015\n11,,1715\n'
    )
    df = read_csv_reference(spark, str(p))
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [("10", "NA", "0015"), ("11", "", "1715")]
    # round-trip through the engine CSV writer preserves all of it
    out = str(tmp_path / "out")
    write_csv_compat(df, out)
    back = sorted(tuple(r) for r in read_csv_reference(spark, out).collect())
    assert back == rows


def test_kafka_options_shape():
    """No Kafka jar in this env: pin the source option set (the backfill
    throttle twin of maxFilesPerTrigger included/excluded correctly)."""
    from twitch_stream_data_pipeline_spark.sources.kafka import kafka_options

    opts = kafka_options("b1:9092,b2:9092", "raw_streams", "earliest")
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "raw_streams",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "100000",
    }
    assert "maxOffsetsPerTrigger" not in kafka_options(
        "b:9092", "t", max_offsets_per_trigger=None
    )


def test_parse_kafka_envelope_on_static_records(spark):
    """The envelope parse is a pure transform — verified on a static
    frame shaped like Kafka's (key/value binary, partition, offset,
    timestamp)."""
    from twitch_stream_data_pipeline_spark.sources.kafka import (
        parse_kafka_envelope,
    )

    raw = spark.createDataFrame(
        [
            (b"k1", b'{"id": "7", "viewer_count": 42}', 0, 100, "2026-01-11 17:15:00"),
            (b"k2", b'{"id": "8", "viewer_count": 7}', 1, 5, "2026-01-11 17:15:01"),
        ],
        "key binary, value binary, partition int, offset long, ts_str string",
    ).select("key", "value", "partition", "offset", F.to_timestamp("ts_str").alias("timestamp"))
    out = parse_kafka_envelope(raw, "id string, viewer_count long").collect()
    got = {(r["id"], r["viewer_count"], r["kafka_key"], r["kafka_partition"], r["kafka_offset"]) for r in out}
    assert got == {("7", 42, "k1", 0, 100), ("8", 7, "k2", 1, 5)}


def test_dynamic_partition_overwrite_replaces_one_day(spark, tmp_path):
    """K5 at warehouse scale: re-running one 15-minute batch must
    replace ONLY its day partition, leaving every other day's files
    untouched — Spark's dynamic partitionOverwriteMode, the safe
    restatement of the reference's overwrite-in-place layer writes."""
    out = str(tmp_path / "curated")
    ddl = "stream_id string, day_date_id string, v int"
    d1 = [("a", "20260111", 1), ("b", "20260111", 2)]
    d2 = [("c", "20260112", 3)]
    spark.createDataFrame(d1 + d2, ddl).write.partitionBy("day_date_id").parquet(out)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # replay day 1 with corrected values; day 2 must survive
        spark.createDataFrame(
            [("a", "20260111", 10)], ddl
        ).write.mode("overwrite").partitionBy("day_date_id").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # partition-dir values come back type-inferred (int); compare as str
    got = sorted(
        (r["stream_id"], str(r["day_date_id"]), r["v"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [("a", "20260111", 10), ("c", "20260112", 3)]


def test_schema_evolution_mergeschema_read(spark, tmp_path):
    """Source-side schema evolution: later batches may add columns
    (the reference's API payloads did exactly this across Twitch API
    versions); a mergeSchema read must union the schemas with NULLs
    for the old files, and an explicit schema read must stay stable."""
    out = tmp_path / "layer"
    spark.createDataFrame(
        [("s1", 5)], "stream_id string, viewer_count int"
    ).write.parquet(str(out / "day=1"))
    spark.createDataFrame(
        [("s2", 7, "en")], "stream_id string, viewer_count int, language_id string"
    ).write.parquet(str(out / "day=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(str(out))
    assert set(merged.columns) == {"stream_id", "viewer_count", "language_id", "day"}
    rows = {r["stream_id"]: r["language_id"] for r in merged.collect()}
    assert rows == {"s1": None, "s2": "en"}
    # pinned-schema read: new columns invisible, old files readable
    pinned = spark.read.schema("stream_id string, viewer_count int").parquet(
        str(out / "day=1"), str(out / "day=2")
    )
    assert sorted(tuple(r) for r in pinned.collect()) == [("s1", 5), ("s2", 7)]


def test_compact_partitions_one_file_per_day(spark, tmp_path):
    """Lake maintenance: 2 days x 8 slot-writes fragment the layer into
    8 files per day; compaction must leave ONE parquet file per day
    with the data multiset unchanged."""
    import glob

    from twitch_stream_data_pipeline_spark.sinks import (
        compact_partitions,
        write_partitioned,
    )

    out = str(tmp_path / "layer")
    ddl = "event_id long, day_date_id string, v double"
    rows = []
    for day in ("20260111", "20260112"):
        for slot in range(8):
            batch = [(slot * 100 + i, day, float(i)) for i in range(5)]
            rows += batch
            write_partitioned(
                spark.createDataFrame(batch, ddl).coalesce(1), out, ["day_date_id"]
            )
    for day in ("20260111", "20260112"):
        assert len(glob.glob(f"{out}/day_date_id={day}/*.parquet")) == 8
    before = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    compact_partitions(spark, out, "day_date_id")
    for day in ("20260111", "20260112"):
        assert len(glob.glob(f"{out}/day_date_id={day}/*.parquet")) == 1, day
    after = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert after == before


def test_compact_partitions_scoped_leaves_others_untouched(spark, tmp_path):
    """Partition-scoped compaction (VERDICT r3 #6): compacting only the
    fragmented recent day must (a) leave the other partition's files
    byte-for-byte untouched — same paths, sizes, and mtimes — and
    (b) prune the scan to the named partition, not read the table."""
    import glob
    import os

    from pyspark.sql import functions as F

    from twitch_stream_data_pipeline_spark.sinks import (
        compact_partitions,
        write_partitioned,
    )

    out = str(tmp_path / "layer")
    ddl = "event_id long, day_date_id string, v double"
    for day in ("20260111", "20260112"):
        for slot in range(4):
            batch = [(slot * 100 + i, day, float(i)) for i in range(5)]
            write_partitioned(
                spark.createDataFrame(batch, ddl).coalesce(1), out, ["day_date_id"]
            )

    def snapshot(day):
        return {
            p: (os.path.getsize(p), os.path.getmtime(p))
            for p in sorted(glob.glob(f"{out}/day_date_id={day}/*.parquet"))
        }

    untouched_before = snapshot("20260111")
    before = sorted(tuple(r) for r in spark.read.parquet(out).collect())

    # the scoped read must partition-prune to the one compacted day
    scoped = spark.read.parquet(out).filter(
        F.col("day_date_id").isin(["20260112"])
    )
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day_date_id" in plan, plan

    compact_partitions(spark, out, "day_date_id", partitions=["20260112"])

    assert snapshot("20260111") == untouched_before
    assert len(glob.glob(f"{out}/day_date_id=20260112/*.parquet")) == 1
    assert len(glob.glob(f"{out}/day_date_id=20260111/*.parquet")) == 4
    after = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert after == before


def test_read_partitioned_merge_schema_evolution(spark, tmp_path):
    """Schema evolution on the lake layer: a column added partway
    through the table's life. merge_schema=True unifies the schema and
    surfaces the column as NULL for pre-evolution partitions; the
    default read keeps working; partition pruning is unaffected."""
    from twitch_stream_data_pipeline_spark.sinks import (
        read_partitioned,
        write_partitioned,
    )

    out = str(tmp_path / "layer")
    old = spark.createDataFrame(
        [(1, "20260111", 1.0)], "event_id long, day_date_id string, v double"
    )
    new = spark.createDataFrame(
        [(2, "20260112", 2.0, "en")],
        "event_id long, day_date_id string, v double, lang string",
    )
    write_partitioned(old, out, ["day_date_id"])
    write_partitioned(new, out, ["day_date_id"])

    merged = read_partitioned(spark, out, merge_schema=True)
    assert "lang" in merged.columns
    rows = {r["event_id"]: r["lang"] for r in merged.collect()}
    assert rows == {1: None, 2: "en"}

    pruned = merged.filter(F.col("day_date_id") == "20260112")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day_date_id" in plan, plan
    assert pruned.count() == 1


def test_write_training_shards_deterministic_and_complete(spark, tmp_path):
    """Sharded training export: shards are disjoint+complete, one file
    per shard directory, membership is identical across re-exports
    (md5-keyed, not partitioning-dependent), rows are sorted within
    each shard file, and the manifest counts match."""
    import glob

    from twitch_stream_data_pipeline_spark.sinks import write_training_shards

    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7 % 13).alias("score")
    )
    out1, out2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    m1 = write_training_shards(docs, out1, 4, sort_cols=["doc_id"])
    # different input partitioning must not change shard membership
    write_training_shards(docs.repartition(7), out2, 4, sort_cols=["doc_id"])

    for shard in range(4):
        files = glob.glob(f"{out1}/shard={shard}/*.parquet")
        assert len(files) == 1, (shard, files)

    r1 = spark.read.parquet(out1)
    r2 = spark.read.parquet(out2)
    assert r1.count() == 200
    a = sorted((r["doc_id"], r["shard"]) for r in r1.collect())
    b = sorted((r["doc_id"], r["shard"]) for r in r2.collect())
    assert a == b
    assert {r["doc_id"] for r in r1.collect()} == set(range(200))

    # within-shard file order is the sort key order
    import pyarrow.parquet as pq

    f = glob.glob(f"{out1}/shard=0/*.parquet")[0]
    ids = pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist()
    assert ids == sorted(ids)

    manifest = {r["shard"]: r["n_rows"] for r in m1.collect()}
    assert sum(manifest.values()) == 200
    per_shard = {r["shard"]: 0 for r in r1.collect()}
    for r in r1.collect():
        per_shard[r["shard"]] += 1
    assert manifest == per_shard


def test_run_incremental_processes_only_new_partitions(spark, tmp_path):
    """Incremental catch-up (the reference's event-driven 'process what
    just landed', restated as partition diffing): only source
    partitions missing downstream are read and written; processed
    partitions stay byte-identical; a rerun with nothing new is a
    no-op; a named-partition backfill reprocesses exactly that day."""
    import glob
    import os

    from twitch_stream_data_pipeline_spark.pipeline import (
        run_incremental,
        unprocessed_partitions,
    )
    from twitch_stream_data_pipeline_spark.sinks import write_partitioned

    raw = str(tmp_path / "raw")
    curated = str(tmp_path / "curated")
    ddl = "event_id long, day_date_id string, value double"

    def transform(df):
        return df.withColumn("doubled", F.col("value") * 2)

    def snapshot(day):
        return {
            p: (os.path.getsize(p), os.path.getmtime(p))
            for p in sorted(glob.glob(f"{curated}/day_date_id={day}/*.parquet"))
        }

    write_partitioned(
        spark.createDataFrame(
            [(1, "20260111", 1.0), (2, "20260112", 2.0)], ddl
        ),
        raw,
        ["day_date_id"],
    )
    assert run_incremental(spark, raw, curated, transform) == [
        "20260111",
        "20260112",
    ]
    day1_before = snapshot("20260111")

    # new day lands upstream -> only it is processed
    write_partitioned(
        spark.createDataFrame([(3, "20260113", 3.0)], ddl), raw, ["day_date_id"]
    )
    assert unprocessed_partitions(spark, raw, curated) == ["20260113"]
    assert run_incremental(spark, raw, curated, transform) == ["20260113"]
    assert snapshot("20260111") == day1_before

    # in sync -> no-op
    assert run_incremental(spark, raw, curated, transform) == []

    # note: partition-value type inference reads day_date_id back as
    # int — normalize to str for the comparison
    rows = {
        r["event_id"]: (str(r["day_date_id"]), r["doubled"])
        for r in spark.read.parquet(curated).collect()
    }
    assert rows == {
        1: ("20260111", 2.0),
        2: ("20260112", 4.0),
        3: ("20260113", 6.0),
    }

    # targeted backfill replaces exactly the named day
    assert run_incremental(
        spark, raw, curated, transform, partitions=["20260112"]
    ) == ["20260112"]
    assert snapshot("20260111") == day1_before
    assert spark.read.parquet(curated).count() == 3


def test_compact_and_incremental_roundtrip_zero_padded_partitions(spark, tmp_path):
    """Partition values that don't survive type inference (zero-padded
    slot ids — the reference's time_of_day_id grid: '0015') must
    round-trip through compaction and incremental catch-up verbatim:
    no duplicate slot=15 directory, no never-draining work list."""
    import glob
    import os

    from twitch_stream_data_pipeline_spark.pipeline import (
        run_incremental,
        unprocessed_partitions,
    )
    from twitch_stream_data_pipeline_spark.sinks import (
        compact_partitions,
        write_partitioned,
    )

    ddl = "event_id long, slot string, v double"

    # compaction: scoped rewrite of slot=0015 must land back in 0015
    layer = str(tmp_path / "layer")
    for i in range(3):
        write_partitioned(
            spark.createDataFrame([(i, "0015", 1.0), (i + 10, "0100", 2.0)], ddl)
            .coalesce(1),
            layer,
            ["slot"],
        )
    compact_partitions(spark, layer, "slot", partitions=["0015"])
    dirs = sorted(os.path.basename(p) for p in glob.glob(f"{layer}/slot=*"))
    assert dirs == ["slot=0015", "slot=0100"], dirs
    assert len(glob.glob(f"{layer}/slot=0015/*.parquet")) == 1
    assert spark.read.parquet(layer).count() == 6

    # incremental: the work list must drain (no slot=15 desync)
    raw, cur = str(tmp_path / "raw"), str(tmp_path / "cur")
    write_partitioned(
        spark.createDataFrame([(1, "0015", 1.0)], ddl), raw, ["slot"]
    )
    assert run_incremental(
        spark, raw, cur, lambda df: df, partition_col="slot"
    ) == ["0015"]
    assert sorted(
        os.path.basename(p) for p in glob.glob(f"{cur}/slot=*")
    ) == ["slot=0015"]
    assert unprocessed_partitions(spark, raw, cur, "slot") == []
    assert run_incremental(spark, raw, cur, lambda df: df, partition_col="slot") == []


def test_training_shards_rejects_shard_column_and_handles_null_keys(spark, tmp_path):
    import pytest as _pytest

    from twitch_stream_data_pipeline_spark.sinks import write_training_shards

    with _pytest.raises(ValueError, match="'shard' column"):
        write_training_shards(
            spark.createDataFrame([(1, 0)], "doc_id long, shard int"),
            str(tmp_path / "x"),
            2,
        )

    docs = spark.createDataFrame(
        [(1,), (2,), (None,)], "doc_id long"
    )
    out = str(tmp_path / "n")
    manifest = write_training_shards(docs, out, 2)
    # NULL key lands in a real 0..N-1 shard, never a default partition
    shards = {r["shard"] for r in manifest.collect()}
    assert shards <= {0, 1}
    assert sum(r["n_rows"] for r in manifest.collect()) == 3


def test_write_zordered_tightens_file_envelopes_on_both_dims(spark, tmp_path):
    """Z-order clustering: with files split by maxRecordsPerFile, every
    file's parquet min/max envelope must be narrow on BOTH z-ordered
    columns (multi-dimensional data skipping), where a plain
    single-column sort leaves the other column's envelope at full
    span. Row multiset must be unchanged."""
    import glob

    import pyarrow.parquet as pq

    from twitch_stream_data_pipeline_spark.sinks import write_zordered

    n = 20_000
    df = spark.range(n).selectExpr(
        "id",
        "CAST(pmod(hash(id), 1000) AS BIGINT) AS user_id",
        "CAST(id * 7 AS BIGINT) AS secs",
    )

    def envelopes(path, col):
        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for i in range(g.num_columns):
                    c = g.column(i)
                    if c.path_in_schema == col:
                        st = c.statistics
                        spans.append(st.max - st.min)
        return spans

    zpath = str(tmp_path / "z")
    write_zordered(df, zpath, ["user_id", "secs"], max_records_per_file=2000)
    assert len(glob.glob(f"{zpath}/*.parquet")) >= 5

    # multiset unchanged
    back = spark.read.parquet(zpath)
    assert back.count() == n
    assert back.selectExpr("sum(user_id)", "sum(secs)").first() == df.selectExpr(
        "sum(user_id)", "sum(secs)"
    ).first()

    # baseline: sort by secs only — user_id envelope is ~full span
    spath = str(tmp_path / "s")
    df.repartitionByRange(F.col("secs")).sortWithinPartitions("secs").write.option(
        "maxRecordsPerFile", "2000"
    ).parquet(spath)

    user_span = 999
    z_user = envelopes(zpath, "user_id")
    s_user = envelopes(spath, "user_id")
    avg = lambda xs: sum(xs) / len(xs)
    # plain secs-sort leaves user_id unclustered (envelope ~ full span)
    assert avg(s_user) > 0.9 * user_span, avg(s_user)
    # z-order tightens it several-fold while ALSO clustering secs
    assert avg(z_user) < 0.5 * user_span, avg(z_user)
    z_secs = envelopes(zpath, "secs")
    assert avg(z_secs) < 0.5 * (n - 1) * 7, avg(z_secs)


def test_write_zordered_wide_span_no_overflow(spark, tmp_path):
    """Epoch-microsecond-scale column spans (> ~1.4e14) overflowed the
    old BIGINT normalization `(c - lo) * 65535` — ANSI mode aborted the
    write with ARITHMETIC_OVERFLOW, non-ANSI silently scrambled the
    clustering. The double-precision clamped normalization must write
    such spans cleanly AND still cluster them."""
    import glob

    import pyarrow.parquet as pq

    from twitch_stream_data_pipeline_spark.sinks import write_zordered

    n = 8_000
    # ts_us spanning ~6 years of epoch-microseconds (span ~1.9e14)
    df = spark.range(n).selectExpr(
        "id",
        "CAST(1600000000000000 + id * 25000000000 AS BIGINT) AS ts_us",
        "CAST(pmod(hash(id), 100) AS BIGINT) AS user_id",
    )
    zpath = str(tmp_path / "wide")
    write_zordered(df, zpath, ["ts_us", "user_id"], max_records_per_file=1000)
    back = spark.read.parquet(zpath)
    assert back.count() == n
    # sum the offset (raw sum would itself overflow int64 at n=8000)
    chk = "sum(ts_us - 1600000000000000)"
    assert back.selectExpr(chk).first()[0] == df.selectExpr(chk).first()[0]
    # clustering still effective, not scrambled: per-row-group ts_us
    # envelopes average below ~full span (Morton splits the key bits
    # evenly across dims, so with few row groups each dim keeps about
    # half its range — the old wrapped-BIGINT bug left every envelope
    # AT full span)
    spans = []
    full = (n - 1) * 25_000_000_000
    for f in glob.glob(f"{zpath}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for i in range(g.num_columns):
                c = g.column(i)
                if c.path_in_schema == "ts_us":
                    st = c.statistics
                    spans.append(st.max - st.min)
    assert sum(spans) / len(spans) < 0.8 * full
    assert min(spans) < 0.55 * full


def test_write_zordered_sampled_ranges_and_file_count(spark, tmp_path):
    """sample_fraction must avoid the exact-range full scan while
    out-of-sample values clamp into edge buckets (row multiset intact),
    and num_files must control the range-partition/file count."""
    import glob

    from twitch_stream_data_pipeline_spark.sinks import write_zordered

    n = 10_000
    df = spark.range(n).selectExpr(
        "id",
        "CAST(pmod(hash(id), 500) AS BIGINT) AS a",
        "CAST(id * 3 AS BIGINT) AS b",
    )
    zpath = str(tmp_path / "zs")
    write_zordered(df, zpath, ["a", "b"], sample_fraction=0.05, num_files=4)
    files = glob.glob(f"{zpath}/*.parquet")
    assert len(files) == 4, files
    back = spark.read.parquet(zpath)
    assert back.count() == n
    assert back.selectExpr("sum(a)", "sum(b)").first() == df.selectExpr(
        "sum(a)", "sum(b)"
    ).first()


def test_training_shards_rejects_append(spark, tmp_path):
    """Append would double-count the read-back manifest and break the
    one-file-per-shard invariant — rejected loudly."""
    import pytest as _pytest

    from twitch_stream_data_pipeline_spark.sinks import write_training_shards

    with _pytest.raises(ValueError, match="full-snapshot"):
        write_training_shards(
            spark.createDataFrame([(1,)], "doc_id long"),
            str(tmp_path / "a"),
            2,
            mode="append",
        )


def test_read_partitioned_verbatim_serialized_and_restores_conf(spark, tmp_path):
    """The inference toggle must restore the conf and be serialized so
    concurrent verbatim readers never leak disabled inference to each
    other's restore path."""
    import threading as _threading

    from twitch_stream_data_pipeline_spark.sinks import (
        read_partitioned_verbatim,
        write_partitioned,
    )

    df = spark.createDataFrame(
        [(1, "0015"), (2, "0930")], "v long, slot string"
    )
    path = str(tmp_path / "p")
    write_partitioned(df, path, ["slot"], mode="overwrite")

    conf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    before = spark.conf.get(conf_key)
    results, errs = [], []

    def worker():
        try:
            got = read_partitioned_verbatim(spark, path)
            results.append(sorted(r["slot"] for r in got.select("slot").collect()))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [_threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    for r in results:
        assert r == ["0015", "0930"], r  # verbatim strings, zero-pad kept
    assert spark.conf.get(conf_key) == before


def test_index_layouts_compact_with_standard_lake_maintenance(spark, tmp_path):
    """The standing-index maintenance story: a 15-minute ingest cadence
    appends one file per band/cell directory per batch, and the SAME
    compact_partitions job that maintains the lake layers (K6)
    maintains the index layouts — partition dirs, the band = -1 id
    records included, collapse to one file each, the persisted models
    and the indexed ids are unchanged, and probe results are identical
    before and after."""
    import glob
    import os

    from pyspark.sql import functions as F

    from twitch_stream_data_pipeline_spark.extensions.dedup_text import (
        append_to_lsh_index,
        build_lsh_index,
        lsh_index_probe,
    )
    from twitch_stream_data_pipeline_spark.sinks import compact_partitions

    schema = "doc_id long, text string"
    base = spark.createDataFrame(
        [
            (i, f"document number {i} about streaming analytics topic {i % 7}")
            for i in range(100, 140)
        ],
        schema,
    )
    path = str(tmp_path / "lsh")
    build_lsh_index(base, path)
    for k in range(3):  # three micro-batch appends
        batch = spark.createDataFrame(
            [
                (1000 + 10 * k + j,
                 f"fresh batch {k} document {j} with streaming words {j % 5}")
                for j in range(5)
            ],
            schema,
        )
        append_to_lsh_index(batch, path)

    def files_per_band():
        return {
            d: len(glob.glob(os.path.join(path, d, "*.parquet")))
            for d in os.listdir(path)
            if d.startswith("band=")
        }

    before_files = files_per_band()
    assert max(before_files.values()) >= 4  # build + 3 appends fragmented
    assert before_files["band=-1"] >= 4  # id records fragment the same way

    queries = spark.createDataFrame(
        [(1, "document number 101 about streaming analytics topic 3")],
        schema,
    )
    before_probe = sorted(
        map(tuple, lsh_index_probe(spark, path, queries).collect())
    )
    def models():
        return (
            sorted(map(tuple, spark.read.parquet(f"{path}/_params").collect())),
            sorted(
                r["doc_id"]
                for r in spark.read.parquet(path).filter("band = -1").collect()
            ),
        )

    models_before = models()

    compact_partitions(spark, path, partition_col="band")

    after_files = files_per_band()
    assert set(after_files) == set(before_files)  # no partition lost
    assert max(after_files.values()) == 1, after_files
    assert after_files["band=-1"] == 1, after_files
    assert (
        sorted(map(tuple, lsh_index_probe(spark, path, queries).collect()))
        == before_probe
    )
    assert models() == models_before
    # postings themselves survived the rewrite intact
    postings = spark.read.parquet(path)
    assert postings.count() == postings.distinct().count()


def test_session_scratch_keeps_repo_root_clean(spark):
    """VERDICT r9 #9 (finishing r8 #8): the JVM's default drop zone for
    `spark-warehouse/` (spark.sql.warehouse.dir) and `derby.log`
    (derby.system.home) is the CURRENT DIRECTORY — the repo root for
    every suite/bench run. get_spark must route both into a private
    scratch dir at session creation so they never regenerate at the
    repo root. Asserted on the live session's effective config and the
    JVM system property Derby actually consults."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    wh = spark.conf.get("spark.sql.warehouse.dir")
    assert wh, "warehouse dir unset"
    assert not wh.replace("file:", "").startswith(repo), wh

    derby_home = spark._jvm.java.lang.System.getProperty(
        "derby.system.home"
    )
    assert derby_home, "derby.system.home not set on the driver JVM"
    assert not str(derby_home).startswith(repo), derby_home


