"""The benchmark's workloads, each driving the package only through its
public functions.

A workload has ``generate`` (the fixture files, written once),
``prepare`` (the package's set-up on those files; the runner repeats
it and takes the median), ``warm_up`` (cold operations that are not
samples), ``op`` (one closed-loop operation; returns its latency and
the rows it processed) and ``check`` (the independent DuckDB oracle,
run outside the timed window; returns how many operations it failed
and a message for each mismatch).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from twitch_stream_data_pipeline_spark import schemas, sinks
from twitch_stream_data_pipeline_spark.pipeline import (
    curate_bridge,
    curate_categories,
    curate_streams,
    curate_users,
    process_raw_bridge,
    process_raw_categories,
    process_raw_streams,
    process_raw_users,
)
from twitch_stream_data_pipeline_spark.sources import (
    DASHBOARD_SQL,
    dashboard_query,
    day_dates_dim,
    read_envelope_records,
    register_curated_star,
    time_of_day_dim,
)
from twitch_stream_data_pipeline_spark.streaming.pipeline import (
    curated_streams_stream,
    stream_raw_streams,
    stream_to_partitioned_lake,
)

import fixture
import oracle
from spans import ProgressListener, Stopwatch, group_counters

SLOT_PARTITION = ("day_date_id", "time_of_day_id")
#: Slots run before timing starts. The JVM is still compiling the
#: chain's code over the first few slots: their CPU time falls from
#: ~19 s to ~10 s by the fourth slot on 4 cores.
WARM_SLOTS = 3
BRIDGES = (("genre_bridge", "genres", "genre_id"),
           ("game_mode_bridge", "game_modes", "game_mode_id"))
RAW_SCHEMAS = {
    "streams": schemas.RAW_STREAMS_ENVELOPE,
    "categories": schemas.RAW_CATEGORIES_ENVELOPE,
    "users": schemas.RAW_USERS_ENVELOPE,
    "genre_bridge": schemas.RAW_GENRE_BRIDGE_ENVELOPE,
    "game_mode_bridge": schemas.RAW_GAME_MODE_BRIDGE_ENVELOPE,
}
STATE_SCHEMAS = {
    "users": "user_id string, user_name string, login_name string, broadcaster_type string",
    "categories": "category_id string, category_name string, igdb_id string",
}


def dir_stats(path: str) -> tuple[int, int, int]:
    """(parquet files, their bytes, directories holding them) under path."""
    files = nbytes = 0
    leaves = set()
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
                leaves.add(d)
    return files, nbytes, len(leaves)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, size: dict, tracer):
        self.spark, self.work, self.seed, self.size, self.tr = spark, work, seed, size, tracer

    def generate(self) -> None:
        """Write the inputs every set-up repetition shares."""

    def prepare(self, rep: int) -> None:
        """Set up the package's side; the last repetition is the one used."""

    def warm_up(self) -> None:
        raise NotImplementedError

    def op(self) -> tuple[Stopwatch, int]:
        """One operation: its wall and CPU time, and the rows it processed."""
        raise NotImplementedError

    def check(self) -> tuple[int, list[str]]:
        raise NotImplementedError

    def finish_trace(self) -> None:
        """Put the run's end-of-run gauges into the tracer."""

    def negative_control(self) -> bool:
        """True when the check rejects an output with one row corrupted."""
        raise NotImplementedError


class SlotCadence(Workload):
    """Land one raw slot, then run that slot's whole medallion chain
    against the user and category state grown by earlier slots."""

    name = "slot_cadence"

    def prepare(self, rep: int) -> None:
        root = os.path.join(self.work, f"slots{rep}")
        self.raw, self.lake = os.path.join(root, "raw"), os.path.join(root, "lake")
        self.gen = fixture.RawFixture(self.seed, self.size["streams_per_slot"])
        self.state_version: dict[str, int | None] = {"users": None, "categories": None}

    def warm_up(self) -> None:
        for _ in range(WARM_SLOTS):  # the first on an empty lake
            self.op()
        self.first_timed_slot = self.gen.k

    def op(self) -> tuple[Stopwatch, int]:
        slot = self.gen.next_slot()
        fixture.land_slot(self.raw, slot)
        with Stopwatch() as sw:
            self._chain(slot.day_date_id, slot.time_of_day_id, self.gen.k - 1)
        return sw, slot.n_stream_records

    def _state_path(self, name: str, version: int) -> str:
        return os.path.join(self.lake, "state", name, f"v{version:05d}")

    def _state(self, name: str):
        v = self.state_version[name]
        if v is None:
            return self.spark.createDataFrame([], STATE_SCHEMAS[name])
        return sinks.read_partitioned(self.spark, self._state_path(name, v))

    def _chain(self, day: str, tod: str, k: int) -> None:
        spark, tr, lake = self.spark, self.tr, self.lake
        slot_cols = {"day_date_id": F.lit(day), "time_of_day_id": F.lit(tod)}

        with tr.span("sources", "read"):
            recs = {}
            for name, schema in RAW_SCHEMAS.items():
                d = fixture.RAW_DIRS[name]
                shard = "_*" if name == "streams" else ""
                path = os.path.join(self.raw, d, day, f"{d}_{day}_{tod}{shard}.json")
                recs[name], n = tr.materialize(read_envelope_records(spark, path, schema))
                if tr.enabled:
                    tr.add("sources", "records", n)
                    tr.add("sources", "files", len(glob.glob(path)))

        processed = {}
        with tr.span("pipeline", "streams"):
            processed["streams"], n_out = tr.materialize(process_raw_streams(recs["streams"]))
        if tr.enabled:
            raw = recs["streams"]
            valid = raw.filter(F.col("id").try_cast("long").isNotNull()
                               & F.col("user_id").try_cast("long").isNotNull()).count()
            tr.add("pipeline", "rows_rejected", raw.count() - valid)
            tr.add("pipeline", "rows_deduped", valid - n_out)
        with tr.span("pipeline", "categories"):
            processed["categories"], _ = tr.materialize(
                process_raw_categories(recs["categories"]))
        with tr.span("pipeline", "users"):
            processed["users"], _ = tr.materialize(process_raw_users(recs["users"]))
        with tr.span("pipeline", "bridges"):
            for name, arr, col in BRIDGES:
                processed[name], _ = tr.materialize(process_raw_bridge(
                    recs[name], processed["categories"], arr, col))

        with tr.span("sinks", "write"):
            for name, df in processed.items():
                sinks.write_partitioned(df.withColumns(slot_cols),
                                        os.path.join(lake, "processed", name), SLOT_PARTITION)
        back = {
            name: sinks.read_partitioned(spark, os.path.join(
                lake, "processed", name, f"day_date_id={day}", f"time_of_day_id={tod}"))
            for name in processed
        }

        curated = {}
        with tr.span("pipeline", "streams"):
            curated["streams"], _ = tr.materialize(curate_streams(back["streams"], day, tod))
        with tr.span("pipeline", "bridges"):
            for name, _, col in BRIDGES:
                curated[name], _ = tr.materialize(curate_bridge(back[name], col))
        new_state = {}
        with tr.span("operators", "upsert"):
            for name, curate in (("users", curate_users), ("categories", curate_categories)):
                res = curate(back[name], self._state(name))
                curated[name], n_delta = tr.materialize(res.delta)
                new_state[name], n_state = tr.materialize(res.new_state)
                if tr.enabled:
                    tr.add("operators", "delta_rows", n_delta)
                    tr.put("operators", f"state_rows.{name}", n_state)

        with tr.span("sinks", "write"):
            for name, df in curated.items():
                sinks.write_partitioned(df.withColumns(slot_cols),
                                        os.path.join(lake, "curated", name), SLOT_PARTITION)
            for name, df in new_state.items():
                sinks.write_partitioned(df, self._state_path(name, k), ())
        tr.release()
        for name, old in self.state_version.items():
            self.state_version[name] = k
            if old is not None:  # the state before last is no longer read
                shutil.rmtree(self._state_path(name, old), ignore_errors=True)

    def finish_trace(self) -> None:
        tr = self.tr
        ops = tr.totals["operators"]
        tr.put("operators", "state_rows",
               ops.pop("state_rows.users", 0) + ops.pop("state_rows.categories", 0))
        files, nbytes, parts = dir_stats(self.lake)
        tr.put("sinks", "files_written", files)
        tr.put("sinks", "bytes_written", nbytes)
        tr.put("sinks", "files_per_partition", files / max(1, parts))

    def check(self) -> tuple[int, list[str]]:
        errors = oracle.check_medallion(self.raw, self.lake, {
            name: self._state_path(name, v) for name, v in self.state_version.items()})
        # a mismatch in a per-slot layer fails that slot; one in the
        # state or the deltas fails every slot, as each built on it
        slots = {e.split(")")[0] for e in errors if "(" in e.split(":")[0]}
        whole = any("(" not in e.split(":")[0] for e in errors)
        timed = self.gen.k - self.first_timed_slot
        return (timed if whole else min(timed, len(slots))), errors

    def negative_control(self) -> bool:
        lake = os.path.join(self.lake, "curated", "streams")
        return len(oracle.check_streams(self.raw, lake, corrupt=True)) == 1


class BackfillDay(Workload):
    """Pending raw slots drained by one ``availableNow`` catch-up of the
    streaming curated-streams pipeline into the partitioned lake."""

    name = "backfill_day"

    def generate(self) -> None:
        self.raw = os.path.join(self.work, "backfill", "raw")
        self.raw_glob = os.path.join(self.raw, fixture.RAW_DIRS["streams"], "*", "*.json")
        gen = fixture.RawFixture(self.seed, self.size["streams_per_slot"])
        self.records = self.files = 0
        for _ in range(self.size["backfill_slots"]):
            slot = gen.next_slot()
            self.files += fixture.land_streams(self.raw, slot)
            self.records += slot.n_stream_records
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)
        self.outputs: list[str] = []

    def warm_up(self) -> None:
        # one whole catch-up; after only a one-batch warm-up the first
        # timed catch-up still ran 35% slower than the later ones
        self._catchup(self.raw_glob, tempfile.mkdtemp(prefix="warmup", dir=self.work))

    def _catchup(self, glob_path: str, out: str) -> Stopwatch:
        with Stopwatch() as sw:
            stream_to_partitioned_lake(
                curated_streams_stream(stream_raw_streams(self.spark, glob_path)),
                os.path.join(out, "lake"),
                os.path.join(out, "checkpoint"),
                timeout_sec=100,
            )
        return sw

    def op(self) -> tuple[Stopwatch, int]:
        out = tempfile.mkdtemp(prefix="catchup", dir=self.work)
        self.outputs.append(out)
        first_batch = len(self.listener.batches)
        sw = self._catchup(self.raw_glob, out)
        if self.tr.enabled:
            self._trace_catchup(first_batch, sw.wall)
        return sw, self.records

    def _trace_catchup(self, first_batch: int, latency: float) -> None:
        tr = self.tr
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        batches = self.listener.batches[first_batch:]
        run_id = self.listener.run_ids[-1]
        tr.add("streaming", "catchup_s", latency)
        tr.add("streaming", "micro_batches", len(batches))
        for b in batches:
            tr.add("streaming", "add_batch_ms", b["duration_ms"].get("addBatch", 0))
            tr.add("streaming", "wal_commit_ms", b["duration_ms"].get("walCommit", 0))
        tr.put("streaming", "state_rows", max((b["state_rows"] for b in batches), default=0))
        counters = group_counters(self.spark, run_id)
        tr.add("sources", "input_bytes", counters.pop("input_bytes"))
        for k, v in counters.items():
            tr.add("streaming", k, v)
        tr.add("sources", "files", self.files)
        tr.add("sources", "records", self.records)
        files, nbytes, parts = dir_stats(os.path.join(self.outputs[-1], "lake"))
        tr.put("sinks", "files_written", files)
        tr.put("sinks", "bytes_written", nbytes)
        tr.put("sinks", "files_per_partition", files / max(1, parts))

    def check(self) -> tuple[int, list[str]]:
        failed, errors = 0, []
        for out in self.outputs:
            e = oracle.check_streams(self.raw, os.path.join(out, "lake"))
            failed += bool(e)
            errors += e
        return failed, errors

    def negative_control(self) -> bool:
        lake = os.path.join(self.outputs[-1], "lake")
        return len(oracle.check_streams(self.raw, lake, corrupt=True)) == 1


class Dashboard(Workload):
    """The three dashboard tiles, round-robin, over a week of curated
    fact rows written through the sinks layer in set-up."""

    name = "dashboard"

    def generate(self) -> None:
        self.fact_file, self.dim_file, self.rows = fixture.write_curated_week(
            os.path.join(self.work, "gen"), self.seed, self.size["dash_slots"],
            self.size["streams_per_slot"])
        self.tiles = sorted(DASHBOARD_SQL)

    def prepare(self, rep: int) -> None:
        spark, root = self.spark, os.path.join(self.work, f"dash{rep}")
        self.fact_path = os.path.join(root, "curated_streams")
        self.dim_path = os.path.join(root, "categories")
        sinks.write_partitioned(spark.read.parquet(self.fact_file), self.fact_path)
        sinks.write_partitioned(spark.read.parquet(self.dim_file), self.dim_path, ())
        register_curated_star(
            spark,
            sinks.read_partitioned(spark, self.fact_path),
            sinks.read_partitioned(spark, self.dim_path),
            day_dates_dim(spark),
            time_of_day_dim(spark),
        )

    def warm_up(self) -> None:
        for tile in self.tiles:
            dashboard_query(self.spark, tile).collect()
        self.results: list[tuple[str, list[tuple]]] = []

    def op(self) -> tuple[Stopwatch, int]:
        tile = self.tiles[len(self.results) % len(self.tiles)]
        with self.tr.span("sources", "read"), Stopwatch() as sw:
            rows = dashboard_query(self.spark, tile).collect()
        self.results.append((tile, oracle.normalize(rows)))
        return sw, self.rows

    def finish_trace(self) -> None:
        files, nbytes, parts = dir_stats(self.fact_path)
        self.tr.put("sources", "files", files)  # the fact files each tile lists
        self.tr.put("sinks", "files_written", files)
        self.tr.put("sinks", "bytes_written", nbytes)
        self.tr.put("sinks", "files_per_partition", files / max(1, parts))

    def _mismatches(self, results: list[tuple[str, list[tuple]]]) -> list[str]:
        return [f"{tile} (op {i}): result differs from the DuckDB oracle"
                for i, (tile, rows) in enumerate(results)
                if rows != self.expected[tile]]

    def check(self) -> tuple[int, list[str]]:
        self.expected = oracle.dashboard_expected(self.fact_path, self.dim_path)
        errors = self._mismatches(self.results)
        return len(errors), errors

    def negative_control(self) -> bool:
        tile, rows = self.results[-1]
        corrupt = [(rows[0][0] + "x",) + rows[0][1:]] + rows[1:]
        return len(self._mismatches([(tile, corrupt)])) == 1


WORKLOADS = {w.name: w for w in (SlotCadence, BackfillDay, Dashboard)}
