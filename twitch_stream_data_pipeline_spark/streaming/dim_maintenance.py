"""Streaming state maintenance via foreachBatch (SURVEY.md §2.7
"stateful dim maintenance", §3.2/3.3 restatement).

The reference keeps ``current_users`` / ``current_categories`` by
rewriting the whole state CSV on every batch (union + key-dedup +
delta + overwrite, ``src/curate_data/curate_users_data.py:54-108``,
K5). Both sinks here keep that shape: each micro-batch that changes
the state writes the full new state as a snapshot
``state_path/version=<epoch_id>``, exactly-once per sink via
checkpointing instead of the reference's manual SQS ack discipline.

One commit rule serves both (log-as-commit-point, as in Delta Lake):
a version is committed once its ``_SUCCESS`` marker exists. Readers
and the next batch use the highest committed version, so a failed or
in-flight write — an empty or partial ``version=`` directory — is
never read, and redelivering the epoch rewrites it. After a commit
only that version and the one before it are kept: one full rewrite
per batch bounds the file count, so no compaction, lease or recovery
pass is needed. At warehouse scale the same contract is a MERGE into
Delta/Iceberg.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..operators.upsert import upsert_state


class _VersionedState:
    """The snapshot-per-epoch layout both state sinks share; a subclass
    supplies only :meth:`_merge`."""

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        keys: list[str],
        schema_ddl: str,
    ) -> None:
        self.spark = spark
        self.state_path = state_path
        self.keys = keys
        self.schema_ddl = schema_ddl

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.state_path, f"version={version}")

    def _version_dirs(self) -> dict[int, str]:
        if not os.path.isdir(self.state_path):
            return {}
        return {
            int(d.split("=", 1)[1]): os.path.join(self.state_path, d)
            for d in os.listdir(self.state_path)
            if d.startswith("version=")
        }

    def _committed_versions(self) -> list[int]:
        return sorted(
            v
            for v, d in self._version_dirs().items()
            if os.path.exists(os.path.join(d, "_SUCCESS"))
        )

    def _latest_version(self) -> int | None:
        versions = self._committed_versions()
        return versions[-1] if versions else None

    def current_state(self) -> DataFrame:
        v = self._latest_version()
        if v is None:
            return self.spark.createDataFrame([], self.schema_ddl)
        return self.spark.read.schema(self.schema_ddl).parquet(self._version_dir(v))

    def _merge(
        self, batch: DataFrame, state: DataFrame, epoch_id: int
    ) -> DataFrame | None:
        """The new full state, or None when the batch changes nothing."""
        raise NotImplementedError

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        latest = self._latest_version()
        if latest is not None and epoch_id < latest:
            # A fresh checkpoint resets epoch ids to 0; writing a version
            # below the latest would make current_state() serve the OLD
            # version forever (and merge onto it). State and checkpoint
            # share one lifecycle — they must be cleared together.
            raise RuntimeError(
                f"{type(self).__name__} state at {self.state_path} is at "
                f"version={latest} but the stream delivered "
                f"epoch_id={epoch_id}: the checkpoint was reset without "
                "clearing state_path (or two queries share one state "
                "dir). Clear both together, or point the restarted "
                "query at a fresh state_path."
            )
        if epoch_id == latest:
            return  # redelivery of an epoch whose version is committed
        new_state = self._merge(batch, self.current_state(), epoch_id)
        if new_state is None:
            return
        out = self._version_dir(epoch_id)
        # rebalance: AQE sizes the snapshot's files to the state, so the
        # file count stays bounded however many batches have run
        new_state.hint("rebalance").write.mode("overwrite").parquet(out)
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            raise RuntimeError(
                f"{out} was written without a _SUCCESS marker, so it can "
                "never commit: keep mapreduce.fileoutputcommitter."
                "marksuccessfuljobs at its default (true)."
            )
        keep = self._committed_versions()[-2:]
        for v, d in self._version_dirs().items():
            if v not in keep:
                shutil.rmtree(d, ignore_errors=True)


class DimUpserter(_VersionedState):
    """foreachBatch sink maintaining an insert-only dimension table:
    keys already in state keep their attributes (state-attrs-win), and
    only unseen keys are added and emitted downstream."""

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        keys: list[str],
        schema_ddl: str,
        delta_path: str | None = None,
    ) -> None:
        super().__init__(spark, state_path, keys, schema_ddl)
        self.delta_dir = delta_path or state_path.rstrip("/") + "_deltas"

    def _merge(
        self, batch: DataFrame, state: DataFrame, epoch_id: int
    ) -> DataFrame | None:
        """Record the delta, then return state ∪ the delta as read back.

        The delta is materialized to ``delta_path/epoch=<id>`` first:
        that record is what a downstream warehouse load consumes (the
        reference's curated-layer CSV, K3), and building the new state
        from the read-back copy keeps state and record identical even
        where ``dropDuplicates`` could pick a different row on a second
        evaluation. An empty delta writes nothing (reference parity:
        ``curate_categories_data.py:82-87`` early exit).
        """
        delta = upsert_state(batch, state, self.keys).delta
        if delta.isEmpty():
            return None
        epoch_dir = os.path.join(self.delta_dir, f"epoch={epoch_id}")
        delta.write.mode("overwrite").parquet(epoch_dir)
        return state.unionByName(
            self.spark.read.schema(self.schema_ddl).parquet(epoch_dir)
        )


class AggMaintainer(_VersionedState):
    """foreachBatch sink maintaining a keyed AGGREGATE table with
    replace-on-key semantics — the incremental-materialized-view twin
    of :class:`DimUpserter` (whose dims are insert-only; aggregates
    must instead overwrite a key's row when a late or new micro-batch
    revises it).

    Consumed with an update-mode streaming aggregation: each trigger
    emits only revised (key, aggregate) rows; the merge left-anti-joins
    them out of the current state and unions them in. An aggregate
    table is keys x windows — bounded — never fact-sized, so the full
    rewrite per batch stays cheap.
    """

    def _merge(
        self, batch: DataFrame, state: DataFrame, epoch_id: int
    ) -> DataFrame | None:
        if batch.isEmpty():
            return None
        return state.join(
            batch.select(*self.keys).distinct(), self.keys, "left_anti"
        ).unionByName(batch.select(*state.columns))
