"""The Twitch medallion pipeline (raw -> processed -> curated) as pure
DataFrame transforms (SURVEY.md §3).

Each stage of the reference's Lambda cascade becomes a function of
DataFrames: no process boundaries, no files-as-IR — Catalyst sees the
whole lineage, so projections and filters push into the scan and every
dim join broadcasts. Golden-replay tests run these against the
reference's own shipped batch snapshots.
"""

from .incremental import (
    list_partition_values,
    run_incremental,
    unprocessed_partitions,
)
from .streams import process_raw_streams, curate_streams
from .categories import process_raw_categories, curate_categories
from .users import process_raw_users, curate_users
from .bridges import process_raw_bridge, curate_bridge
from .dims import curate_igdb_dim, process_raw_igdb_dim

__all__ = [
    "process_raw_streams",
    "curate_streams",
    "process_raw_categories",
    "curate_categories",
    "process_raw_users",
    "curate_users",
    "process_raw_bridge",
    "curate_bridge",
    "process_raw_igdb_dim",
    "curate_igdb_dim",
    "list_partition_values",
    "unprocessed_partitions",
    "run_incremental",
]
