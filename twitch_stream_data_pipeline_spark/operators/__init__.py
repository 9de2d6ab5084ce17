"""Relational operator library (SURVEY.md §2.3-2.6).

Each function is a pure ``DataFrame -> DataFrame`` transform (or a
small composition) implementing one operator row from the survey's
inventory, idiomatically in Spark: broadcast hash joins for dim
lookups, window-ranked keep-first dedup, anti-join deltas, arithmetic
nearest-slot rounding instead of the reference's linear scans.
"""

from .cleaning import empty_to_sentinel, valid_integer_ids
from .dedup import dedup_keep_first
from .joins import nearest_slot_id, positional_join
from .aggregates import (
    dq_check,
    profile_columns,
    salted_count_distinct,
    skew_report,
)
from .event_analytics import (
    anomaly_scores,
    funnel_stages,
    gapfill_forward,
    interval_overlap_pairs,
    motif_discovery,
    retention_cohorts,
    ts_pattern_search,
)
from .joins import salted_join
from .upsert import upsert_state
from .packing import pack_into_groups

__all__ = [
    "anomaly_scores",
    "dq_check",
    "funnel_stages",
    "gapfill_forward",
    "interval_overlap_pairs",
    "motif_discovery",
    "retention_cohorts",
    "salted_join",
    "skew_report",
    "ts_pattern_search",
    "empty_to_sentinel",
    "valid_integer_ids",
    "dedup_keep_first",
    "nearest_slot_id",
    "positional_join",
    "profile_columns",
    "salted_count_distinct",
    "upsert_state",
    "pack_into_groups",
]
