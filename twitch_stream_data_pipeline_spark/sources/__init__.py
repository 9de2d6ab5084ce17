"""Scan & generator sources (SURVEY.md §2.1, S1–S9)."""

from .star import (
    DASHBOARD_SQL,
    dashboard_query,
    register_curated_star,
)
from .json_envelope import read_envelope_records
from .csv_source import read_csv_reference
from .generators import day_dates_dim, time_of_day_dim
from .paged_api import PagedEnvelopeDataSource

__all__ = [
    "DASHBOARD_SQL",
    "dashboard_query",
    "register_curated_star",
    "read_envelope_records",
    "read_csv_reference",
    "day_dates_dim",
    "time_of_day_dim",
    "PagedEnvelopeDataSource",
]
