"""Genres / game-modes dimension pipelines (SURVEY.md §3.2 cascade).

Both dims are the same IGDB lookup shape with per-dim column names:

- process: full-row dedup + rename ``id``/``name``
  (``scripts/process_raw_data/process_raw_genres_data.py:55-57``,
  ``process_raw_game_modes_data.py``)
- curate: project to (id, name) and append the ``("NA", "Not
  Available")`` sentinel member (P10,
  ``scripts/curate_data/curate_genres_data.py:20-21``,
  ``curate_game_modes_data.py:12``) so fact rows with no bridge match
  join to a real dimension row instead of dangling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_IGDB_COLS = ["id", "created_at", "name", "slug", "updated_at", "url", "checksum"]


def process_raw_igdb_dim(records: DataFrame, id_out: str, name_out: str) -> DataFrame:
    """Raw IGDB dim records -> processed layer (dedup + rename)."""
    return (
        records.select(*_IGDB_COLS)
        .distinct()
        .withColumnsRenamed({"id": id_out, "name": name_out})
    )


def curate_igdb_dim(processed: DataFrame, id_col: str, name_col: str) -> DataFrame:
    """Processed IGDB dim -> curated (project + sentinel member).

    The id column becomes string because "NA" joins the domain — same
    typing as the warehouse DDL (``twitch_stream_db_schema.sql:37-40,
    47-50``: varchar keys).
    """
    two = processed.select(
        F.col(id_col).cast("string").alias(id_col), F.col(name_col).alias(name_col)
    )
    sentinel = processed.sparkSession.createDataFrame(
        [("NA", "Not Available")], f"{id_col} string, {name_col} string"
    )
    return two.unionByName(sentinel)
