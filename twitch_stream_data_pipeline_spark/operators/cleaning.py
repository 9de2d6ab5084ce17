"""Scalar cleaning expressions (SURVEY.md P6/P8/P11).

The reference's sentinel policy — empty string becomes ``"NA"`` /
``"normal"`` / ``"notavailable"`` depending on column
(``scripts/process_raw_data/process_raw_categories_data.py:65-66``,
``process_raw_users_data.py:66-67``, ``process_raw_streams_data.py:57-61``)
— is kept available for byte-compatible output, but the engine-native
policy is real NULLs with sentinel conversion only at the edges
(SURVEY.md §1.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: column -> sentinel mapping observed in the reference.
SENTINELS = {
    "igdb_id": "NA",
    "box_art_url": "NA",
    "type": "normal",
    "broadcaster_type": "normal",
    "language": "notavailable",
}


def empty_to_sentinel(df: DataFrame, columns: dict[str, str]) -> DataFrame:
    """Replace empty/NULL strings with per-column sentinel defaults (P8)."""
    return df.withColumns(
        {
            c: F.when(
                F.col(c).isNull() | (F.col(c) == ""), F.lit(default)
            ).otherwise(F.col(c))
            for c, default in columns.items()
        }
    )


def is_integer_string(c: Column) -> Column:
    """True when the string parses as an integer.

    Replaces the reference's per-row ``is_integer`` try/except
    (``scripts/process_raw_data/process_raw_streams_data.py:48-53``)
    with a codegen-able cast-null check. ``try_cast`` (not ``cast``)
    because Spark 4 runs ANSI mode by default, where a plain cast of a
    non-numeric string *throws* instead of yielding NULL — the filter
    must reject the reference's "test stream" rows, not crash on them.
    """
    return c.try_cast("long").isNotNull()


def valid_integer_ids(df: DataFrame, *id_columns: str) -> DataFrame:
    """Validity filter (P6): keep rows whose id columns are numeric.

    The reference drops "test streams" whose ``id``/``user_id`` don't
    parse as int (process_raw_streams_data.py:68-74).
    """
    pred = None
    for c in id_columns:
        p = is_integer_string(F.col(c))
        pred = p if pred is None else (pred & p)
    return df.filter(pred) if pred is not None else df
