"""Deduplication operators (SURVEY.md A2/A3/W1).

pandas ``drop_duplicates(keep="first")`` is order-dependent; at scale
"first" must be an explicit tiebreak, so :func:`dedup_keep_first`
ranks with ``row_number`` over an explicit ordering. Where any winner
will do, the pipeline calls ``dropDuplicates`` directly: it needs no
sort within groups and map-side partial aggregation applies.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_keep_first(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column | str]
) -> DataFrame:
    """Deterministic keep-first dedup (A2/W1 with pandas parity).

    ``order`` is the explicit replacement for pandas row order (e.g.
    ``[source_file, record_pos]`` — file-listing order the reference
    implicitly depends on).
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
