"""Join operators (SURVEY.md §2.4 J1-J6).

Every join in the reference is an equi join with one small side, so the
engine's default physical strategy is a broadcast hash join — zero
shuffle of the fact side. The positional join J6 (order-dependent
pandas concat) is re-expressed relationally with row numbers; the
nearest-slot "as-of join" J5 is pure arithmetic (no join at all).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _slot_pieces(ts: Column) -> tuple[Column, Column, Column]:
    """(secs, day_secs, rollover) for reference-exact slot mapping."""
    secs = F.unix_timestamp(ts)
    day_secs = secs % 86400
    # reference rolls to next-day 0000 only for hour==23 AND minute>52,
    # i.e. from 23:53:00 (85980s) onward — strict, not >=52
    rollover = day_secs >= F.lit(85980)
    return secs, day_secs, rollover


def nearest_slot_id(ts: Column) -> Column:
    """Map a timestamp to the nearest 15-minute slot id "HHMM" (J5),
    bit-exact to the reference's 96-row linear scan
    (``scripts/get_raw_data/get_raw_categories_data.py:52-71``,
    duplicated ~14x) including its two boundary quirks:

    - **Ties go to the EARLIER slot**: the scan keeps the first slot
      achieving the minimum |diff| (strict ``<`` at ``:67``), so
      12:07:30 maps to 1200, not 1215. Plain HALF_UP rounding would
      pick the later slot — hence ``(day_secs + 449) div 900``, which
      rounds half-down.
    - **The scan never sees the next day's 0000**: its candidate grid
      is built on the current date only (``:65``), so 23:52:31-23:52:59
      clamp to 2345 (min over same-day slots), while the explicit
      special case at ``:58-59`` sends ``minute > 52`` — 23:53:00
      onward — to next-day 0000.
    """
    _, day_secs, rollover = _slot_pieces(ts)
    slot_secs = F.least((day_secs + 449) / F.lit(900), F.lit(95)).cast("long") * 900
    hh = F.floor(slot_secs / 3600).cast("int")
    mm = F.floor((slot_secs % 3600) / 60).cast("int")
    hhmm = F.concat(
        F.lpad(hh.cast("string"), 2, "0"), F.lpad(mm.cast("string"), 2, "0")
    )
    return F.when(rollover, F.lit("0000")).otherwise(hhmm)


def nearest_slot_day_id(ts: Column) -> Column:
    """Companion day_date_id "yyyyMMdd": the observation day, advanced
    by one only in the 23:53+ rollover window (``get_raw_categories_
    data.py:42-47`` — same strict ``minute > 52`` rule)."""
    secs, day_secs, rollover = _slot_pieces(ts)
    midnight = secs - day_secs
    day_start = F.when(rollover, midnight + 86400).otherwise(midnight)
    # stay timezone-free: go through DateType (epoch-day arithmetic),
    # never date_format on a timestamp (session-timezone-sensitive)
    epoch_day = (day_start / F.lit(86400)).cast("int")
    return F.date_format(
        F.date_add(F.to_date(F.lit("1970-01-01")), epoch_day), "yyyyMMdd"
    )


def positional_join(
    left: DataFrame,
    right: DataFrame,
    left_order: Sequence[Column | str],
    right_order: Sequence[Column | str],
) -> DataFrame:
    """Index-aligned concat re-expressed relationally (J6).

    The reference's ``pd.concat([...], axis=1)`` aligns by row
    position (``scripts/other/create_category_group_messages.py:111-114``);
    order must be made explicit to mean anything distributed, so both
    sides get ``row_number`` over their stated ordering and equi-join
    on position. Rows without a partner keep NULLs (full outer), same
    as pandas' alignment.

    **Size contract: small inputs only** (dimension/control-plane
    scale, like the reference's ≤25-row weights table). The global
    ``row_number`` windows necessarily sort each side in ONE task —
    positional semantics are order-dependent, so there is no
    partitionable form that preserves them exactly. For large data,
    redesign the alignment as a keyed join (the engine's own
    popularity feedback does exactly that); a zipWithIndex-based
    variant would distribute but silently changes the guarantee from
    "user-stated ordering" to "partition-file ordering".
    """
    lw = Window.orderBy(*left_order)
    rw = Window.orderBy(*right_order)
    lnum = left.withColumn("__pos", F.row_number().over(lw))
    rnum = right.withColumn("__pos", F.row_number().over(rw))
    return lnum.join(rnum, on="__pos", how="full_outer").drop("__pos")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    row_key: Sequence[str],
    buckets: int = 16,
) -> DataFrame:
    """Skew-resilient inner equi-join by salting (the manual twin of
    AQE's skew-join splitting, for when the small side is too big to
    broadcast but a handful of join keys carry most of the fact rows —
    one viral category, one dominant language).

    A plain shuffle join sends every fact row for a hot key to that
    key's single reducer. Salting splits the hot key's rows across
    ``buckets`` reducers instead: the dim side is replicated once per
    salt (``explode(sequence(...))`` — dim is the SMALL side, so the
    blow-up is bounded at ``|dim| * buckets``), and each fact row
    routes to one salt chosen by hashing the row's own identity
    (``row_key`` — NOT the join key: hashing the join key would send
    the hot key back to one reducer). Joining on ``(key, salt)`` then
    meets every fact row with exactly one copy of its dim row, so the
    result multiset is identical to the unsalted join — verified by
    the catalog oracle, which states the plain join.

    Spark-specific note: AQE (`skewJoin.enabled`) handles this
    automatically for *sort-merge* joins by splitting oversized
    partitions, but cannot split the build side of a shuffled hash
    join or a downstream aggregation's state — explicit salting is the
    portable answer and composes with any consumer.
    """
    salts = F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))).alias("__salt")
    dsalt = dim.select("*", salts)
    route = F.pmod(
        F.xxhash64(*[F.col(c) for c in row_key]), F.lit(buckets)
    ).alias("__salt")
    fsalt = fact.select("*", route)
    return fsalt.join(dsalt, [on, "__salt"]).drop("__salt")
