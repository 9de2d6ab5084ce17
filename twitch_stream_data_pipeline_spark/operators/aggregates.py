"""Aggregation operators (SURVEY.md §2.5 A1/A5).

Spark gives partial (map-side) aggregation automatically — the
group-by count below is a two-phase hash aggregate, so at 100 TB the
shuffle carries one partial row per (task, category), not one row per
stream observation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted_count_distinct(
    df: DataFrame,
    keys: list[str],
    value: str,
    buckets: int = 32,
    alias: str = "n_distinct",
) -> DataFrame:
    """Skew-proof exact COUNT(DISTINCT value) per key group.

    A plain distinct-count shuffles every (key, value) pair to the
    key's single reducer — a hot key (one category with 10^9 viewers,
    one language with most of the corpus) serializes on one task and
    can exceed its memory. Salting by a *hash of the value* splits each
    key's distinct-set cleanly across ``buckets`` reducers: distinct
    values partition disjointly by their own hash, so

        sum over salts of count(distinct value | key, salt)
        == count(distinct value | key)

    exactly. Two bounded shuffles replace one unbounded one; each
    reducer holds at most ~|distinct|/buckets values of the hottest
    key. This is the groupBy twin of AQE's skew-join splitting (which
    cannot split aggregation state).
    """
    salt = F.pmod(F.xxhash64(F.col(value)), F.lit(buckets)).alias("_salt")
    per_salt = (
        df.select(*keys, F.col(value), salt)
        .groupBy(*keys, "_salt")
        .agg(F.count_distinct(F.col(value)).alias("_partial"))
    )
    return per_salt.groupBy(*keys).agg(F.sum("_partial").alias(alias))


def profile_columns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One-pass column profiler: per column emit ``col_name, n_rows,
    n_nulls, n_distinct, min_val, max_val`` (min/max rendered as
    strings so heterogeneous columns share one schema) — the
    ANALYZE-TABLE statistics a pipeline inspects before choosing
    partition counts, join strategies, and skew mitigations.

    All statistics compute in ONE aggregation over the data. Multiple
    exact ``count_distinct`` aggregates plan through Catalyst's Expand
    (each input row is replicated once per distinct-aggregate, then
    partially aggregated map-side), so the cost is ``|cols|`` times one
    scan's rows pre-combined — not ``|cols|`` scans. For a quick
    profile at extreme scale swap ``count_distinct`` for
    ``approx_count_distinct``; this exact form is the oracle-checkable
    one. The final unpivot is a ``stack`` over a single 1-row relation.
    """
    cols = cols or df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            F.min(F.col(c)).cast("string").alias(f"{c}__mn"),
            F.max(F.col(c)).cast("string").alias(f"{c}__mx"),
        ]
    row = df.agg(F.count(F.lit(1)).alias("__total"), *aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__nn`, `{c}__nd`, `{c}__mn`, `{c}__mx`" for c in cols
    )
    return row.selectExpr(
        "__total",
        f"stack({len(cols)}, {stack_args}) as "
        "(col_name, n_nonnull, n_distinct, min_val, max_val)",
    ).select(
        "col_name",
        F.col("__total").alias("n_rows"),
        (F.col("__total") - F.col("n_nonnull")).alias("n_nulls"),
        "n_distinct",
        "min_val",
        "max_val",
    )


def binned_quantiles(
    df: DataFrame,
    key: str,
    value: str,
    percentiles: tuple[int, ...] = (50, 95),
    bins: int = 1000,
    lo: float = 0.0,
    hi: float = 500.0,
) -> DataFrame:
    """Histogram-based per-key quantile estimation — the 100-TB path
    for percentiles. Exact percentiles globally sort each key's values;
    ``approx_percentile`` sketches are engine-private (not
    oracle-checkable). Fixed-width binning is both: one partial-agg
    histogram pass over the facts, then quantiles read off cumulative
    bucket counts. Error is bounded by the bin width ``(hi-lo)/bins``;
    the estimate is the lower edge of the first bucket whose cumulative
    count reaches ``pct% of total``, compared in INTEGER arithmetic
    (``cum * 100 >= total * pct``) so the boundary cannot drift between
    engines' float/decimal semantics — fully deterministic.

    The only window runs over the HISTOGRAM (``<= |keys| x bins``
    rows), never the facts; the fact-side work is a single map-side
    combined ``groupBy(key, bucket)``. Emits one row per key with a
    ``q_<pct>`` column per requested quantile.
    """
    width = (hi - lo) / bins
    bucket = F.least(
        F.greatest(
            F.floor((F.col(value) - F.lit(lo)) / F.lit(width)), F.lit(0)
        ),
        F.lit(bins - 1),
    ).cast("int")
    hist = (
        df.select(F.col(key), bucket.alias("bucket"))
        .groupBy(key, "bucket")
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy(key)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(Window.partitionBy(key))
    )
    aggs = []
    for pct in percentiles:
        edge = F.lit(lo) + F.col("bucket") * F.lit(width)
        hit = F.when(F.col("cum") * 100 >= F.col("total") * F.lit(pct), edge)
        aggs.append(F.min(hit).alias(f"q_{pct}"))
    return cum.groupBy(key).agg(*aggs)


def dq_check(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """One-pass data-quality expectation check (the dbt-test /
    Great-Expectations shape a pipeline runs before promoting a layer):
    ``rules`` maps a rule name to a boolean Column that every row
    should satisfy. Emits one row per rule: ``rule, n_violations,
    n_rows, violation_frac``.

    A row violates a rule when the predicate is NOT TRUE — i.e. FALSE
    *or* NULL (a NULL quantity fails ``quantity BETWEEN 1 AND 50``;
    silently passing nulls is the classic DQ-check bug).

    Plan shape: ALL rules evaluate in ONE aggregation pass over the
    relation (conditional sums collapse map-side to a single partial
    row per task — at 100 TB this is one scan + a 1-row shuffle, not
    one scan per rule); the per-rule long format is an explode of a
    1-row array, driver-free.
    """
    names = list(rules)
    # coalesce: SUM over zero rows is NULL; an empty relation must report
    # 0 violations / frac 0.0 (the documented fail-closed COUNT shape).
    aggs = [F.count("*").alias("__n")] + [
        F.coalesce(F.sum(F.when(cond, 0).otherwise(1)), F.lit(0)).alias(f"__v{i}")
        for i, cond in enumerate(rules.values())
    ]
    wide = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"), F.col(f"__v{i}").alias("n_violations")
            )
            for i, name in enumerate(names)
        ]
    )
    return wide.select(
        F.explode(pairs).alias("p"), F.col("__n").alias("n_rows")
    ).select(
        "p.rule",
        "p.n_violations",
        "n_rows",
        F.when(F.col("n_rows") == 0, F.lit(0.0))
        .otherwise(F.col("p.n_violations").cast("double") / F.col("n_rows"))
        .alias("violation_frac"),
    )


def skew_report(
    df: DataFrame, key_cols: list[str], top_k: int = 10
) -> DataFrame:
    """Key-skew diagnostic: the top-``top_k`` hottest key groups with
    row counts, share of the relation, and cumulative share — the
    numbers that decide a physical strategy BEFORE a 100 TB job runs
    (broadcast vs shuffle join, whether `salted_join` /
    `salted_count_distinct` is needed, AQE skew thresholds). A key
    holding >1% of a 100 TB fact table is a 1 TB reducer; this report
    is how that is caught at planning time.

    One map-side-combined aggregation (the shuffle carries one partial
    row per task per key), a 1-row total broadcast onto the
    aggregate, and a top-k TakeOrdered + a top_k-sized ranking window
    — nothing full-relation past the first groupBy.
    """
    counts = df.groupBy(*key_cols).agg(F.count("*").alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("__total"))
    top = (
        counts.crossJoin(F.broadcast(total))
        .select(
            *key_cols,
            "n_rows",
            (F.col("n_rows").cast("double") / F.col("__total")).alias("share"),
        )
        .orderBy(F.desc("n_rows"), *key_cols)
        .limit(top_k)
    )
    w = Window.orderBy(F.desc("n_rows"), *key_cols)
    return top.select(
        *key_cols,
        "n_rows",
        "share",
        F.sum("share")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_share"),
        F.row_number().over(w).alias("rank"),
    )
