"""Physical-plan audits: the scale properties the engine promises must
be visible in `.explain` output — broadcast joins for dims, filter
pushdown into the parquet scan, column pruning, partition pruning on
the partitioned curated layer. These are the checks SURVEY.md §4 maps
from the reference's manual techniques to Catalyst built-ins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from twitch_stream_data_pipeline_spark.plans import CATALOG
from twitch_stream_data_pipeline_spark.sinks import write_partitioned

from .conftest import SF_SMOKE


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_star_join_broadcasts_all_dims(spark):
    df = CATALOG["star_revenue_by_region"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") == 3, plan


def test_pricing_summary_pushes_filter_into_scan(spark):
    df = CATALOG["pricing_summary"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # map-side partial aggregation: shuffle carries partial sums, not rows
    assert "partial_sum" in plan, plan
    # AQE prints the final (codegen-annotated) plan only after executing
    # this exact plan instance (count() would build a different one)
    df.collect()
    # codegen stages print as "*(n) Op" in the compact plan string
    assert "*(2) HashAggregate" in plan_of(df) or "*(1) HashAggregate" in plan_of(df)


def test_column_pruning_reaches_scan(spark):
    df = CATALOG["popularity_by_type"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "props" not in scan_line and "value" not in scan_line, scan_line


def test_anti_join_is_broadcast(spark):
    df = CATALOG["anti_join_customers"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_partition_pruning_on_curated_layer(spark, tmp_path):
    curated = CATALOG["curate_events"].fn(spark, SF_SMOKE)
    out = str(tmp_path / "curated")
    write_partitioned(curated, out, ["day_date_id"], mode="overwrite")
    one_day = spark.read.parquet(out).filter(F.col("day_date_id") == "20240102")
    plan = plan_of(one_day)
    # the day filter must become a partition filter, not a row filter
    assert "PartitionFilters: [isnotnull(day_date_id" in plan, plan
    assert one_day.count() > 0


def test_dedup_uses_partial_aggregation(spark):
    """exact dedup must partial-aggregate map-side: two HashAggregate
    phases around the exchange, so the shuffle carries one row per
    (hash, partial) not one per input row."""
    df = CATALOG["exact_dedup"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange hashpartitioning(text_hash" in plan, plan


def test_asof_join_has_no_join_operator(spark):
    """The as-of join is formulated as a single partitioned window over
    the event stream — the physical plan must contain a Window and one
    user_id shuffle, and NO join operator (a naive range-join
    formulation would explode quadratically per user)."""
    df = CATALOG["asof_join_click_attribution"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "Window" in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_range_join_broadcasts_tiny_side(spark):
    """Non-equi join against the 10-row bucket dim must be a broadcast
    nested-loop — never a shuffle of the fact table on a range key."""
    df = CATALOG["range_join_quantity_buckets"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BuildRight" in plan, plan


def test_count_distinct_star_broadcasts_nation(spark):
    df = CATALOG["count_distinct_star"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    # distinct-agg rewrites to two-phase aggregation (partial before final)
    assert "partial_count" in plan or "HashAggregate" in plan, plan


def test_cube_expands_grouping_sets_map_side(spark):
    """CUBE must plan as Expand + two-phase HashAggregate: all 4
    grouping sets are produced map-side and partially aggregated before
    the single shuffle."""
    df = CATALOG["cube_volume"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "Expand" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_semi_join_pushes_filter_into_scan(spark):
    df = CATALOG["semi_join_big_spenders"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "LeftSemi" in plan, plan
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in plan, plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts
    must sort-merge-join with NO shuffle on either side — the storage
    layout that makes repeated fact-x-fact joins linear at 100 TB."""
    from twitch_stream_data_pipeline_spark.sinks import write_bucketed

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    customer = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    write_bucketed(orders, "b_orders", ["o_custkey"], 4, path=str(tmp_path / "bo"))
    write_bucketed(
        customer.withColumnRenamed("c_custkey", "o_custkey"),
        "b_customer", ["o_custkey"], 4, path=str(tmp_path / "bc"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast plan so the bucket co-location is what
        # eliminates the exchanges
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # bucket-key aggregation also skips its shuffle
        agg = spark.table("b_orders").groupBy("o_custkey").count()
        agg_plan = plan_of(agg)
        assert "Exchange" not in agg_plan, agg_plan
        assert joined.count() == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_salted_distinct_splits_key_state(spark):
    """The salted count-distinct must aggregate in two keyed phases:
    first on (key, salt) — splitting any hot key across reducers —
    then on the key alone."""
    df = CATALOG["salted_distinct_users"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "Exchange hashpartitioning(event_type#" in plan, plan
    assert "_salt" in plan, plan


def test_tfidf_broadcasts_document_frequency(spark):
    """The vocabulary-sized df relation must broadcast onto tf — a
    sort-merge join there would shuffle the full doc x term relation
    twice."""
    df = CATALOG["tfidf_top_terms"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_tfidf_unbroadcast_switch_and_df_cap(spark):
    """broadcast_df=False must produce a shuffle join on term (the
    web-scale-vocabulary escape hatch — billions of terms cannot
    broadcast), and max_df must land as a filter on the aggregated df
    relation. Results are unchanged when the cap exceeds every df."""
    from twitch_stream_data_pipeline_spark.extensions.text_analysis import (
        tfidf_top_terms,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plain = tfidf_top_terms(docs, k=3)
    unbroadcast = tfidf_top_terms(docs, k=3, max_df=5000, broadcast_df=False)
    # broadcast_df=False only removes the broadcast HINT; on toy stats
    # Catalyst still auto-broadcasts below the threshold. Web-scale df
    # statistics exceed any threshold, modeled here by disabling it.
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        shuffle_form = tfidf_top_terms(docs, k=3, max_df=5000, broadcast_df=False)
        plan = plan_of(shuffle_form)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    # the df-cap is a post-aggregation filter on the tiny df relation
    assert "<= 5000" in optimized_of(unbroadcast), optimized_of(unbroadcast)
    assert sorted(map(tuple, unbroadcast.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_simhash_near_dup_has_no_join(spark):
    """Candidate generation is one bucket groupBy + in-array pair
    expansion: no join operator, no cartesian product anywhere."""
    df = CATALOG["simhash_near_dup"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_corpus_curation_is_single_pass(spark):
    """Quality and language are inline expressions and the dedup
    survivor is a window over the fingerprint — NO join anywhere
    (corpus-sized join relations only broadcast at toy scale), one
    scan, and one shuffle beyond the deliberate _docs rebalance."""
    df = CATALOG["corpus_curation"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 2, plan


def test_decontaminate_broadcasts_heldout_shingles(spark):
    """The held-out shingle set is evaluation-set-sized and must
    broadcast; a sort-merge join would shuffle the corpus shingles."""
    df = CATALOG["decontaminate"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_repetition_stats_partially_aggregates(spark):
    """Both aggregations must map-side combine (partial_count) and the
    plan must carry no window operator."""
    df = CATALOG["repetition_stats"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "partial_count" in plan, plan
    assert "Window" not in plan, plan


def test_zscore_aggregates_and_broadcasts_no_window(spark):
    """Per-group standardization must NOT window-partition on the
    ~5-value event_type key (window partitions cannot be split by AQE,
    so 100 TB would land on ~5 sort tasks). The scale shape is a
    partial-aggregable groupBy for the stats plus a broadcast join back
    onto the facts — the fact table itself is never shuffled."""
    df = CATALOG["zscore_by_type"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # stats side partially aggregates map-side; decimal sums shuffle
    assert "partial_sum" in plan, plan
    # the only hash exchange is the <=5-row stats aggregation, not facts
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_group_outliers_scalable_shape(spark):
    """The aggregation-only outlier scorer: no applyInPandas
    (FlatMapGroupsInPandas), centroid and label stats broadcast back,
    distance keyed on high-cardinality vec_id."""
    df = CATALOG["group_outliers_scalable"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "FlatMapGroupsInPandas" not in plan, plan
    # dist is lazily checkpointed so it feeds both the output and the
    # label stats from ONE materialization (no double input pass); the
    # outer plan joins the broadcast stats against the checkpoint scan.
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "partial_sum" in plan, plan


def test_group_outliers_scalable_matches_grouped_map(spark):
    """The aggregation+broadcast formulation agrees with a grouped-map
    numpy formulation (whole label group in one pandas frame) to the
    decimal(25,6) routing tolerance."""
    import numpy as np
    import pandas as pd

    from twitch_stream_data_pipeline_spark.extensions.similarity import (
        group_outlier_scores_scalable,
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", kind="mergesort")
        m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        d = np.sqrt(((m - m.mean(axis=0)) ** 2).sum(axis=1))
        spread = d.std()
        z = (d - d.mean()) / spread if spread > 0 else np.zeros_like(d)
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "label": pdf["label"], "dist": d, "zdist": z}
        )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    grouped = emb.groupBy("label").applyInPandas(
        score, "vec_id long, label int, dist double, zdist double"
    )
    a = {r["vec_id"]: r for r in grouped.collect()}
    b = {r["vec_id"]: r for r in group_outlier_scores_scalable(emb).collect()}
    assert set(a) == set(b)
    for vid, ra in a.items():
        rb = b[vid]
        assert ra["label"] == rb["label"]
        assert abs(ra["dist"] - rb["dist"]) < 1e-3, (vid, ra, rb)
        assert abs(ra["zdist"] - rb["zdist"]) < 1e-3, (vid, ra, rb)


def test_aqe_splits_skewed_join_partitions(spark):
    """The engine's skew story for fact-x-fact joins is AQE: a join key
    holding most of the rows must be split into multiple tasks at
    runtime (plan shows 'skew=true'), with thresholds lowered so the
    toy-sized fixture triggers the same path a 100 TB hot key would."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB"
        )
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        # 2/3 of the left rows pile onto key 7. The padding must be
        # INCOMPRESSIBLE (md5 chains, not repeat()): AQE measures
        # compressed shuffle-block sizes, and repetitive padding
        # compresses below any skew threshold. Right side carries each
        # key once so the join output stays linear.
        pad = F.concat(*[F.md5((F.col("id") + i).cast("string")) for i in range(8)])
        left = spark.range(60_000).select(
            F.when(F.col("id") % 3 <= 1, F.lit(7)).otherwise(F.col("id")).alias("k"),
            pad.alias("pad"),
        )
        right = spark.range(60_000).select(F.col("id").alias("k"), F.col("id").alias("rv"))
        joined = left.join(right, "k")
        # AQE finalizes (and reports skew splits) only on the executed
        # plan INSTANCE — count() would execute a different one
        assert len(joined.collect()) == 60_000
        plan = plan_of(joined)
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_unigram_logprob_broadcasts_vocab(spark):
    """The LM vocabulary relation broadcasts onto the doc x term counts
    (dictionary-sized, same economics as the TF-IDF df relation); every
    aggregation partially combines map-side."""
    df = CATALOG["unigram_logprob"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan, plan
    assert "Window" not in plan, plan


def test_boilerplate_ratio_shape(spark):
    """Gram document-frequency flows through partial-aggregable hash
    aggregations keyed on the high-cardinality gram; no window, no
    grouped-map, no cartesian product."""
    df = CATALOG["boilerplate_ratio"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "Window" not in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_canonical_dedup_partial_aggregates(spark):
    """Canonical selection is argmax-by-struct: struct max plans as
    SortAggregate with a PARTIAL phase before the fingerprint exchange
    (each task pre-reduces to one candidate per group), and no Window —
    a row_number formulation would materialize whole groups
    post-shuffle."""
    df = CATALOG["canonical_dedup"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "Window" not in plan, plan
    assert "partial_max(struct" in plan, plan
    assert "Exchange hashpartitioning(fp" in plan, plan


def test_trailing_range_window_single_user_shuffle(spark):
    """The RANGE-frame trailing sum shuffles once on the
    high-cardinality user_id; no join, no extra exchange."""
    df = CATALOG["trailing_hour_sum"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "Window" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_budget_select_histogram_not_global_sort(spark):
    """Budget selection must not globally sort the corpus: the only
    windows run over the bounded score histogram and the single
    boundary score group; kept buckets come back via broadcast joins."""
    df = CATALOG["budget_select"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") == 2, plan
    rows = df.collect()
    total = sum(r["n_tokens"] for r in rows)
    assert total <= 10000
    # greedy optimality: no excluded doc could still fit the budget
    all_rows = {
        r["doc_id"]: r["n_tokens"]
        for r in CATALOG["token_stats"].fn(spark, SF_SMOKE).collect()
    }
    kept = {r["doc_id"] for r in rows}
    best_excluded = max(
        (tok for d, tok in all_rows.items() if d not in kept), default=0
    )
    worst_kept = min((r["n_tokens"] for r in rows), default=0)
    assert worst_kept >= 0 and (best_excluded <= worst_kept or total + best_excluded > 10000)


def test_rank_with_ties_has_real_ties(spark):
    """dense_rank must diverge from rank somewhere — proving the
    fixture actually exercises tie semantics, not just row numbering."""
    rows = CATALOG["rank_with_ties"].fn(spark, SF_SMOKE).collect()
    assert any(r["rnk"] != r["drnk"] for r in rows)


def test_profile_orders_single_pass_expand(spark):
    """The multi-distinct profile must be ONE aggregation over the scan
    (Expand replicates rows per distinct-aggregate map-side) — four
    separate passes would show four FileScans."""
    df = CATALOG["profile_orders"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 1, plan
    assert "Expand" in plan, plan


def test_binned_quantiles_histogram_not_fact_window(spark):
    """The quantile estimate must come from a histogram aggregation of
    the facts (partial map-side combine) with windows only over the
    bucket relation — the fact table itself is never windowed or
    sorted, and a sanity check pins the estimate near the exact
    percentile within one bin width."""
    df = CATALOG["binned_quantiles"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "partial_count" in plan, plan
    rows = {r["event_type"]: r for r in df.collect()}
    exact = {
        r["event_type"]: r
        for r in CATALOG["value_percentiles"].fn(spark, SF_SMOKE).collect()
    }
    for et, r in rows.items():
        if et in exact and "p50" in exact[et].asDict():
            assert abs(r["q_50"] - exact[et]["p50"]) <= 0.5 + 1e-9


def test_bm25_broadcasts_query_terms(spark):
    """Retrieval must prune postings to the tiny query vocabulary
    (Q<<N) BEFORE any aggregation — the r4 shape aggregated the full
    corpus postings (a corpus-vocabulary-wide shuffle Catalyst cannot
    eliminate, since joins don't push below aggregates) and then
    pruned; the query terms are collected once (the documented Q<<N
    contract) so the prune is an IN literal inside the scan stage.

    r5 df shape: the candidate relation is lazily checkpointed (one
    corpus tokenize) and document frequency is a ≤|query-vocab|-row
    re-aggregation of it, broadcast back alongside the precomputed
    idf/avg_len — TWO broadcast hash joins (termstats + the
    driver-local qterms pairs) and no candidate-wide df window, which
    previously re-shuffled and sorted the whole candidate relation."""
    df = CATALOG["bm25_topk"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    # exactly two broadcast hash joins: per-term idf/avg_len stats and
    # the driver-local qterms pairs — both query-vocabulary-sized
    assert plan.count("BroadcastHashJoin") == 2, plan
    # the term prune is a literal IN/INSET filter, not a join
    assert " INSET " in plan or " IN (" in plan, plan
    # the final top-k executes as a group-limit, not a full window sort
    assert "WindowGroupLimit" in plan, plan
    # stats branch is the only parquet scan left in the scoring plan:
    # the candidate subtree reads the checkpointed RDD (ExistingRDD /
    # LogicalRDD), never re-scans or re-tokenizes the corpus — the tf
    # partial aggregation lives in the checkpointed subplan, which
    # materializes exactly once for its two consumers
    assert plan.count("Scan parquet") <= 1, plan
    assert "ExistingRDD" in plan, plan


def test_weighted_sample_is_take_ordered(spark):
    """The weighted sample's global top-k must execute as TakeOrdered
    (per-partition heap + k-row merge), never a full global sort."""
    df = CATALOG["weighted_sample"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """Spark's runtime bloom-filter injection: a selective non-broadcast
    join builds a bloom filter from the small side and applies it to
    the fact scan side, cutting shuffle volume — the row-level runtime
    pruning story for joins AQE can't broadcast. Thresholds lowered so
    the toy fixture takes the same path a 100 TB join would."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        # default requires a >=10GB application-side scan before the
        # filter pays for itself; the toy fixture models the 100 TB case
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
            F.col("o_totalprice") > 400000.0
        )
        joined = lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_topk_windows_push_group_limits(spark):
    """rank<=k filters over windows must trigger WindowGroupLimit:
    each map task pre-prunes to the per-group top-k BEFORE the window
    shuffle/sort, so the exchange carries k rows per group per task
    instead of whole groups — the optimization that keeps per-doc/
    per-group top-k linear at corpus scale."""
    for name in (
        "topk_per_group",
        "tfidf_top_terms",
        "bm25_topk",
        "stratified_sample",
    ):
        df = CATALOG[name].fn(spark, SF_SMOKE)
        assert "WindowGroupLimit" in plan_of(df), name


def test_spread_is_noop_on_wide_scans(spark, tmp_path):
    """_spread rebalances only NARROW scans (the single-file testdata
    case). On a multi-split input — the normal state at cluster scale —
    it must return the frame unchanged: no repartition, no shuffle."""
    from twitch_stream_data_pipeline_spark.plans.catalog import _spread

    path = str(tmp_path / "wide")
    parallelism = spark.sparkContext.defaultParallelism
    spark.range(0, 10000).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text") \
        .repartition(parallelism).write.parquet(path)
    wide = spark.read.parquet(path)
    assert wide.rdd.getNumPartitions() >= parallelism
    spread = _spread(wide, "doc_id")
    assert spread is wide  # identical object: no plan node added
    # and the narrow case does add the rebalance
    narrow = spark.read.parquet(path).coalesce(1)
    plan = _spread(narrow, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(doc_id" in plan, plan


def test_winnow_near_dup_is_bucketed_no_self_join(spark):
    """The winnowing pair plan must be the posting-list-bucket shape:
    one groupBy(fp) collecting members, pairs expanded IN-ARRAY inside
    each cap-bounded bucket — no join operator, no cartesian product,
    and the shuffled relation carries (fp, doc_id) hashes, never text.
    The fingerprint derivation itself must be a single projection over
    the scan (lambda-bound let expressions), not a chain of collapsible
    intermediate projections."""
    df = CATALOG["winnow_near_dup"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # both aggregations map-side combine
    assert "partial_" in plan, plan
    # one corpus scan feeds everything ("FileScan parquet" contains the
    # substring "Scan parquet", so count a single spelling)
    assert max(plan.count("FileScan"), plan.count("Scan parquet")) <= 1, plan


def test_bpe_token_stats_prunes_and_stays_scan_local(spark):
    """Token counting is a map-only projection: no shuffle beyond the
    deliberate _docs rebalance, no join, and the scan reads only the
    two referenced columns."""
    df = CATALOG["bpe_token_stats"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "Join" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_event_analytics_windows_are_partitioned(spark):
    """gapfill/anomaly/wow windows ride the group key — no
    single-partition exchange anywhere in their plans (the
    all-data-to-one-task shape global windows degrade to)."""
    from twitch_stream_data_pipeline_spark.plans import CATALOG

    for name in ("gapfill_15min", "anomaly_slots", "wow_growth"):
        plan = (
            CATALOG[name]
            .fn(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange SinglePartition" not in plan, name


def test_grouping_sets_single_expand_single_scan(spark):
    """GROUPING SETS plans as one Expand feeding one aggregate over
    one scan — not one scan per set."""
    from twitch_stream_data_pipeline_spark.plans import CATALOG

    plan = (
        CATALOG["grouping_sets_revenue"]
        .fn(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Expand") >= 1
    assert plan.count("FileScan parquet") == 1


def test_salted_join_no_fact_broadcast(spark):
    """The salted join's FACT side must never broadcast (the whole
    point is splitting a shuffle); only the replicated dim side may."""
    from twitch_stream_data_pipeline_spark.plans import CATALOG

    plan = (
        CATALOG["salted_join_brand_revenue"]
        .fn(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # lineitem is the fact: its scan must not sit under a broadcast
    # exchange; the part-side broadcast is acceptable at test scale
    fact_scan = plan.find("lineitem.parquet")
    assert fact_scan != -1
    bcast = plan.find("BroadcastExchange")
    if bcast != -1:
        # broadcast subtree must reference part, not lineitem
        sub = plan[bcast : bcast + 2000]
        assert "lineitem.parquet" not in sub
