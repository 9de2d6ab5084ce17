"""The query catalog: every operator from SURVEY.md §2 (and the §2.9
extensions) as a named (PySpark plan, DuckDB oracle SQL) pair over the
driver's synthetic star schema (FIXTURES.md §B).

Determinism rules that make Spark and DuckDB hash-identical:

- **Sums/avgs of doubles** go through ``DECIMAL(25,6)`` (exact,
  order-independent) and cast back to double — both engines produce
  the same bits regardless of partial-aggregation order. On the
  DuckDB side the cast back is ``CAST(CAST(x AS VARCHAR) AS DOUBLE)``:
  DuckDB's direct DECIMAL->DOUBLE cast double-rounds (int128 ->
  double, then a multiply by the scale) and can land 1 ULP off the
  correctly-rounded value Spark's BigDecimal route produces — the
  round-10 fuzz sweep caught a real instance. Decimal->VARCHAR is
  exact digits and VARCHAR->DOUBLE is strtod, i.e. correctly rounded.
- **Timestamps never appear in output**; date/slot derivations are
  epoch arithmetic (timezone-free), emitted as strings or bigints.
- **All hashes are md5-derived** (``conv(substr(md5(x),1,15),16,10)``
  == DuckDB ``('0x' || substr(md5(x),1,15))::BIGINT``), never
  engine-private hash functions.
- **Integer products stay < 2^62** (DuckDB errors on overflow rather
  than wrapping).
- **DuckDB integer SUMs are cast back to BIGINT** (DuckDB widens to
  HUGEINT, Spark keeps long).
- Every tie is broken explicitly (row_number orderings carry a key
  tiebreak).

Round 11 (VERDICT r10 #8): the 7,200-line monolith is split
mechanically by tier into ``catalog_base`` (registry + shared scan
helpers + determinism machinery) and seven part modules imported
below in the original registration order; this module re-exports
the full public surface, so every existing import path
(``plans.catalog.CATALOG``, the staged-oracle dicts, the private
test hooks) keeps working unchanged. ``EXPOSURE_ORDER`` and the
driver entry points stay here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .catalog_base import (  # noqa: F401 -- re-exported surface
    Query,
    CATALOG,
    _register,
    _t,
    _spread,
    _docs,
    _emb,
    _check_embedding_dim_contract,
    _EMB_CONTRACT_OK,
    _EPOCH_LO,
    _EPOCH_HI,
    _EVENTS_CONTRACT_OK,
    _check_events_epoch_contract,
    _events,
    _EVENTS_FALLBACK_DDL,
    _read_events_raw,
    _as_stream_dir,
    _decode_event_ts,
    _events_stream,
    dsum,
    _osum,
    _OSECS,
    _hhmm,
    _ohhmm,
)
from .catalog_core import *  # noqa: F401,F403 -- register + re-export
from .catalog_text import *  # noqa: F401,F403 -- register + re-export
from .catalog_index import *  # noqa: F401,F403 -- register + re-export
from .catalog_analytics import *  # noqa: F401,F403 -- register + re-export
from .catalog_dashboard import *  # noqa: F401,F403 -- register + re-export
from .catalog_advanced import *  # noqa: F401,F403 -- register + re-export
from .catalog_streaming import *  # noqa: F401,F403 -- register + re-export
from .catalog_streaming import (  # noqa: F401 -- private test hooks
    _STREAM_REPLAY_VIEWS,
    _stream_session_windows,
    _stream_window_counts,
    _stream_window_counts_plan,
)

# ===========================================================================
# Entry points consumed by __spark_entry__.py
# ===========================================================================

#: Exposure order for the external correctness harness, which grades only
#: the FIRST 50 entries of :func:`queries`. Registration order above is
#: thematic; this list is verification-priority order:
#:
#: 1. Queries that have never received a CORRECTNESS row (rounds 1-2
#:    registered them past the 50-query window) — every one is
#:    oracle-bearing and goes first.
#: 2. Oracle-bearing queries new this round.
#: 3. The previously-green core retained inside the window (the heavier
#:    plans, where a regression is most likely).
#: 4. Long-stable trivial greens rotated past position 50 (two rounds of
#:    green evidence; still covered by the in-repo pytest oracle run,
#:    ``tests/test_catalog_oracle.py``).
#: 5. ``no_oracle``-by-design queries last — the harness can never grade
#:    them, so they must not occupy one of the 50 gradable slots.
#:
#: ``tests/test_catalog_order.py`` asserts this list is a permutation of
#: ``CATALOG`` and that the first 50 are all oracle-bearing.
EXPOSURE_ORDER: tuple[str, ...] = (
    # ======================================================================
    # ROUND-6 ROTATION (VERDICT r5 #1, executing the plan written in the
    # round-5 section-4b comment): the ENTIRE never-driver-graded block —
    # all 38 oracle-bearing queries registered mid-round-5 after the
    # graded window froze — rotates into the 50-slot window, plus the two
    # new materialized-index entries (ivf_index_knn per VERDICT r5 #3,
    # its near-dup twin lsh_index_probe, and the two incremental
    # ingest gates dedup_ingest / embedding_ingest): 42 first-time
    # slots. Rotated OUT to section 3: 42 long-stable greens,
    # every one carrying >= 3 rounds of green driver evidence
    # (r03+r04+r05 at minimum; several r01-r05). After this round's run
    # NO oracle-bearing query in the catalog lacks driver CORRECTNESS
    # evidence — the wave-2 plan VERDICT r5 #4 asked for is unnecessary
    # because the full debt fits one window.
    #
    # ROUND-7 EXECUTION of the plan written last round: the window is
    # held STABLE — all 42 round-6 first-timers keep their exact slots
    # for a second consecutive grade (the window-stability rule). The
    # ONE change permitted by that rule: the new round-7 oracle query
    # ivfpq_index_exact (the on-disk IVF+PQ layout in exact mode,
    # VERDICT r6 #2) takes the slot of bm25_topk, the retained query
    # with the MOST prior evidence (green r03/r04/r05/r06 — four
    # rounds); bm25_topk moves to the head of section 3, still
    # pytest-oracle-covered every session. No single-grade first-timer
    # moved. The tests/test_catalog_order.py invariant (window + prior
    # green rounds covers every oracle-bearing query) enforces this
    # mechanically: a new oracle query registered past the window
    # fails CI until it is swapped in.
    #
    # ROUND-8 PLAN: after the r07 run, every r06 first-timer holds TWO
    # consecutive greens and becomes rotation-eligible under the same
    # rule as the section-3 tail (>= 2 green rounds + the every-session
    # pytest oracle). ivfpq_index_exact will hold one green and must
    # stay in-window for its second grade. Any new round-8
    # oracle-bearing query takes the most-evidenced retained slot
    # first (trailing_hour_sum will hold 4 greens, then
    # winnow_near_dup / stratified_sample / ivf_knn_exact /
    # multimodal_decode at 3+), never a slot from a query with fewer
    # than two grades.
    #
    # ROUND-8 EXECUTION of that plan: the window is held STABLE —
    # all 42 round-6 first-timers keep their exact slots for a third
    # consecutive grade, and ivfpq_index_exact keeps its slot for its
    # second. The ONE permitted change: the new round-8 oracle query
    # kmeans_assign_exact (the clustering tier's scoring kernel in
    # exact mode, VERDICT r7 #1) takes trailing_hour_sum's slot —
    # precisely the most-evidenced retainee (green r04/r05/r06/r07,
    # four rounds) the plan above named; trailing_hour_sum moves to
    # the head of section 3, still pytest-oracle-covered every
    # session. tests/test_catalog_order.py enforces the first-timer
    # positions and the out-of-window evidence rule mechanically.
    # ======================================================================
    # -- 1a. flagship round-5 tiers, priority order per the r5 plan
    "pretrain_pipeline",
    "nb_lang_classifier",
    "semantic_dedup",
    "duplicate_spans",
    "bigram_logprob",
    "global_row_index",
    "funnel_conversion",
    "gapfill_15min",
    "anomaly_slots",
    "ts_pattern_search",
    "motif_discovery",
    "embedding_covariance",
    # -- 1b. remaining event-analytics / graph tier (copresence_pairs and
    #    triangle_count carry the round-6 slot-bucketed interval-join
    #    rewrite — first grade lands on the NEW plan shape)
    "retention_cohorts",
    "funnel_within_window",
    "funnel_stage_latency",
    "seasonal_residuals",
    "copresence_pairs",
    "triangle_count",
    "session_window_native",
    # -- 1c. remaining sampling / join / SQL-surface tier
    "temperature_mixture",
    "orc_roundtrip",
    "salted_join_brand_revenue",
    "near_dup_verified",
    "grouping_sets_revenue",
    "unpivot_metrics",
    "wow_growth",
    "dq_expectations",
    "null_safe_join",
    # -- 1d. UDF-surface tier (three Python execution tiers + UDTF)
    "vector_norm_udf",
    "vector_norm_arrow",
    "udtf_ngrams",
    # -- 1e. statistics / BI tier
    "skew_report_lang",
    "chi_square_lang_source",
    "column_correlations",
    "pareto_abc",
    "rfm_segments",
    "basket_affinity",
    "curation_report",
    # -- 1f. new round 6: the two materialized index layouts in exact
    #    mode (IVF cells for ANN; MinHash-LSH postings for near-dup —
    #    lsh_index_probe took the window slot corpus_curation held
    #    earlier this round; corpus_curation (3 green rounds) moved to
    #    the head of section 3)
    "ivf_index_knn",
    "lsh_index_probe",
    "dedup_ingest",
    "embedding_ingest",
    # -- 2. retained in-window (8 as of r12): two round-6 retainees
    #    holding for consecutive grades, the round-7 swap-in
    #    ivfpq_index_exact (five greens r07-r11), the round-8 swap-in
    #    kmeans_assign_exact (four greens r08-r11), the round-9
    #    swap-in pagerank_copresence (three greens r09-r11), the
    #    round-10 swap-in stream_window_counts (two greens r10/r11),
    #    the round-11 swap-in dash_hours_by_category (ONE green as of
    #    r11 — must stay for its second consecutive grade per the
    #    window-stability rule), and the one ROUND-12 swap-in
    #    pack_groups (VERDICT r11 next-round #1: A4, the only SURVEY
    #    §2 operator with no driver-graded row through eleven rounds —
    #    its RECURSIVE-CTE first-fit-decreasing oracle promoted from
    #    PACKING_STAGED_ORACLES into the registration, closing §2
    #    driver coverage entirely. It takes the slot of
    #    stratified_sample, a retainee with SIX green rounds r06-r11,
    #    tied for the most evidence of the section;
    #    stratified_sample moves to the head of section 3, still
    #    pytest-oracle-covered every session).
    #
    #    PROMOTION QUEUE for later rounds' single swaps (each already
    #    differentially pinned in pytest and sweep-resolvable via
    #    tests/conftest.graded_oracle): round 13 takes
    #    dash_streamers_by_day (the second QuickSight tile,
    #    DASHBOARD_STAGED_ORACLES, VERDICT r11 next-round #5), then
    #    stream_session_windows (STREAMING_STAGED_ORACLES), then
    #    dash_viewers_by_hour, then contract_checks — the round-12
    #    FOLD of embedding_dim_check / value_finite_check /
    #    embedding_finite_check (VERDICT r11 #8): one long-format
    #    union relation whose staged oracle is built from the three
    #    component staged SQLs, so ONE swap grades all three
    #    contracts and the individual locators become
    #    graded-via-the-fold (their own staged oracles remain pytest
    #    evidence) — then bpe_train_merges: queue drained two rounds
    #    earlier than per-locator promotion would. Eligible slot
    #    donors, most-evidenced first: ivf_knn_exact /
    #    multimodal_decode (7 greens after r12), ivfpq_index_exact
    #    (6), kmeans_assign_exact (5), pagerank_copresence (4),
    #    stream_window_counts (3).
    "pagerank_copresence",
    "stream_window_counts",
    "dash_hours_by_category",
    "pack_groups",
    "ivf_knn_exact",
    "multimodal_decode",
    "ivfpq_index_exact",
    "kmeans_assign_exact",
    # ---------------- 50-query harness window ends here ----------------
    # -- 3. rotated out in rounds 6-12 (each >= 2 green driver rounds;
    #    all remain covered every session by
    #    tests/test_oracle_parity.py; stratified_sample (6 rounds
    #    r06-r11) gave its slot to pack_groups in round 12;
    #    variant_topk_props (5 rounds
    #    r06-r10) gave its slot to dash_hours_by_category in round 11;
    #    bpe_token_stats (5 rounds r05-r09) gave its to
    #    stream_window_counts in round 10; winnow_near_dup (4 rounds
    #    r05-r08) gave its to pagerank_copresence in round 9;
    #    trailing_hour_sum (4 rounds) gave its to kmeans_assign_exact
    #    in round 8; bm25_topk (4 rounds) gave its to
    #    ivfpq_index_exact in round 7; curate_events (4),
    #    corpus_curation (3) and dedup_clusters (3) gave theirs to the
    #    round-6 index/ingest queries)
    "stratified_sample",
    "variant_topk_props",
    "bpe_token_stats",
    "winnow_near_dup",
    "trailing_hour_sum",
    "bm25_topk",
    "curate_events",
    "corpus_curation",
    "dedup_clusters",
    "salted_distinct_users",
    "csv_roundtrip",
    "simhash_near_dup",
    "tfidf_top_terms",
    "frame_sample",
    "train_test_split",
    "pack_sequences",
    "mixture_sample",
    "decontaminate",
    "zscore_by_type",
    "repetition_stats",
    "pii_scrub",
    "chunk_documents",
    "above_avg_orders",
    "group_outliers_scalable",
    "unigram_logprob",
    "boilerplate_ratio",
    "canonical_dedup",
    "rank_with_ties",
    "budget_select",
    "profile_orders",
    "binned_quantiles",
    "weighted_sample",
    "json_props_stats",
    "scd2_intervals",
    "validity_filter",
    "dedup_keep_first",
    "star_revenue_by_region",
    "nearest_slot",
    "exact_dedup",
    "ngram_jaccard",
    "minhash_lsh_pairs",
    "simhash",
    "cosine_knn",
    "embedding_near_dup",
    "topk_per_group",
    "cube_volume",
    "asof_join_click_attribution",
    "range_join_quantity_buckets",
    # -- 4. rotated out in earlier rounds (r1-r5 green evidence;
    #    pytest-oracle coverage every session)
    "pricing_summary",
    "rollup_lineitem",
    "value_percentiles",
    "embedding_centroid",
    "intersect_users",
    "scalar_subquery_filter",
    "popularity_by_type",
    "semi_join_big_spenders",
    "pivot_status",
    "argmin_per_type",
    "running_total",
    "count_distinct_star",
    "sessionize",
    "full_outer_nation_counts",
    "text_quality",
    "window_15min",
    "upsert_delta",
    "delta_except_all",
    "sentinel_defaults",
    "language_dim_sentinel",
    "distinct_pairs",
    "anti_join_customers",
    "left_join_defaults",
    "day_dates_dim",
    "time_of_day_dim",
    "explode_words",
    "topk_customers",
    "positional_join",
    "token_stats",
    "lang_id",
    "doc_fingerprint",
    "binary_meta",
    # -- 5. no oracle by design (harness records rows-only). ivf_knn
    #    is the one entry SUPERSEDED for grading: it last ran under the
    #    harness in r02 as err:no_oracle, and its oracle-green twin
    #    ivf_knn_exact runs the same code path. It stays registered
    #    because bench.py times it in EXTENDED; its description names
    #    the twin and tests/test_catalog_order.py enforces that. The
    #    other superseded rows-only entries (lsh_knn, group_outliers,
    #    multimodal_features, approx_distinct_users) and the in-memory
    #    pq_knn / ivfpq_knn were deleted with the code only they
    #    reached.
    "ivf_knn",
    "hll_mergeable_rollup",
    "bpe_train_merges",
    "ivfpq_index_knn",
    "pca_project",
    # round 7 late additions (rows-only: iterative k-means and its
    # dependent sampler — the Lloyd loop's data-dependent round count
    # defeats the fixed-unroll oracle trick that promoted
    # pagerank_copresence in round 9; the scoring kernel itself is
    # oracle-graded as kmeans_assign_exact)
    "kmeans_clusters",
    "cluster_balanced_sample",
    # round 9 staged (VERDICT r8 #5): the dashboard tier over the
    # events-derived curated star. Registered oracle=None ONLY for
    # window discipline — full DuckDB oracles sit in
    # DASHBOARD_STAGED_ORACLES, differentially pinned every session in
    # tests/test_dashboard.py, queued for promotion via later rounds'
    # single window swaps. dash_hours_by_category was PROMOTED into
    # the graded window as round 11's single swap (its oracle moved
    # into the registration); this remaining pair stays staged.
    "dash_streamers_by_day",
    "dash_viewers_by_hour",
    # round 9 staged (beyond the brief): the streaming tier as a
    # harness-gradable artifact — a real availableNow Structured
    # Streaming replay whose complete-mode final state is the returned
    # DataFrame. stream_window_counts was PROMOTED into the graded
    # window as round 10's single swap; its stateful sibling
    # stream_session_windows (session_window state merging across
    # micro-batches, oracle byte-identical to the driver-green batch
    # twin session_window_native) stays registered oracle=None ONLY
    # for window discipline — its full DuckDB oracle sits in
    # STREAMING_STAGED_ORACLES, differentially pinned every session in
    # tests/test_streaming_catalog.py, queued in the promotion order
    # documented at the section-2 comment above.
    "stream_session_windows",
    # round 9 staged (the ragged-embedding probe's boundary gate):
    # oracle=None for window discipline, full oracle in
    # CONTRACT_STAGED_ORACLES, differential pinned in
    # tests/test_boundary_probes.py.
    "embedding_dim_check",
    # round 10 staged (the fact-column finiteness contract's locator —
    # see dsum's docstring): oracle=None for window discipline, full
    # oracle in CONTRACT_STAGED_ORACLES, differential pinned in
    # tests/test_boundary_probes.py.
    "value_finite_check",
    # round 10 staged (the vector-side finiteness locator, same
    # contract family and staging discipline).
    "embedding_finite_check",
    # round 12 staged (VERDICT r11 #8): the contract-locator FOLD —
    # the three gates above union-mapped into one long-format
    # relation, so ONE future window swap grades all three contracts.
    # oracle=None for window discipline; full oracle (built from the
    # three staged component SQLs) in CONTRACT_STAGED_ORACLES,
    # differential + fold==components equality pinned in
    # tests/test_boundary_probes.py.
    "contract_checks",
)


def _ordered() -> list[Query]:
    return [CATALOG[name] for name in EXPOSURE_ORDER]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.fn for q in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in _ordered() if q.oracle is not None}
