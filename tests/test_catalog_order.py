"""Invariants on the catalog's harness-exposure order.

The external correctness harness grades only the first 50 entries of
``queries()``. ``EXPOSURE_ORDER`` exists so every oracle-bearing query
rotates through that window; these tests keep the list honest as the
catalog grows.
"""

from __future__ import annotations

from twitch_stream_data_pipeline_spark.plans.catalog import (
    CATALOG,
    EXPOSURE_ORDER,
    oracle_sql,
    queries,
)

HARNESS_WINDOW = 50


def test_exposure_order_is_permutation_of_catalog():
    assert sorted(EXPOSURE_ORDER) == sorted(CATALOG), (
        set(EXPOSURE_ORDER) ^ set(CATALOG)
    )
    assert len(set(EXPOSURE_ORDER)) == len(EXPOSURE_ORDER)


def test_first_window_is_all_oracle_bearing():
    window = EXPOSURE_ORDER[:HARNESS_WINDOW]
    missing = [n for n in window if CATALOG[n].oracle is None]
    assert not missing, f"no_oracle queries waste gradable slots: {missing}"


def test_no_oracle_queries_registered_last():
    tail = EXPOSURE_ORDER[HARNESS_WINDOW:]
    no_oracle = [n for n, q in CATALOG.items() if q.oracle is None]
    assert set(no_oracle) <= set(tail)


def test_every_oracle_query_graded_or_in_window():
    """Round-6 closed the evidence debt and round-7 must keep it
    closed: every oracle-bearing query is either inside the current
    50-slot graded window or carries at least one green driver
    CORRECTNESS row from rounds 1-6 (r06 evidence pinned per VERDICT
    r6 #1). No query is ever two rounds old without driver
    evidence."""
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    graded = set()
    evidence = sorted(repo.glob("CORRECTNESS_r*.json"))
    assert len(evidence) >= 6  # r01-r06 exist; later rounds join as written
    for path in evidence:
        rows = json.load(open(path))
        graded |= {
            n
            for n, row in rows.items()
            if row.get("hash_match") or row.get("rows_match")
        }
    window = set(EXPOSURE_ORDER[:HARNESS_WINDOW])
    oracle_bearing = {n for n, q in CATALOG.items() if q.oracle}
    uncovered = oracle_bearing - window - graded
    assert not uncovered, uncovered


def test_r06_first_timers_hold_their_slots_for_a_second_grade():
    """The round-7 window-stability rule (VERDICT r6 #1): the 42
    queries first driver-graded in round 6 must keep their EXACT
    round-6 window positions so the r07 run gives each a second
    consecutive grade. Only the retained section (positions 44-49)
    may rotate."""
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    r06 = json.load(open(repo / "CORRECTNESS_r06.json"))
    earlier = set()
    for r in range(1, 6):
        earlier |= set(json.load(open(repo / f"CORRECTNESS_r0{r}.json")))
    first_timers = [n for n in r06 if n not in earlier]
    assert len(first_timers) == 42, len(first_timers)
    window = list(EXPOSURE_ORDER[:HARNESS_WINDOW])
    r06_order = list(r06)
    for name in first_timers:
        assert window.index(name) == r06_order.index(name), name


def test_rotated_out_oracle_queries_hold_two_green_rounds():
    """The rotation-eligibility rule (VERDICT r7 #2, the round-7
    section-2 plan comment): an oracle-bearing query may leave the
    50-slot graded window only after >= 2 green driver rounds in its
    history. Reads every CORRECTNESS_r*.json present, so each new
    driver round tightens the evidence automatically; a premature
    rotation (e.g. swapping out a one-green first-timer like
    ivfpq_index_exact after r07) fails here mechanically."""
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    green_rounds: dict[str, int] = {}
    evidence = sorted(repo.glob("CORRECTNESS_r*.json"))
    assert len(evidence) >= 7  # r01-r07 exist; later rounds join as written
    for path in evidence:
        for name, row in json.load(open(path)).items():
            if row.get("hash_match"):
                green_rounds[name] = green_rounds.get(name, 0) + 1
    window = set(EXPOSURE_ORDER[:HARNESS_WINDOW])
    premature = {
        name: green_rounds.get(name, 0)
        for name in EXPOSURE_ORDER[HARNESS_WINDOW:]
        if CATALOG[name].oracle is not None and green_rounds.get(name, 0) < 2
    }
    assert not premature, (
        f"oracle queries rotated out before two green driver rounds: "
        f"{premature}"
    )
    # and the inverse sanity: at most ONE in-window oracle query may be
    # evidence-free (the single per-round swap-in the stability rule
    # permits — round 8: kmeans_assign_exact; round 9:
    # pagerank_copresence, whose only driver history is rows-only)
    ungraded = [n for n in window if green_rounds.get(n, 0) == 0]
    assert len(ungraded) <= 1, ungraded


def test_stale_no_oracle_queries_document_their_graded_twin():
    """VERDICT r7 #5: a query whose ONLY driver history is
    err:no_oracle (it sat in the graded window before the
    no-oracle-in-window rule existed) must say so — its description
    names the oracle-graded successor, so the permanently-red-looking
    rows in CORRECTNESS_r01/r02 can't be misread as open failures."""
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    ran_no_oracle = set()
    for path in sorted(repo.glob("CORRECTNESS_r*.json")):
        for name, row in json.load(open(path)).items():
            if row.get("err") == "no_oracle":
                ran_no_oracle.add(name)
    stale = {
        n for n in ran_no_oracle if n in CATALOG and CATALOG[n].oracle is None
    }
    assert stale == {"ivf_knn"}, stale
    undocumented = [
        n for n in stale if "SUPERSEDED" not in CATALOG[n].doc
    ]
    assert not undocumented, undocumented


def test_queries_and_oracles_follow_exposure_order():
    assert list(queries()) == list(EXPOSURE_ORDER)
    oracles = oracle_sql()
    assert list(oracles) == [n for n in EXPOSURE_ORDER if CATALOG[n].oracle]
    assert all(sql for sql in oracles.values())


def test_cli_list_and_lookup():
    """The CLI runner's non-Spark paths: full list, tag filter, oracle
    print, and the unknown-name hint."""
    import io

    import pytest as _pytest

    from twitch_stream_data_pipeline_spark.__main__ import main
    from twitch_stream_data_pipeline_spark.plans.catalog import EXPOSURE_ORDER

    buf = io.StringIO()
    assert main(["list"], out=buf) == 0
    assert len(buf.getvalue().strip().splitlines()) == len(EXPOSURE_ORDER)

    buf = io.StringIO()
    assert main(["list", "--tag", "variant"], out=buf) == 0
    assert "variant_topk_props" in buf.getvalue()

    buf = io.StringIO()
    assert main(["oracle", "pricing_summary"], out=buf) == 0
    assert "GROUP BY l_returnflag" in buf.getvalue()

    with _pytest.raises(SystemExit, match="did you mean.*pricing_summary"):
        main(["run", "pricing"])
    with _pytest.raises(SystemExit, match="no SQL oracle"):
        main(["oracle", "pca_project"])


def test_window_is_documented_r12_rotation():
    """VERDICT r11 next-round #1/#2: the round-12 window is the
    round-11 window held STABLE — the 42 round-6 first-timers keep
    their exact slots, ivfpq_index_exact holds (five greens r07-r11),
    kmeans_assign_exact holds (four greens r08-r11),
    pagerank_copresence holds (three greens r09-r11),
    stream_window_counts holds (two greens r10/r11) and
    dash_hours_by_category (one green, r11) for its second — with
    exactly ONE permitted change: pack_groups, the SURVEY §2 A4
    operator (the only §2 row without driver-graded evidence through
    eleven rounds) whose RECURSIVE-CTE first-fit-decreasing DuckDB
    oracle was staged in pytest during rounds 10-11, is promoted into
    the graded window (closing §2 driver coverage entirely) and takes
    the slot of stratified_sample, a retained query with six green
    rounds (r06-r11); stratified_sample joins the rotated-out tail.
    This pins the exact graded order for the r12 run."""
    expected = [
        # 1a flagship round-5 tiers
        "pretrain_pipeline", "nb_lang_classifier", "semantic_dedup",
        "duplicate_spans", "bigram_logprob", "global_row_index",
        "funnel_conversion", "gapfill_15min", "anomaly_slots",
        "ts_pattern_search", "motif_discovery", "embedding_covariance",
        # 1b event analytics / graph
        "retention_cohorts", "funnel_within_window",
        "funnel_stage_latency", "seasonal_residuals",
        "copresence_pairs", "triangle_count", "session_window_native",
        # 1c sampling / join / SQL surface
        "temperature_mixture", "orc_roundtrip",
        "salted_join_brand_revenue", "near_dup_verified",
        "grouping_sets_revenue", "unpivot_metrics", "wow_growth",
        "dq_expectations", "null_safe_join",
        # 1d UDF surface
        "vector_norm_udf", "vector_norm_arrow", "udtf_ngrams",
        # 1e statistics / BI
        "skew_report_lang", "chi_square_lang_source",
        "column_correlations", "pareto_abc", "rfm_segments",
        "basket_affinity", "curation_report",
        # 1f new round 6: the two materialized index layouts + the
        # incremental ingest gates over both
        "ivf_index_knn", "lsh_index_probe", "dedup_ingest",
        "embedding_ingest",
        # 2 retained (+ the r7 swap-in ivfpq_index_exact, + the r8
        # swap-in kmeans_assign_exact, + the r9 swap-in
        # pagerank_copresence, + the r10 swap-in stream_window_counts,
        # + the r11 swap-in dash_hours_by_category holding for its
        # second grade, + the one r12 swap-in pack_groups)
        "pagerank_copresence", "stream_window_counts",
        "dash_hours_by_category",
        "pack_groups", "ivf_knn_exact", "multimodal_decode",
        "ivfpq_index_exact", "kmeans_assign_exact",
    ]
    assert list(EXPOSURE_ORDER[:HARNESS_WINDOW]) == expected
    # rotated-out queries stay registered and oracle-bearing in the tail
    tail = set(EXPOSURE_ORDER[HARNESS_WINDOW:])
    rotated_out = {
        "stratified_sample",
        "variant_topk_props",
        "bpe_token_stats",
        "winnow_near_dup",
        "trailing_hour_sum",
        "bm25_topk",
        "curate_events", "corpus_curation", "dedup_clusters",
        "salted_distinct_users", "csv_roundtrip", "simhash_near_dup",
        "tfidf_top_terms", "frame_sample", "train_test_split",
        "pack_sequences", "mixture_sample", "decontaminate",
        "zscore_by_type", "repetition_stats", "pii_scrub",
        "chunk_documents", "above_avg_orders", "group_outliers_scalable",
        "unigram_logprob", "boilerplate_ratio", "canonical_dedup",
        "rank_with_ties", "budget_select", "profile_orders",
        "binned_quantiles", "weighted_sample", "json_props_stats",
        "scd2_intervals", "validity_filter", "dedup_keep_first",
        "star_revenue_by_region", "nearest_slot", "exact_dedup",
        "ngram_jaccard", "minhash_lsh_pairs", "simhash", "cosine_knn",
        "embedding_near_dup", "topk_per_group", "cube_volume",
        "asof_join_click_attribution", "range_join_quantity_buckets",
    }
    assert len(rotated_out) == 48
    for name in rotated_out:
        assert name in tail and CATALOG[name].oracle, name


def test_cli_verify_rejects_rows_only():
    import pytest as _pytest

    from twitch_stream_data_pipeline_spark.__main__ import main

    with _pytest.raises(SystemExit, match="no SQL oracle"):
        main(["verify", "pca_project"])


def test_cli_verify_max_rows_cap(spark):
    """VERDICT r4 #7: the differential refuses to collect results past
    --max-rows instead of OOMing the driver; under the cap it still
    reports MATCH."""
    import io

    import pytest as _pytest

    from twitch_stream_data_pipeline_spark.__main__ import main

    with _pytest.raises(SystemExit, match="max-rows"):
        main(
            [
                "verify",
                "pricing_summary",
                "--sf-dir",
                "/root/testdata/sf0.001",
                "--max-rows",
                "2",
            ]
        )

    buf = io.StringIO()
    assert (
        main(
            ["verify", "pricing_summary", "--sf-dir", "/root/testdata/sf0.001"],
            out=buf,
        )
        == 0
    )
    assert buf.getvalue().startswith("MATCH")


def test_catalog_part_modules_import_standalone():
    """Round-11 split invariant: every catalog part module must import
    on its own in a FRESH interpreter — a hidden cross-part reference
    that only resolves through the assembler's import order would make
    the module layout load-bearing in a way no reader expects (the
    explicit cross-part imports in each part's header are the
    contract). Subprocess per module because this session's interpreter
    already has every part cached in sys.modules."""
    import subprocess
    import sys

    parts = [
        "catalog_base", "catalog_core", "catalog_text", "catalog_index",
        "catalog_analytics", "catalog_dashboard", "catalog_advanced",
        "catalog_streaming",
    ]
    code = (
        "import importlib,sys\n"
        "for m in sys.argv[1:]:\n"
        "    importlib.import_module("
        "'twitch_stream_data_pipeline_spark.plans.'+m)\n"
        "print('ok')\n"
    )
    # one subprocess per part (not one for all: an earlier import must
    # not satisfy a later part's missing dependency)
    for part in parts:
        proc = subprocess.run(
            [sys.executable, "-c", code, part],
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert proc.returncode == 0 and proc.stdout.strip() == "ok", (
            part,
            proc.stderr[-1500:],
        )
