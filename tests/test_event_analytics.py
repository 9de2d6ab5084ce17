"""Tests for the event-analytics operators (funnel, retention,
gap-fill) and the Levenshtein near-dup verify stage, against
hand-built fixtures and independent Python references.

(The registered catalog queries over these are additionally
differentially verified against DuckDB by test_oracle_parity.py.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from twitch_stream_data_pipeline_spark.extensions.dedup_text import (
    near_dup_verify,
)
from twitch_stream_data_pipeline_spark.operators.event_analytics import (
    funnel_stages,
    gapfill_forward,
    retention_cohorts,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, secs long, value double"
    )


# ---------------------------------------------------------------------------
# funnel_stages
# ---------------------------------------------------------------------------


def test_funnel_strict_ordering(spark):
    rows = [
        # u1 converts fully in order
        (1, "signup", 100, 0.0),
        (1, "click", 200, 0.0),
        (1, "purchase", 300, 0.0),
        # u2 clicked BEFORE signing up -> stalls at stage 1
        (2, "click", 50, 0.0),
        (2, "signup", 100, 0.0),
        (2, "purchase", 60, 0.0),
        # u3 signup+click, no purchase -> stage 2
        (3, "signup", 10, 0.0),
        (3, "click", 20, 0.0),
        # u4 never signed up -> not in the funnel at all
        (4, "click", 10, 0.0),
        (4, "purchase", 20, 0.0),
    ]
    out = {
        r["stage"]: r["n_users"]
        for r in funnel_stages(
            _ev(spark, rows), steps=("signup", "click", "purchase")
        ).collect()
    }
    assert out == {1: 3, 2: 2, 3: 1}


def test_funnel_greedy_earliest_is_complete(spark):
    """u1: signup@100, click@150, purchase@160. Greedy takes
    click@150 then purchase@160 — still converts. A user with a
    click only BEFORE the purchase-blocking point must not convert."""
    rows = [
        (1, "signup", 100, 0.0),
        (1, "click", 150, 0.0),
        (1, "purchase", 160, 0.0),
        # u2: purchase falls between signup and click -> no conversion
        (2, "signup", 100, 0.0),
        (2, "purchase", 120, 0.0),
        (2, "click", 150, 0.0),
    ]
    out = {
        r["stage"]: r["n_users"]
        for r in funnel_stages(
            _ev(spark, rows), steps=("signup", "click", "purchase")
        ).collect()
    }
    assert out == {1: 2, 2: 2, 3: 1}


def test_funnel_same_timestamp_not_counted(spark):
    """'Strictly after': a click at the same second as signup does not
    advance the funnel."""
    rows = [(1, "signup", 100, 0.0), (1, "click", 100, 0.0)]
    out = {
        r["stage"]: r["n_users"]
        for r in funnel_stages(_ev(spark, rows), steps=("signup", "click")).collect()
    }
    assert out == {1: 1, 2: 0}


# ---------------------------------------------------------------------------
# retention_cohorts
# ---------------------------------------------------------------------------


def test_retention_reference(spark):
    wk = 604800
    rows = [
        # u1 joins week 0, returns weeks 1 and 3
        (1, "view", 10, 0.0),
        (1, "view", wk + 5, 0.0),
        (1, "view", 3 * wk + 5, 0.0),
        # u2 joins week 0, never returns
        (2, "view", 20, 0.0),
        # u3 joins week 1, returns week 2
        (3, "view", wk + 50, 0.0),
        (3, "view", 2 * wk + 50, 0.0),
    ]
    out = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in retention_cohorts(_ev(spark, rows)).collect()
    }
    assert out == {
        (0, 0): 2,
        (0, 1): 1,
        (0, 3): 1,
        (1, 0): 1,
        (1, 1): 1,
    }


def test_retention_multiple_events_one_week_count_once(spark):
    rows = [(1, "view", 10, 0.0), (1, "view", 20, 0.0), (1, "view", 30, 0.0)]
    out = retention_cohorts(_ev(spark, rows)).collect()
    assert len(out) == 1 and out[0]["n_users"] == 1 and out[0]["week_offset"] == 0


# ---------------------------------------------------------------------------
# gapfill_forward
# ---------------------------------------------------------------------------


def test_gapfill_fills_gaps_and_flags_observed(spark):
    s = 900
    rows = [
        # type A: slots 0, 3 observed -> 1, 2 filled from slot 0
        (1, "A", 10, 1.5),
        (1, "A", 20, 2.5),  # same slot 0, sums to 4.0
        (1, "A", 3 * s + 1, 7.0),
        # type B: single slot
        (2, "B", 5 * s + 1, 9.0),
    ]
    out = {
        (r["event_type"], r["slot"]): (r["sum_value"], r["is_observed"])
        for r in gapfill_forward(_ev(spark, rows)).collect()
    }
    assert out == {
        ("A", 0): (4.0, 1),
        ("A", 1): (4.0, 0),
        ("A", 2): (4.0, 0),
        ("A", 3): (7.0, 1),
        ("B", 5): (9.0, 1),
    }


def test_gapfill_never_null(spark):
    rows = [(1, "A", 10, 1.0), (1, "A", 10 * 900 + 5, 2.0)]
    out = gapfill_forward(_ev(spark, rows))
    assert out.filter(F.col("sum_value").isNull()).count() == 0
    assert out.count() == 11  # slots 0..10 inclusive


# ---------------------------------------------------------------------------
# near_dup_verify
# ---------------------------------------------------------------------------


def test_near_dup_verify_reference(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # 1 sub
            (3, "completely different text with nothing shared"),
        ],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a long, doc_b long"
    )
    out = {
        (r["doc_a"], r["doc_b"]): r
        for r in near_dup_verify(docs, cands, max_dist_frac=0.2).collect()
    }
    # (1,2): 3 edits (dog->cat), len 43 -> frac ~0.07 -> kept
    assert (1, 2) in out and out[(1, 2)]["dist"] == 3
    assert abs(out[(1, 2)]["dist_frac"] - 3 / 43) < 1e-12
    # (1,3): far apart -> dropped
    assert (1, 3) not in out


def test_near_dup_verify_distance_unit_is_utf8_bytes(spark):
    """The distance unit is UTF-8 BYTES, matching DuckDB's byte-based
    levenshtein (round-10 fuzz-sweep finding): 'café' vs 'cafe' is 2
    (é is a 2-byte sequence replaced by a 1-byte one: one substitution
    + one deletion at the byte level), not the code-point 1 — and the
    denominator is the byte length 5, not the character length 4."""
    docs = spark.createDataFrame(
        [(1, "café"), (2, "cafe")], "doc_id long, text string"
    )
    cands = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    out = near_dup_verify(docs, cands, max_dist_frac=1.0).collect()
    assert len(out) == 1
    assert out[0]["dist"] == 2
    assert abs(out[0]["dist_frac"] - 2 / 5) < 1e-12


def test_near_dup_verify_respects_char_cap(spark):
    """Differences past max_chars are invisible — the DP cost bound."""
    base = "x " * 300  # 600 chars
    docs = spark.createDataFrame(
        [(1, base + "ending one"), (2, base + "totally other finale")],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    out = near_dup_verify(docs, cands, max_dist_frac=0.5, max_chars=500).collect()
    assert len(out) == 1 and out[0]["dist"] == 0


# ---------------------------------------------------------------------------
# dq_check
# ---------------------------------------------------------------------------


def test_dq_check_nulls_fail_closed(spark):
    from twitch_stream_data_pipeline_spark.operators.aggregates import dq_check

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 100.0), (4, 5.0)],
        "id long, qty double",
    )
    out = {
        r["rule"]: r
        for r in dq_check(
            df,
            {
                "qty_in_range": F.col("qty").between(1, 50),
                "qty_not_null": F.col("qty").isNotNull(),
                "id_positive": F.col("id") > 0,
            },
        ).collect()
    }
    # NULL qty violates the range rule (NOT TRUE), plus the 100.0 row
    assert out["qty_in_range"]["n_violations"] == 2
    assert out["qty_not_null"]["n_violations"] == 1
    assert out["id_positive"]["n_violations"] == 0
    assert all(r["n_rows"] == 4 for r in out.values())
    assert abs(out["qty_in_range"]["violation_frac"] - 0.5) < 1e-12


def test_dq_check_single_aggregation_plan(spark):
    """All rules ride one aggregate — the plan contains exactly one
    scan of the input relation."""
    from twitch_stream_data_pipeline_spark.operators.aggregates import dq_check

    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("m"))
    plan = (
        dq_check(df, {"a": F.col("m") < 5, "b": F.col("id") < 90})
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.lower().count("range (0, 100") == 1


# ---------------------------------------------------------------------------
# hll_mergeable_rollup
# ---------------------------------------------------------------------------


def test_hll_merge_equals_direct_and_tracks_exact(spark):
    """Union of per-day sketches == one direct sketch of all data
    (mergeability is exact, not approximate), and the estimate tracks
    the true distinct count within HLL tolerance."""
    from twitch_stream_data_pipeline_spark.plans import CATALOG

    from .conftest import SF_SMOKE

    out = {
        r["event_type"]: r
        for r in CATALOG["hll_mergeable_rollup"].fn(spark, SF_SMOKE).collect()
    }
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    direct = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"),
            F.count_distinct("user_id").alias("exact"),
        )
        .collect()
    }
    assert set(out) == set(direct)
    for t, r in out.items():
        assert r["est_users"] == direct[t]["est"], t  # merge == direct
        exact = direct[t]["exact"]
        assert abs(r["est_users"] - exact) <= max(2, 0.05 * exact), t


# ---------------------------------------------------------------------------
# ts_pattern_search
# ---------------------------------------------------------------------------


def test_ts_pattern_search_finds_planted_spike(spark):
    """A two-slot spike planted at slot 20 on a flat-noise series must
    rank first for the [0,0,0,1,1,0,0,0] template, window aligned so
    the spike sits at offsets 3-4 (start slot 17); scale invariance:
    a 10x larger spike in another group scores the same shape."""
    import random

    from twitch_stream_data_pipeline_spark.operators.event_analytics import (
        ts_pattern_search,
    )

    random.seed(3)
    rows = []
    for g, amp in (("A", 5.0), ("B", 50.0)):
        for slot in range(40):
            v = 100.0 + random.uniform(-0.5, 0.5)
            if slot in (20, 21):
                v += amp
            rows.append((g, slot, v))
    slots = spark.createDataFrame(
        rows, "event_type string, slot long, sum_value double"
    )
    out = ts_pattern_search(
        slots, pattern=[0, 0, 0, 1, 1, 0, 0, 0], k=4
    ).collect()
    top2 = {(r["event_type"], r["slot"]) for r in out[:2]}
    assert top2 == {("A", 17), ("B", 17)}
    # correlation is scale-free: both spikes score essentially equally
    assert abs(out[0]["similarity"] - out[1]["similarity"]) < 0.02
    assert out[0]["similarity"] > 0.9


# ---------------------------------------------------------------------------
# motif_discovery
# ---------------------------------------------------------------------------


def test_motif_discovery_finds_planted_repeat(spark):
    """A distinctive 8-slot shape planted twice (slots 10 and 40) on a
    flat-noise series must be the best non-overlapping window pair."""
    import random

    from twitch_stream_data_pipeline_spark.operators.event_analytics import (
        motif_discovery,
    )

    random.seed(5)
    shape = [3.0, 9.0, 1.0, 7.0, 2.0, 8.0, 4.0, 6.0]
    rows = []
    for slot in range(60):
        v = 50.0 + random.uniform(-0.3, 0.3)
        for start in (10, 40):
            if start <= slot < start + 8:
                v += 10 * shape[slot - start]
        rows.append(("A", slot, v))
    slots = spark.createDataFrame(
        rows, "event_type string, slot long, sum_value double"
    )
    out = motif_discovery(slots, window_len=8).collect()
    assert len(out) == 1
    r = out[0]
    # the two plants sit 30 slots apart; any same-offset window pair
    # overlapping them correlates ~1, so assert the alignment and that
    # the windows actually cover the planted shape
    assert r["slot_b"] - r["slot_a"] == 30
    assert 3 <= r["slot_a"] <= 17
    assert r["similarity"] > 0.99


def test_motif_discovery_null_head_windows_are_excluded(spark):
    """SQL-NULL parity (round-10 fuzz find): a gap-filled series whose
    first slots are NULL (nothing to forward-fill from) must behave as
    if every window overlapping them were dropped — the SQL twin nulls
    those windows' n2. Property: adding NULL head slots to a series
    changes nothing about the chosen pair (before the fix, the NaNs
    cast to garbage int64 and competed)."""
    import random

    from twitch_stream_data_pipeline_spark.operators.event_analytics import (
        motif_discovery,
    )

    random.seed(11)
    rows = []
    for slot in range(5, 60):
        v = 50.0 + random.uniform(-0.3, 0.3)
        for start in (12, 42):
            if start <= slot < start + 8:
                v += 10 * [3, 9, 1, 7, 2, 8, 4, 6][slot - start]
        rows.append(("A", slot, v))
    base = spark.createDataFrame(
        rows, "event_type string, slot long, sum_value double"
    )
    with_null_head = spark.createDataFrame(
        [("A", s, None) for s in range(5)] + rows,
        "event_type string, slot long, sum_value double",
    )
    got_base = motif_discovery(base, window_len=8).collect()
    got_null = motif_discovery(with_null_head, window_len=8).collect()
    assert len(got_base) == len(got_null) == 1
    assert got_base[0].asDict() == got_null[0].asDict()


def test_motif_discovery_too_short_group_emits_nothing(spark):
    from twitch_stream_data_pipeline_spark.operators.event_analytics import (
        motif_discovery,
    )

    rows = [("A", s, float(s)) for s in range(12)]  # < 2 windows of 8
    slots = spark.createDataFrame(
        rows, "event_type string, slot long, sum_value double"
    )
    assert motif_discovery(slots, window_len=8).count() == 0


# ---------------------------------------------------------------------------
# degenerate-input contract
# ---------------------------------------------------------------------------


def test_catalog_runs_on_empty_tables(spark, tmp_path):
    """Representative queries from every family must run (not crash)
    on schema-only tables — the degenerate-partition contract. The
    full-catalog sweep lives in tests/empty_sweep.py; this pins the
    members that historically crashed (the ANN family's empty query
    collect, the ORC empty-write read-back) plus one head per family."""
    from twitch_stream_data_pipeline_spark.plans import CATALOG

    from .conftest import SF_SMOKE

    out = tmp_path / "empty_sf"
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        spark.read.parquet(f"{SF_SMOKE}/{t}.parquet").limit(0).write.parquet(
            str(out / f"{t}.parquet")
        )
    names = [
        # historically crashing
        "cosine_knn", "ivf_knn", "ivf_knn_exact", "ivfpq_index_knn",
        "ivfpq_index_exact",
        "orc_roundtrip",
        # one representative per family
        "pricing_summary", "exact_dedup", "minhash_lsh_pairs",
        "dedup_clusters", "bm25_topk", "nb_lang_classifier",
        "semantic_dedup", "pretrain_pipeline", "global_row_index",
        "funnel_conversion", "gapfill_15min", "anomaly_slots",
        "ts_pattern_search", "motif_discovery", "triangle_count",
        "dq_expectations", "grouping_sets_revenue", "hll_mergeable_rollup",
        "vector_norm_arrow", "udtf_ngrams",
    ]
    for name in names:
        rows = CATALOG[name].fn(spark, str(out)).collect()  # must not raise
        if name in ("dq_expectations",):  # rule rows survive empty input
            assert len(rows) == 5


def test_funnel_within_window_constraint(spark):
    """Window constraint: a click 2h after signup converts under a 1h
    window only via a LATER signup... no — greedy first-touch takes
    the EARLIEST signup, so the late click is out of window and the
    user stalls (the documented product-analytics convention)."""
    rows = [
        # u1: click within the hour -> converts
        (1, "signup", 100, 0.0),
        (1, "click", 1500, 0.0),
        # u2: click 2h after the FIRST signup; a second signup 30 min
        # before the click exists, but first-touch ignores it
        (2, "signup", 100, 0.0),
        (2, "signup", 5500, 0.0),
        (2, "click", 7300, 0.0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, secs long, value double"
    )
    from twitch_stream_data_pipeline_spark.operators.event_analytics import (
        funnel_stages,
    )

    out = {
        r["stage"]: r["n_users"]
        for r in funnel_stages(
            ev, ("signup", "click"), within_secs=3600
        ).collect()
    }
    assert out == {1: 2, 2: 1}
    # without the window both convert
    out2 = {
        r["stage"]: r["n_users"]
        for r in funnel_stages(ev, ("signup", "click")).collect()
    }
    assert out2 == {1: 2, 2: 2}


# ---------------------------------------------------------------------------
# ADVICE r5 regression fixes
# ---------------------------------------------------------------------------


def test_dq_check_empty_relation_reports_zero(spark):
    """ADVICE r5: SUM over zero rows is NULL; an empty relation must
    report 0 violations and frac 0.0 (fail-closed COUNT semantics),
    never NULL."""
    from twitch_stream_data_pipeline_spark.operators.aggregates import dq_check

    df = spark.createDataFrame([], "id long, qty double")
    rows = dq_check(
        df,
        {"qty_in_range": F.col("qty").between(1, 50),
         "id_positive": F.col("id") > 0},
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["n_violations"] == 0
        assert r["n_rows"] == 0
        assert r["violation_frac"] == 0.0


def test_motif_discovery_honors_slot_col(spark):
    """ADVICE r5: find_motif hardcoded sort_values("slot"); a renamed
    slot column raised KeyError."""
    import random

    from twitch_stream_data_pipeline_spark.operators.event_analytics import (
        motif_discovery,
    )

    random.seed(5)
    shape = [3.0, 9.0, 1.0, 7.0, 2.0, 8.0, 4.0, 6.0]
    rows = []
    for slot in range(60):
        v = 50.0 + random.uniform(-0.3, 0.3)
        for start in (10, 40):
            if start <= slot < start + 8:
                v += 10 * shape[slot - start]
        rows.append(("A", slot, v))
    slots = spark.createDataFrame(
        rows, "event_type string, minute long, sum_value double"
    )
    out = motif_discovery(slots, window_len=8, slot_col="minute").collect()
    assert len(out) == 1 and out[0]["slot_b"] - out[0]["slot_a"] == 30


def test_motif_discovery_half_away_rounding(spark):
    """ADVICE r5: quantization must round half-away-from-zero (the
    Spark F.round / DuckDB convention), not numpy banker's rounding.
    Two planted windows are bit-identical after quantization ONLY
    under half-away ([0.5,1.5,2.5,...]*1 -> [1,2,3,...]); banker's
    would give [0,2,2,4,...] and break the exact correlation."""
    from twitch_stream_data_pipeline_spark.operators.event_analytics import (
        motif_discovery,
    )

    # mixed even/odd integer parts: banker's gives [10,22,30,42,...]
    # (a NON-affine distortion of exact, so corr < 1), half-away gives
    # [11,22,31,42,...] == exact bit-for-bit
    half = [10.5, 21.5, 30.5, 41.5, 10.5, 21.5, 30.5, 41.5]
    exact = [11.0, 22.0, 31.0, 42.0, 11.0, 22.0, 31.0, 42.0]
    rows = []
    for slot in range(40):
        # deterministic pseudo-noise background (integer-valued, so it
        # survives quant_scale=1): no two background windows are affine
        # images of each other, so only the plants correlate exactly 1.0
        v = float((slot * 7919) % 23)
        if 8 <= slot < 16:
            v = half[slot - 8]
        elif 24 <= slot < 32:
            v = exact[slot - 24]
        rows.append(("A", slot, v))
    slots = spark.createDataFrame(
        rows, "event_type string, slot long, sum_value double"
    )
    out = motif_discovery(slots, window_len=8, quant_scale=1).collect()
    assert len(out) == 1
    assert (out[0]["slot_a"], out[0]["slot_b"]) == (8, 24)
    assert out[0]["similarity"] == 1.0


def test_temperature_sample_null_sources_excluded_from_census(spark):
    """ADVICE r5: NULL-source rows used to be counted in the census
    (capable of setting c_min) while the equi-join silently dropped
    them. Now they are excluded up front: a tiny NULL group must not
    inflate other sources' keep rates."""
    from twitch_stream_data_pipeline_spark.extensions.sampling import (
        temperature_sample,
    )

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(100)]
    with_null = rows + [(9999, None)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    dfn = spark.createDataFrame(with_null, "doc_id long, source string")
    kept = sorted(r["doc_id"] for r in temperature_sample(df).collect())
    keptn = sorted(r["doc_id"] for r in temperature_sample(dfn).collect())
    # identical decisions: the 1-row NULL group neither joins out nor
    # perturbs the census (pre-fix it became c_min=1 and decimated both)
    assert kept == keptn
    # the smallest real source keeps 100%
    assert all(1000 + i in kept for i in range(100))


# ---------------------------------------------------------------------------
# interval_overlap_pairs / count_triangles (VERDICT r5 #2 scale fix)
# ---------------------------------------------------------------------------


def _naive_pairs(iv_rows):
    """Independent all-pairs reference for interval overlap."""
    out = set()
    for a in iv_rows:
        for b in iv_rows:
            if a["day"] == b["day"] and a["user_id"] < b["user_id"]:
                ov = min(a["hi"], b["hi"]) - max(a["lo"], b["lo"])
                if ov > 0:
                    out.add((a["day"], a["user_id"], b["user_id"], ov))
    return out


def test_interval_overlap_pairs_matches_naive(spark):
    """Slot-bucketed build == brute-force all-pairs on random
    intervals, including cross-slot spans, touching intervals
    (overlap 0, excluded), and identical-lo ties."""
    import random

    from twitch_stream_data_pipeline_spark.operators.event_analytics import (
        interval_overlap_pairs,
    )

    random.seed(11)
    rows = []
    for u in range(60):
        day = random.randint(0, 2)
        lo = day * 86400 + random.randint(0, 80000)
        hi = lo + random.choice([0, 10, 900, 1800, 5000])
        rows.append({"user_id": u, "day": day, "lo": lo, "hi": hi})
    # planted edge cases: exact touch (overlap 0) and equal lo
    rows += [
        {"user_id": 100, "day": 0, "lo": 1000, "hi": 2000},
        {"user_id": 101, "day": 0, "lo": 2000, "hi": 3000},  # touches 100
        {"user_id": 102, "day": 0, "lo": 1000, "hi": 5000},  # equal lo as 100
    ]
    iv = spark.createDataFrame(rows)
    got = {
        (r["day"], r["user_a"], r["user_b"], r["overlap_secs"])
        for r in interval_overlap_pairs(iv).collect()
    }
    assert got == _naive_pairs(rows)
    # the touching pair is excluded, the equal-lo pair included
    assert not any(p[1] == 100 and p[2] == 101 for p in got)
    assert any(p[1] == 100 and p[2] == 102 for p in got)


def test_interval_overlap_pairs_emits_each_pair_once(spark):
    """A pair sharing MANY slots (two all-day envelopes) appears
    exactly once — the later-starter predicate replaces distinct."""
    from twitch_stream_data_pipeline_spark.operators.event_analytics import (
        interval_overlap_pairs,
    )

    rows = [
        {"user_id": 1, "day": 0, "lo": 0, "hi": 86000},
        {"user_id": 2, "day": 0, "lo": 100, "hi": 85000},
        {"user_id": 3, "day": 0, "lo": 100, "hi": 40000},  # lo tie with 2
    ]
    out = interval_overlap_pairs(spark.createDataFrame(rows)).collect()
    pairs = [(r["user_a"], r["user_b"]) for r in out]
    assert sorted(pairs) == [(1, 2), (1, 3), (2, 3)]
    assert len(pairs) == len(set(pairs))


def test_interval_overlap_pairs_joins_on_slot_not_day(spark):
    """Plan shape: the pair build equi-joins on the 15-min slot (the
    concurrency key), NOT on the day bucket, and plans as a hash/SMJ
    equi-join — never a nested-loop cartesian. Per-task fan-out is
    therefore bounded by slot-cohort size, not day-cohort size."""
    from twitch_stream_data_pipeline_spark.operators.event_analytics import (
        interval_overlap_pairs,
    )

    rows = [{"user_id": u, "day": 0, "lo": 900 * u, "hi": 900 * u + 500}
            for u in range(20)]
    df = interval_overlap_pairs(spark.createDataFrame(rows))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    import re

    assert re.search(r"slot#\d+L? = slot#\d+L?", plan), plan
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in physical
    assert "CartesianProduct" not in physical
    # disjoint intervals: no output, and the only join key is the slot
    assert df.count() == 0


def test_count_triangles_known_graphs(spark):
    from twitch_stream_data_pipeline_spark.extensions.graph import (
        count_triangles,
    )

    def tri(edges):
        df = spark.createDataFrame(edges, "ea long, eb long")
        return count_triangles(df).collect()[0]["n_triangles"]

    # K4: 4 triangles
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert tri(k4) == 4
    # star (hub 0, leaves 1..6): 0 triangles despite the degree-6 hub
    assert tri([(0, i) for i in range(1, 7)]) == 0
    # wheel W5: hub 0 + 5-cycle 1..5 -> 5 triangles
    cycle = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 5)]
    assert tri([(0, i) for i in range(1, 6)] + cycle) == 5
    # two disjoint triangles
    assert tri([(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]) == 2


# ---------------------------------------------------------------------------
# ntile_scalable (the rfm_segments two-phase quantile rank)
# ---------------------------------------------------------------------------


def test_ntile_scalable_matches_window_ntile(spark):
    """Exact equivalence with F.ntile over the composite ordering, for
    n % k == 0, n % k != 0, n < k, and heavy duplicates in the order
    column (ties broken by id)."""
    import random

    from pyspark.sql import Window

    from twitch_stream_data_pipeline_spark.extensions.sampling import (
        ntile_scalable,
    )

    random.seed(17)
    for n, k in [(100, 5), (103, 5), (3, 5), (64, 4), (7, 7)]:
        rows = [(i, random.randint(0, 9)) for i in range(n)]
        df = spark.createDataFrame(rows, "id long, v long").repartition(8)
        got = {
            r["id"]: r["q"]
            for r in ntile_scalable(df, k, "v", ("id",), out_col="q").collect()
        }
        w = Window.orderBy("v", "id")
        want = {
            r["id"]: r["q"]
            for r in df.select("id", F.ntile(k).over(w).alias("q")).collect()
        }
        assert got == want, (n, k)


def test_ntile_scalable_no_global_data_window(spark):
    """The data-sized relation is ranked inside range buckets (the
    row_number window partitions by __b); only the buckets-sized count
    relation sees an unpartitioned window."""
    from twitch_stream_data_pipeline_spark.extensions.sampling import (
        ntile_scalable,
    )

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 7 % 1000).alias("v")
    )
    out = ntile_scalable(df, 5, "v", ("id",), out_col="q")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the row_number ranking the full data is bucket-partitioned
    assert "row_number() windowspecdefinition(__b" in plan.replace(
        "#", ""
    ).replace("L", "").lower() or "partitionBy" not in plan, plan
    # behavior: tiles are contiguous and sized per the SQL formula
    sizes = sorted(
        r["c"] for r in out.groupBy("q").agg(F.count("*").alias("c")).collect()
    )
    assert sizes == [200] * 5


def test_ntile_scalable_empty_and_reserved(spark):
    import pytest as _pytest

    from twitch_stream_data_pipeline_spark.extensions.sampling import (
        ntile_scalable,
    )

    empty = spark.createDataFrame([], "id long, v long")
    assert ntile_scalable(empty, 5, "v", ("id",)).count() == 0
    bad = spark.range(3).select(F.col("id"), F.lit(1).alias("__b"))
    with _pytest.raises(ValueError, match="reserved"):
        ntile_scalable(bad, 5, "id")


def test_count_triangles_random_graphs_match_bruteforce(spark):
    """Degree-oriented distributed count == O(n^3) brute force on
    random graphs across densities (including hubs and isolated
    vertices)."""
    import itertools
    import random

    from twitch_stream_data_pipeline_spark.extensions.graph import (
        count_triangles,
    )

    for seed, n, p in [(1, 12, 0.2), (2, 15, 0.5), (3, 10, 0.9)]:
        rng = random.Random(seed)
        edges = [
            (a, b)
            for a, b in itertools.combinations(range(n), 2)
            if rng.random() < p
        ]
        want = sum(
            1
            for a, b, c in itertools.combinations(range(n), 3)
            if (a, b) in set(edges) and (b, c) in set(edges) and (a, c) in set(edges)
        )
        df = spark.createDataFrame(edges, "ea long, eb long")
        got = count_triangles(df).collect()[0]["n_triangles"]
        assert got == want, (seed, got, want)


def test_interval_overlap_pairs_keys_on_day_not_just_slot(spark):
    """Within-day OFFSET intervals (lo/hi in [0, 86400] under distinct
    day labels) share slot numbers across days; the day column rides
    the join key so such rows never pair (code-review r6 regression)."""
    from twitch_stream_data_pipeline_spark.operators.event_analytics import (
        interval_overlap_pairs,
    )

    rows = [
        {"user_id": 1, "day": 0, "lo": 100, "hi": 200},
        {"user_id": 2, "day": 1, "lo": 150, "hi": 250},  # same slot, other day
        {"user_id": 3, "day": 1, "lo": 180, "hi": 300},  # overlaps user 2
    ]
    out = interval_overlap_pairs(spark.createDataFrame(rows)).collect()
    assert [(r["day"], r["user_a"], r["user_b"]) for r in out] == [(1, 2, 3)]


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------


def test_pagerank_reference_and_determinism(spark):
    """Ranks match a pure-Python float power iteration within 1e-9 on
    a mixed graph, a ring is exactly uniform, ranks sum to ~1, and the
    decimal arithmetic is partition-count-independent (byte-identical
    at 2 vs 8 shuffle partitions)."""
    from twitch_stream_data_pipeline_spark.extensions.graph import pagerank

    # mixed graph: hub 0 + ring 1-2-3-4-1 + pendant 5 on 1
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (2, 3), (3, 4), (4, 1), (1, 5)]

    def py_pagerank(edges, iters=15, d=0.85):
        from collections import defaultdict

        adj = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        n = len(adj)
        r = {v: 1 / n for v in adj}
        for _ in range(iters):
            nxt = {}
            for v in adj:
                s = sum(r[u] / len(adj[u]) for u in adj[v])
                nxt[v] = (1 - d) / n + d * s
            r = nxt
        return r

    want = py_pagerank(edges)
    df = spark.createDataFrame(edges, "ea long, eb long")
    got = {r["vertex"]: float(r["rank"]) for r in pagerank(df).collect()}
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, v
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # hub 0 outranks the pendant leaf 5
    assert got[0] > got[5]

    # ring alone: exact uniformity (all ranks byte-identical decimals)
    ring = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "ea long, eb long"
    )
    ranks = {r["vertex"]: r["rank"] for r in pagerank(ring, iters=5).collect()}
    assert len(set(ranks.values())) == 1

    # partition independence: the decimal contract, byte for byte
    a = sorted(map(tuple, pagerank(df.repartition(2), iters=6).collect()))
    b = sorted(map(tuple, pagerank(df.repartition(8), iters=6).collect()))
    assert a == b


def test_pagerank_matches_unrolled_sql_oracle(spark, duck):
    """DuckDB relational differential for pagerank (the evidence
    upgrade from reference-equality-vs-Python): pagerank_oracle_sql
    unrolls the 15 int64 fixed-point rounds as chained CTEs, so the
    comparison is EXACT — same edges (the graded copresence_pairs
    build over the real events parquet), bit-identical fp vectors,
    identical (rank DESC, vertex) top-25. Staged for promotion into
    the catalog entry as round 9's window swap (see
    pagerank_oracle_sql's docstring)."""
    from twitch_stream_data_pipeline_spark.extensions.graph import (
        pagerank_oracle_sql,
    )
    from twitch_stream_data_pipeline_spark.plans.catalog import CATALOG

    from .conftest import SF_SMOKE

    edges_sql = """
      WITH iv AS (
        SELECT user_id,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS lo,
               MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS hi
        FROM events GROUP BY 1, 2
      )
      SELECT DISTINCT a.user_id AS ea, b.user_id AS eb
      FROM iv a JOIN iv b
        ON a.day = b.day AND a.user_id < b.user_id
      WHERE least(a.hi, b.hi) - greatest(a.lo, b.lo) > 0
    """
    got = [
        (r.vertex, r.rank)
        for r in CATALOG["pagerank_copresence"].fn(spark, SF_SMOKE).collect()
    ]
    want = duck.execute(pagerank_oracle_sql(edges_sql)).fetchall()
    assert len(got) == len(want) > 0
    # int64 fixed-point on both sides: exact equality, not tolerance
    assert got == [tuple(r) for r in want]
