"""Boundary-semantics probes for graded oracles (round 9).

The ``session_window_native`` find (its ``>=`` oracle disagreed with
the engine's merge-at-exact-gap rule, and stayed green only because no
driver testdata generation contained an exact-gap pair — until sf0.1
did) showed that random testdata does not exercise boundary conditions:
exact ties, threshold equality, interval endpoints. These probes
manufacture fixtures that sit EXACTLY on each documented boundary and
run the full Spark-vs-DuckDB differential on them, so a latent
engine/oracle disagreement fails here, years before the data happens to
produce the boundary by chance.

Each probe also hand-pins the expected rows where the registration
documents a specific boundary rule — the differential alone proves the
two formulations agree, the pins prove they agree on the RIGHT answer.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from twitch_stream_data_pipeline_spark.plans import CATALOG

from .conftest import SF_SMOKE, TABLES, make_duck_views, normalize_rows


@pytest.fixture()
def probe_dir(spark, tmp_path):
    """A full sf-dir layout with ZERO-row copies of every table; each
    probe overwrites just the table(s) it manufactures."""
    for t in TABLES:
        spark.read.parquet(f"{SF_SMOKE}/{t}.parquet").limit(0).write.parquet(
            f"{tmp_path}/{t}.parquet"
        )
    return str(tmp_path)


def write_events(spark, probe_dir: str, rows):
    """rows: (event_id, secs, user_id, event_type, value)."""
    df = spark.createDataFrame(
        [(e, s * 1_000_000, u, t, v, "{}") for e, s, u, t, v in rows],
        "event_id bigint, ts_us bigint, user_id bigint, "
        "event_type string, value double, props string",
    ).select(
        "event_id",
        (F.col("ts_us") / 1_000_000).cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.write.mode("overwrite").parquet(f"{probe_dir}/events.parquet")


def run_differential(spark, probe_dir: str, name: str):
    """Run the registered query AND its registered oracle on the probe
    tables; assert value equality; return the Spark rows for pins."""
    q = CATALOG[name]
    sdf = q.fn(spark, probe_dir)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    con = make_duck_views(duckdb.connect(), probe_dir, glob_parts=True)
    res = con.execute(q.oracle)
    d_cols = [c[0].lower() for c in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols), (name, s_cols, d_cols)
    assert normalize_rows(s_rows, s_cols) == normalize_rows(
        d_rows, d_cols
    ), name
    return s_rows


T0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC (multiple of 86400)


def test_nearest_slot_boundaries(spark, probe_dir):
    """The documented rules, hit exactly: a half-slot tie (+450 s) goes
    to the EARLIER slot; 23:52:59 < cutoff clamps; 23:53:00 (85980)
    rolls to 0000; the last second of the day rolls too."""
    rows = [
        (1, T0 + 0, 1, "click", 1.0),       # slot start        -> 0000
        (2, T0 + 449, 1, "click", 1.0),     # just under tie    -> 0000
        (3, T0 + 450, 1, "click", 1.0),     # EXACT half-slot   -> 0000
        (4, T0 + 451, 1, "click", 1.0),     # just past tie     -> 0015
        (5, T0 + 85979, 1, "click", 1.0),   # 23:52:59, clamps  -> 2345
        (6, T0 + 85980, 1, "click", 1.0),   # 23:53:00, rolls   -> 0000
        (7, T0 + 86399, 1, "click", 1.0),   # last second       -> 0000
    ]
    write_events(spark, probe_dir, rows)
    got = dict(run_differential(spark, probe_dir, "nearest_slot"))
    # rows 1,2,3 round down to 0000; rows 6,7 roll over to 0000
    assert got == {"0000": 5, "0015": 1, "2345": 1}


def test_asof_join_equal_timestamp_and_tied_clicks(spark, probe_dir):
    """A click at EXACTLY the purchase's timestamp attributes only when
    its (ts, event_id) sorts at-or-before the purchase — and two clicks
    tied on ts resolve by the event_id tiebreak (the later id wins the
    last() over the (ts, event_id) ordering)."""
    rows = [
        # user 1: click id=10 at the same second as purchase id=11
        # -> (ts,10) < (ts,11): the click attributes, gap 0
        (10, T0 + 100, 1, "click", 1.0),
        (11, T0 + 100, 1, "purchase", 1.0),
        # user 2: purchase id=20 BEFORE click id=21 at the same second
        # -> (ts,21) > (ts,20): click does NOT attribute
        (20, T0 + 100, 2, "purchase", 1.0),
        (21, T0 + 100, 2, "click", 1.0),
        # user 3: two clicks tied on ts, purchase later: higher id wins
        (30, T0 + 100, 3, "click", 1.0),
        (31, T0 + 100, 3, "click", 1.0),
        (32, T0 + 200, 3, "purchase", 1.0),
    ]
    write_events(spark, probe_dir, rows)
    got = {
        r[0]: (r[2], r[3])
        for r in run_differential(
            spark, probe_dir, "asof_join_click_attribution"
        )
    }
    assert got[11] == (10, 0)
    assert got[20] == (None, None)
    assert got[32] == (31, 100 * 1_000_000)


def test_funnel_window_boundary_inclusive_at_exactly_24h(spark, probe_dir):
    """funnel_within_window: a step landing EXACTLY 86400 s after the
    previous one converts (<= in both formulations); 86401 does not;
    a click at the SAME second as the signup does not (strict >)."""
    rows = [
        # user 1: click exactly +86400 -> converts stage 2
        (1, T0, 1, "signup", 1.0),
        (2, T0 + 86400, 1, "click", 1.0),
        # user 2: click +86401 -> does NOT convert
        (3, T0, 2, "signup", 1.0),
        (4, T0 + 86401, 2, "click", 1.0),
        # user 3: click at the signup's second -> strict >, no convert
        (5, T0, 3, "signup", 1.0),
        (6, T0, 3, "click", 1.0),
        # user 1 purchase exactly +86400 after the click -> stage 3
        (7, T0 + 2 * 86400, 1, "purchase", 1.0),
    ]
    write_events(spark, probe_dir, rows)
    got = {r[1]: r[2] for r in run_differential(
        spark, probe_dir, "funnel_within_window"
    )}
    assert got == {"signup": 3, "click": 1, "purchase": 1}


def test_trailing_hour_sum_range_frame_boundaries(spark, probe_dir):
    """RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW: an event exactly
    3600 s earlier is IN the frame, 3601 s is out — and CURRENT ROW in
    RANGE mode includes ALL peers at the same second (the SQL-standard
    peers rule both engines must share), including 'later' event_ids."""
    rows = [
        (1, T0, 1, "click", 1.0),
        (2, T0 + 3600, 1, "click", 10.0),     # includes id 1 (exact 3600)
        (3, T0 + 7201, 1, "click", 100.0),    # id 2 is 3601 out -> alone
        (4, T0 + 7201, 1, "click", 1000.0),   # same-sec peer of id 3
    ]
    write_events(spark, probe_dir, rows)
    got = dict(
        (r[0], r[2])
        for r in run_differential(spark, probe_dir, "trailing_hour_sum")
    )
    assert got[1] == 1.0
    assert got[2] == 11.0
    # peers: BOTH same-sec rows see the full peer sum, not a prefix
    assert got[3] == 1100.0
    assert got[4] == 1100.0


def test_copresence_touching_intervals_excluded(spark, probe_dir):
    """Interval overlap is STRICT (> 0): two users whose daily spans
    touch at a single point (a.hi == b.lo) are NOT co-present; a 1-s
    overlap is; zero-length intervals never pair. This is the exact
    off-by-one the slot-bucketed reduction could get wrong."""
    rows = [
        # user 1: [0, 1000]; user 2: [1000, 2000] -> touching, excluded
        (1, T0, 1, "click", 1.0),
        (2, T0 + 1000, 1, "click", 1.0),
        (3, T0 + 1000, 2, "click", 1.0),
        (4, T0 + 2000, 2, "click", 1.0),
        # user 3: [1999, 3000] -> overlaps user 2 by 1 s
        (5, T0 + 1999, 3, "click", 1.0),
        (6, T0 + 3000, 3, "click", 1.0),
        # user 4: zero-length [500, 500] inside user 1's span -> never pairs
        (7, T0 + 500, 4, "click", 1.0),
    ]
    write_events(spark, probe_dir, rows)
    pairs = {
        (r[1], r[2]): r[3]
        for r in run_differential(spark, probe_dir, "copresence_pairs")
    }
    assert pairs == {(2, 3): 1}


def test_range_join_bucket_edges(spark, probe_dir):
    """(lo, hi] bucket semantics at the edges: quantity exactly 5 lands
    in bucket 0 (hi inclusive), exactly 50 in bucket 9, exactly 0 joins
    NO bucket (lo exclusive) and is dropped by the inner join."""
    src = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").limit(3)
    base = [tuple(r) for r in src.collect()]
    assert len(base) == 3
    qty_idx = src.columns.index("l_quantity")
    price_idx = src.columns.index("l_extendedprice")
    fixed = []
    for row, qty in zip(base, (0.0, 5.0, 50.0)):
        row = list(row)
        row[qty_idx] = qty
        row[price_idx] = 100.0
        fixed.append(tuple(row))
    spark.createDataFrame(fixed, src.schema).write.mode("overwrite").parquet(
        f"{probe_dir}/lineitem.parquet"
    )
    got = {
        r[0]: (r[1], r[2])
        for r in run_differential(
            spark, probe_dir, "range_join_quantity_buckets"
        )
    }
    assert got == {0: (1, 100.0), 9: (1, 100.0)}


def test_dq_expectations_null_fail_closed_and_range_edges(spark, probe_dir):
    """A violation is a row where the predicate is NOT TRUE: NULLs fail
    closed on every rule, and the range/threshold edges (quantity 1 and
    50, discount exactly 0.05) PASS."""
    src = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").limit(3)
    cols = src.columns
    base = [list(r) for r in src.collect()]
    assert len(base) == 3

    def set_(row, **kv):
        row = list(row)
        for k, v in kv.items():
            row[cols.index(k)] = v
        return tuple(row)

    fixed = [
        # all-edge PASS row
        set_(
            base[0],
            l_quantity=1.0,
            l_discount=0.05,
            l_extendedprice=0.01,
            l_returnflag="A",
        ),
        # other-edge PASS row
        set_(base[1], l_quantity=50.0, l_discount=0.0, l_returnflag="R"),
        # NULLs everywhere -> fails quantity/discount/price/shipdate/domain
        set_(
            base[2],
            l_quantity=None,
            l_discount=None,
            l_extendedprice=None,
            l_returnflag=None,
            l_shipdate=None,
        ),
    ]
    spark.createDataFrame(fixed, src.schema).write.mode("overwrite").parquet(
        f"{probe_dir}/lineitem.parquet"
    )
    got = {
        r[0]: r[1]
        for r in run_differential(spark, probe_dir, "dq_expectations")
    }
    assert got == {
        "quantity_in_range": 1,
        "discount_max_5pct": 1,
        "price_positive": 1,
        "shipdate_not_null": 1,
        "returnflag_domain": 1,
    }


def _write_ragged_embeddings(spark, probe_dir):
    base = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(20)
    ragged = spark.createDataFrame(
        [(999, [0.1, 0.2, 0.3], 1), (998, [], 2)],
        "vec_id bigint, embedding array<float>, label int",
    )
    base.unionByName(ragged).write.mode("overwrite").parquet(
        f"{probe_dir}/embeddings.parquet"
    )


def test_embedding_dim_check_locates_ragged_rows(spark, probe_dir):
    """The boundary gate on a ragged corpus: the per-dim histogram
    (engine vs the staged CONTRACT oracle) flags the 64-dim modal and
    exposes the 0- and 3-dim strays."""
    from twitch_stream_data_pipeline_spark.plans.catalog import (
        CONTRACT_STAGED_ORACLES,
    )

    _write_ragged_embeddings(spark, probe_dir)
    q = CATALOG["embedding_dim_check"]
    sdf = q.fn(spark, probe_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    con = make_duck_views(duckdb.connect(), probe_dir, glob_parts=True)
    res = con.execute(CONTRACT_STAGED_ORACLES["embedding_dim_check"])
    d_rows = res.fetchall()
    assert normalize_rows(s_rows, [c.lower() for c in sdf.columns]) == (
        normalize_rows(d_rows, [c[0].lower() for c in res.description])
    )
    assert s_rows == [(0, 1, False), (3, 1, False), (64, 20, True)]


def test_embedding_dim_check_reports_null_rows_as_dim_minus_one(
    spark, probe_dir
):
    """NULL embeddings are an explicit dim -1 group (never a NULL dim
    key, whose sort position differs between engines), and the probe
    raises on them too — size(NULL) is NULL, which min/max skip."""
    from twitch_stream_data_pipeline_spark.plans import catalog as cat
    from twitch_stream_data_pipeline_spark.plans.catalog import (
        CONTRACT_STAGED_ORACLES,
    )

    base = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(10)
    nulls = spark.createDataFrame(
        [(999, None, 1)], "vec_id bigint, embedding array<float>, label int"
    )
    base.unionByName(nulls).write.mode("overwrite").parquet(
        f"{probe_dir}/embeddings.parquet"
    )
    sdf = CATALOG["embedding_dim_check"].fn(spark, probe_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    assert s_rows == [(-1, 1, False), (64, 10, True)]
    con = make_duck_views(duckdb.connect(), probe_dir, glob_parts=True)
    res = con.execute(CONTRACT_STAGED_ORACLES["embedding_dim_check"])
    assert normalize_rows(s_rows, [c.lower() for c in sdf.columns]) == (
        normalize_rows(
            res.fetchall(), [c[0].lower() for c in res.description]
        )
    )
    with pytest.raises(ValueError, match="NULL embedding row"):
        cat._emb(spark, probe_dir)


def test_embedding_dim_contract_fails_loudly_on_ragged_corpus(
    spark, probe_dir
):
    """The hot reader's bounded probe: any _emb-reading query on a
    ragged corpus must fail with the NAMED contract error pointing at
    the boundary gate — never an opaque numpy shape error deep inside
    a worker."""
    from twitch_stream_data_pipeline_spark.plans import catalog as cat

    _write_ragged_embeddings(spark, probe_dir)
    with pytest.raises(ValueError, match="embedding dimension contract"):
        cat._emb(spark, probe_dir)
    # the gate itself must still run on the same corpus (raw read)
    assert CATALOG["embedding_dim_check"].fn(spark, probe_dir).count() == 3


def test_read_postings_empty_build_vs_stripped_layout(spark, tmp_path):
    """The zero-postings fallback is gated on provable emptiness: an
    index built over a zero-shingle corpus (all docs shorter than the
    shingle width) holds only id records and no band postings, and an
    index built over an empty corpus commits a root with no part files
    that reads as an empty relation; a layout whose band directories
    were STRIPPED out from under a surviving _params (no part files
    and no _SUCCESS) refuses loudly instead of silently re-emitting
    every redelivered document."""
    import shutil

    from twitch_stream_data_pipeline_spark.extensions.dedup_text import (
        _read_postings,
        build_lsh_index,
        lsh_index_probe,
    )

    docs = spark.createDataFrame(
        [(i, "ab") for i in range(4)], "doc_id bigint, text string"
    )
    built = str(tmp_path / "short_idx")
    build_lsh_index(docs, built)  # every doc < n words -> zero postings
    layout = _read_postings(spark, built)
    assert layout.filter("band >= 0").count() == 0
    assert sorted(
        r["doc_id"] for r in layout.filter("band = -1").collect()
    ) == [0, 1, 2, 3]
    # and the probe path over the posting-less index returns no candidates
    assert lsh_index_probe(spark, built, docs.limit(2)).count() == 0

    empty = str(tmp_path / "empty_idx")
    build_lsh_index(docs.limit(0), empty)
    assert _read_postings(spark, empty).count() == 0

    stripped = str(tmp_path / "stripped_idx")
    spark.read.parquet(f"{built}/_params").write.parquet(
        f"{stripped}/_params"
    )
    with pytest.raises(RuntimeError, match="no committed write"):
        _read_postings(spark, stripped)
    shutil.rmtree(stripped, ignore_errors=True)


def test_budget_select_exact_budget_and_tied_boundary_group(spark, probe_dir):
    """The keep-rule at the budget edge: cumulative tokens may equal the
    budget exactly (<=), and when the budget cuts INSIDE a group of
    equal-score docs the tie breaks by ascending doc_id — the engine's
    boundary-group sort must agree with the oracle's global cumsum."""
    src = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cols = src.columns
    # token counts: 4000 + 3000 = 7000; then three tied 1000-token docs
    # cut by the 10000 budget after TWO of them (7000+1000+1000 = 9000,
    # +1000 = 10000 exactly -> ALL three fit; then a 1-token doc busts).
    docs = [
        (1, 4000),
        (2, 3000),
        (10, 1000),
        (11, 1000),
        (12, 1000),
        (20, 1),
    ]
    rows = []
    for doc_id, n_tokens in docs:
        text = " ".join(["w"] * n_tokens)
        rows.append((doc_id, text, "en", "probe", len(text)))
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).select(*cols).write.mode("overwrite").parquet(
        f"{probe_dir}/documents.parquet"
    )
    got = {r[0] for r in run_differential(spark, probe_dir, "budget_select")}
    # 4000+3000+1000*3 = 10000 == budget exactly; the 1-token doc busts
    assert got == {1, 2, 10, 11, 12}


def test_pareto_abc_exact_class_edges_and_revenue_tie(spark, probe_dir):
    """ABC class assignment with cum_share landing EXACTLY on the 0.4
    and 0.8 edges (<= keeps the boundary brand in the better class) and
    a revenue TIE broken by brand name: revenues 40/40/20 of a 100
    total put the tied brands at cum 0.4 ('A') and 0.8 ('B')."""
    li_src = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").limit(3)
    part_src = spark.read.parquet(f"{SF_SMOKE}/part.parquet").limit(3)
    li_cols, part_cols = li_src.columns, part_src.columns
    parts = []
    for row, (key, brand) in zip(
        part_src.collect(), [(901, "PB1"), (902, "PB2"), (903, "PB3")]
    ):
        row = list(row)
        row[part_cols.index("p_partkey")] = key
        row[part_cols.index("p_brand")] = brand
        parts.append(tuple(row))
    spark.createDataFrame(parts, part_src.schema).write.mode(
        "overwrite"
    ).parquet(f"{probe_dir}/part.parquet")
    lis = []
    for row, (key, price) in zip(
        li_src.collect(), [(901, 40.0), (902, 40.0), (903, 20.0)]
    ):
        row = list(row)
        row[li_cols.index("l_partkey")] = key
        row[li_cols.index("l_extendedprice")] = price
        row[li_cols.index("l_discount")] = 0.0
        lis.append(tuple(row))
    spark.createDataFrame(lis, li_src.schema).write.mode(
        "overwrite"
    ).parquet(f"{probe_dir}/lineitem.parquet")
    got = {
        r[0]: (r[2], r[3])
        for r in run_differential(spark, probe_dir, "pareto_abc")
    }
    assert got == {
        "PB1": (0.4, "A"),   # tie with PB2, brand asc wins the A slot
        "PB2": (0.8, "B"),   # exactly 0.8 -> still B (<=)
        "PB3": (1.0, "C"),
    }


def test_skew_report_tie_at_the_top10_cut(spark, probe_dir):
    """The top-10 LIMIT with a tie ACROSS the cut: 12 languages of one
    doc each — ordering (n_rows DESC, lang asc) must keep exactly
    l01..l10 on both sides, never an engine-dependent pick."""
    langs = [f"l{i:02d}" for i in range(1, 13)]
    rows = [
        (i, f"doc text {i}", lang, f"src{i}", 10)
        for i, lang in enumerate(langs)
    ]
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.mode("overwrite").parquet(f"{probe_dir}/documents.parquet")
    got = [r for r in run_differential(spark, probe_dir, "skew_report_lang")]
    kept = sorted(r[0] for r in got)
    assert kept == langs[:10]


def test_budget_select_cut_inside_tied_group(spark, probe_dir):
    """Same operator, budget cutting MID-group: three tied 2000-token
    docs after 7000 leaves room for only one — the lowest doc_id of the
    tied group is kept, the rest dropped."""
    src = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cols = src.columns
    docs = [(1, 4000), (2, 3000), (10, 2000), (11, 2000), (12, 2000)]
    rows = []
    for doc_id, n_tokens in docs:
        text = " ".join(["w"] * n_tokens)
        rows.append((doc_id, text, "en", "probe", len(text)))
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).select(*cols).write.mode("overwrite").parquet(
        f"{probe_dir}/documents.parquet"
    )
    got = {r[0] for r in run_differential(spark, probe_dir, "budget_select")}
    assert got == {1, 2, 10}


def test_value_finite_check_locates_nonfinite_values(spark, probe_dir):
    """The fact-column finiteness boundary gate (round 10, the third
    contract locator after epoch and embedding-dim): on a corpus
    carrying NaN / +Inf / -Inf / NULL values the classifier must agree
    with its staged CONTRACT oracle and expose every class as its own
    (type, class, n) row."""
    from twitch_stream_data_pipeline_spark.plans.catalog import (
        CONTRACT_STAGED_ORACLES,
    )

    t0 = 1_704_067_200
    rows = [
        (1, t0 + 1, 1, "click", 1.0),
        (2, t0 + 2, 1, "click", float("nan")),
        (3, t0 + 3, 2, "click", float("inf")),
        (4, t0 + 4, 2, "view", float("-inf")),
        (5, t0 + 5, 3, "view", None),
        (6, t0 + 6, 3, "view", 2.5),
        (7, t0 + 7, 4, None, float("nan")),
    ]
    write_events(spark, probe_dir, rows)
    sdf = CATALOG["value_finite_check"].fn(spark, probe_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    con = make_duck_views(duckdb.connect(), probe_dir, glob_parts=True)
    res = con.execute(CONTRACT_STAGED_ORACLES["value_finite_check"])
    assert normalize_rows(s_rows, [c.lower() for c in sdf.columns]) == (
        normalize_rows(
            res.fetchall(), [c[0].lower() for c in res.description]
        )
    )
    assert set(s_rows) == {
        ("click", "finite", 1),
        ("click", "nan", 1),
        ("click", "inf", 1),
        ("view", "-inf", 1),
        ("view", "null", 1),
        ("view", "finite", 1),
        (None, "nan", 1),
    }


def test_dsum_masks_nonfinite_exactly_as_documented(spark):
    """The behavior the finiteness contract exists to gate (pinned so
    it is a stated fact, never a surprise): Spark's double->decimal
    cast turns NaN/±Inf into NULL even under ANSI, so dsum SILENTLY
    SKIPS them — while the identical DuckDB cast in _osum RAISES. A
    corpus that fails value_finite_check therefore does not have
    comparable decimal-routed aggregates at all; the locator, not the
    sum, is the loud path."""
    from twitch_stream_data_pipeline_spark.plans.catalog import _osum, dsum

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame(
        [(1.0,), (float("nan",),), (float("inf"),), (float("-inf"),), (2.0,)],
        "v double",
    )
    [row] = df.select(dsum("v").alias("s")).collect()
    assert row.s == 3.0  # 1.0 + 2.0: the three non-finite rows skipped

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW t AS SELECT * FROM (VALUES (1.0), ('nan'::DOUBLE)) x(v)"
    )
    with pytest.raises(duckdb.Error):
        con.execute(f"SELECT {_osum('v')} FROM t").fetchall()


def test_null_head_series_window_parity(spark, probe_dir):
    """Adversarial NULL-head fixture (round-10 review find): when a
    group's FIRST observed slots sum to NULL, the gap-filled series
    keeps a NULL head, and windows overlapping it must be dropped by
    BOTH sides. Spark drops them via `+`-chain NULL propagation;
    DuckDB's list_sum IGNORES NULLs, so before the explicit
    any-NULL-drops gate the oracle kept those windows with partial
    sums — on this flat-then-step shape a head-overlapping window
    outscored every legitimate pair and the motif/pattern oracles
    disagreed with their engines."""
    # Sharpness verified against the PRE-FIX oracle gate (WHERE wv[8]
    # IS NOT NULL): on this exact pulse shape the old motif oracle
    # picks a head-overlapping pair at similarity 0.935 (a window with
    # a single non-NULL element correlates ±1-ish through the partial
    # zip-product) while the engine picks a legitimate pair at -0.218,
    # and the old ts_pattern_search top-10 membership shifts — so this
    # test FAILS if the any-NULL-drops gate regresses.
    rows = []
    eid = 0
    for i in range(7):  # head slots whose only event has NULL value
        rows.append((eid, T0 + i * 900, 1, "view", None)); eid += 1
    for i in range(7, 15):  # nonzero flat
        rows.append((eid, T0 + i * 900, 1, "view", 50.0)); eid += 1
    for i in range(15, 20):  # pulse up
        rows.append((eid, T0 + i * 900, 1, "view", 100.0)); eid += 1
    for i in range(20, 26):  # back down
        rows.append((eid, T0 + i * 900, 1, "view", 50.0)); eid += 1
    write_events(spark, probe_dir, rows)
    base_slot = T0 // 900
    # motif emits (event_type, slot_a, slot_b, similarity); the pattern
    # search emits (event_type, slot, similarity). No emitted window
    # start may fall inside the NULL head (slots base..base+6).
    motif = run_differential(spark, probe_dir, "motif_discovery")
    assert motif, "expected a motif pair on the step shape"
    assert all(
        r[1] >= base_slot + 7 and r[2] >= base_slot + 7 for r in motif
    ), motif
    pat = run_differential(spark, probe_dir, "ts_pattern_search")
    assert pat, "expected pattern matches on the step shape"
    assert all(r[1] >= base_slot + 7 for r in pat), pat


def test_osum_decimal_to_double_is_correctly_rounded(spark):
    """THE decimal->double boundary case behind the round-10 _osum
    VARCHAR-route rule, pinned deterministically (the fuzz sweep found
    it statistically): the exact decimal 18973655509895.223819 lies
    where DuckDB's direct DECIMAL->DOUBLE cast double-rounds to
    ...227 while the correctly-rounded double (Python float, Java
    BigDecimal, strtod) is ...223. _osum must produce the correctly
    rounded value — i.e. bit-equal to Spark's dsum — and the direct
    cast must KEEP being wrong for this probe to stay meaningful (if
    a DuckDB upgrade fixes it, this assert flags that the VARCHAR hop
    became removable)."""
    from twitch_stream_data_pipeline_spark.plans.catalog import _osum, dsum

    correct = float(__import__("decimal").Decimal("18973655509895.223819"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW t AS SELECT * FROM (VALUES "
        "(18973655509895.0), (0.223819)) x(v)"
    )
    [(via_osum,)] = con.execute(f"SELECT {_osum('v')} FROM t").fetchall()
    assert via_osum == correct
    [(direct,)] = con.execute(
        "SELECT CAST(SUM(CAST(v AS DECIMAL(25,6))) AS DOUBLE) FROM t"
    ).fetchall()
    assert direct != correct, (
        "DuckDB's direct DECIMAL->DOUBLE cast became correctly rounded "
        "— the _osum VARCHAR hop is now removable (keep it anyway for "
        "older DuckDBs, but update the catalog docstring)"
    )
    df = spark.createDataFrame(
        [(18973655509895.0,), (0.223819,)], "v double"
    )
    [row] = df.select(dsum("v").alias("s")).collect()
    assert row.s == correct


def test_embedding_finite_check_locates_nonfinite_vectors(
    spark, probe_dir
):
    """The vector-side finiteness gate: NULL vectors, vectors with NULL
    elements, NaN-bearing and Inf-bearing vectors each land in their own
    class (engine vs the staged CONTRACT oracle), with the lowest
    offending vec_id named per class."""
    from twitch_stream_data_pipeline_spark.plans.catalog import (
        CONTRACT_STAGED_ORACLES,
    )

    def vec(fill):
        return [float(fill)] * 8

    rows = [
        (0, vec(0.5), 0),                                  # finite
        (1, vec(-1.25), 0),                                # finite
        (2, None, 1),                                      # null vector
        (3, [0.5] * 7 + [None], 1),                        # null element
        (4, [0.5] * 7 + [float("nan")], 2),                # nan element
        (5, [float("-inf")] + [0.5] * 7, 2),               # -inf element
        (6, [0.5, None, float("nan")] + [0.5] * 5, 3),     # null beats nan
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{probe_dir}/embeddings.parquet")

    sdf = CATALOG["embedding_finite_check"].fn(spark, probe_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    con = make_duck_views(duckdb.connect(), probe_dir, glob_parts=True)
    res = con.execute(CONTRACT_STAGED_ORACLES["embedding_finite_check"])
    assert normalize_rows(s_rows, [c.lower() for c in sdf.columns]) == (
        normalize_rows(
            res.fetchall(), [c[0].lower() for c in res.description]
        )
    )
    assert s_rows == [
        ("finite", 2, 0),
        ("nonfinite", 2, 4),
        ("null", 1, 2),
        ("null_element", 2, 3),
    ]


def test_contract_checks_fold_matches_staged_oracle_on_poisoned_corpus(
    spark, probe_dir
):
    """The round-12 contract FOLD (one relation = all three locators,
    VERDICT r11 #8) on a corpus poisoned on EVERY axis at once: ragged
    + NULL-element + nonfinite embeddings and NaN/Inf/NULL event
    values. Engine vs the staged fold oracle (the statement a future
    promotion grades), plus a pin of the headline findings."""
    from twitch_stream_data_pipeline_spark.plans.catalog import (
        CONTRACT_STAGED_ORACLES,
    )

    t0 = 1_704_067_200
    write_events(
        spark,
        probe_dir,
        [
            (1, t0 + 1, 1, "click", 1.0),
            (2, t0 + 2, 1, "click", float("nan")),
            (3, t0 + 3, 2, "view", float("inf")),
            (4, t0 + 4, 2, "view", None),
            (5, t0 + 5, 3, None, float("-inf")),
        ],
    )
    base = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(10)
    poisoned = spark.createDataFrame(
        [
            (901, [0.1, 0.2, 0.3], 1),                 # ragged (dim 3)
            (902, None, 1),                            # null vector
            (903, [0.5] * 63 + [float("nan")], 2),     # nonfinite, dim 64
        ],
        "vec_id bigint, embedding array<float>, label int",
    )
    base.unionByName(poisoned).write.mode("overwrite").parquet(
        f"{probe_dir}/embeddings.parquet"
    )

    sdf = CATALOG["contract_checks"].fn(spark, probe_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    con = make_duck_views(duckdb.connect(), probe_dir, glob_parts=True)
    res = con.execute(CONTRACT_STAGED_ORACLES["contract_checks"])
    assert normalize_rows(s_rows, [c.lower() for c in sdf.columns]) == (
        normalize_rows(
            res.fetchall(), [c[0].lower() for c in res.description]
        )
    )
    got = set(s_rows)
    assert ("embedding_dim", "64", "modal", 11, None) in got
    assert ("embedding_dim", "3", "nonmodal", 1, None) in got
    assert ("embedding_dim", "-1", "nonmodal", 1, None) in got
    assert ("value_finite", "click", "nan", 1, None) in got
    assert ("value_finite", None, "-inf", 1, None) in got
    assert ("embedding_finite", None, "nonfinite", 1, 903) in got
    assert ("embedding_finite", None, "null", 1, 902) in got


def test_contract_checks_fold_equals_component_locators(spark, probe_dir):
    """fold == components, row for row: the fold's output must be
    exactly the union of the three locators' outputs under the fold's
    column mapping — no recomputation drift. Run on the same poisoned
    corpus shape as the differential above."""
    t0 = 1_704_067_200
    write_events(
        spark,
        probe_dir,
        [(1, t0 + 1, 1, "click", float("nan")), (2, t0 + 2, 2, "view", 1.0)],
    )
    _write_ragged_embeddings(spark, probe_dir)

    fold = {
        tuple(r)
        for r in CATALOG["contract_checks"].fn(spark, probe_dir).collect()
    }
    want = set()
    for r in CATALOG["embedding_dim_check"].fn(spark, probe_dir).collect():
        want.add(
            (
                "embedding_dim",
                str(r["dim"]),
                "modal" if r["is_modal"] else "nonmodal",
                r["n_vectors"],
                None,
            )
        )
    for r in CATALOG["value_finite_check"].fn(spark, probe_dir).collect():
        want.add(
            ("value_finite", r["event_type"], r["value_class"], r["n"], None)
        )
    for r in (
        CATALOG["embedding_finite_check"].fn(spark, probe_dir).collect()
    ):
        want.add(
            (
                "embedding_finite",
                None,
                r["vector_class"],
                r["n_vectors"],
                r["first_vec_id"],
            )
        )
    assert fold == want


def test_contract_checks_fuses_the_embedding_scans(spark):
    """100 TB shape pin for the fold: the two embedding contracts must
    derive from the ONE checkpointed (dim, vector_class) cell table —
    the final plan may scan events (once) but must NOT scan
    embeddings.parquet at all (both derivations read the materialized
    cells; without the localCheckpoint cap the lineage would appear
    twice and the battery would pay two full embedding passes)."""
    df = CATALOG["contract_checks"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("embeddings.parquet") == 0, plan
    assert plan.count("events.parquet") == 1, plan
