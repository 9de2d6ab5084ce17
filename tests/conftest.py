from __future__ import annotations

import pytest

from twitch_stream_data_pipeline_spark.compat import ensure_protobuf
from twitch_stream_data_pipeline_spark.session import get_spark

# Must run before any SparkSession exists: Python workers inherit
# PYTHONPATH at session start, and transformWithStateInPandas workers
# need google.protobuf (wired from the system's vendored copy when no
# protobuf distribution is installed — see compat.ensure_protobuf).
ensure_protobuf()

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize_rows(rows, columns):
    """THE graded comparison normalization (sort columns by name, rows
    by repr, NaN canonicalized) — every differential in the suite must
    use this one helper so the sweeps can never diverge from the
    oracle-parity semantics. ``test_oracle_parity._normalize`` is an
    alias of this function."""
    import math

    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm_cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{v!r}"
        return repr(v)

    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def collect_catalog_snapshot(spark, sf_dir: str) -> dict:
    """THE engine-vs-engine sweep collector (config / order sweeps):
    run every catalog query and return ``{name: (sorted_columns,
    sorted_row_reprs)}``, with ``("ERR", message)`` for a raise.
    Single-sourced here — like :func:`normalize_rows` — so a
    comparison-semantics fix can never be applied to one sweep and
    missed in another."""
    from twitch_stream_data_pipeline_spark.plans import CATALOG

    out = {}
    for name, q in sorted(CATALOG.items()):
        try:
            df = q.fn(spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            cols = [c.lower() for c in df.columns]
            out[name] = (tuple(sorted(cols)), tuple(normalize_rows(rows, cols)))
        except Exception as e:  # noqa: BLE001 - sweeps report wholesale
            out[name] = ("ERR", repr(e)[:300])
    return out


def make_duck_views(con, sf_dir: str, glob_parts: bool = False):
    """Register the ten testdata tables as DuckDB views over
    ``sf_dir`` — single-file driver layout by default, or Spark-written
    directories-of-parts with ``glob_parts=True``."""
    suffix = "/*.parquet" if glob_parts else ""
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{sf_dir}/{t}.parquet{suffix}'"
        )
    return con


def graded_oracle(name: str) -> str | None:
    """THE oracle the harness would grade ``name`` with: the
    registration's when present, else the STAGED one queued for a
    future window swap (dashboard / streaming / contract tiers).
    Sweeps must use this resolver so a query's oracle is poison-tested
    BEFORE the round that promotes it into the graded window, not
    after. Returns None only for genuinely oracle-less queries
    (iterative algorithms, rows-only driver history)."""
    from twitch_stream_data_pipeline_spark.plans.catalog import (
        BPE_STAGED_ORACLES,
        CATALOG,
        CONTRACT_STAGED_ORACLES,
        DASHBOARD_STAGED_ORACLES,
        PACKING_STAGED_ORACLES,
        STREAMING_STAGED_ORACLES,
    )

    return (
        CATALOG[name].oracle
        or DASHBOARD_STAGED_ORACLES.get(name)
        or STREAMING_STAGED_ORACLES.get(name)
        or CONTRACT_STAGED_ORACLES.get(name)
        or PACKING_STAGED_ORACLES.get(name)
        or BPE_STAGED_ORACLES.get(name)
    )


def sweep_differential(
    spark, con, name: str, q, sf_dir: str, forbid_cols: set[str] = frozenset()
) -> str | None:
    """THE whole-catalog sweep body (poison / null / drift / empty):
    run the engine query, resolve the graded oracle (staged included),
    compare with :func:`normalize_rows`, and return a failure string —
    or None when clean. Single-sourced here so a comparison-semantics
    fix can never be applied to one sweep and missed in another.
    ``forbid_cols``: column names that must not leak into either
    side's output schema (the drift sweep's ``_drift_col``)."""
    try:
        sdf = q.fn(spark, sf_dir)
        s_cols = [c.lower() for c in sdf.columns]
        leaked = forbid_cols & set(s_cols)
        if leaked:
            return f"{name}: LEAKS {sorted(leaked)} into its output"
        s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # noqa: BLE001 - sweeps report wholesale
        return f"{name}: ENGINE RAISED {e!r}"[:300]
    oracle = graded_oracle(name)
    if oracle is None:
        return None
    try:
        res = con.execute(oracle)
        d_cols = [c[0].lower() for c in res.description]
        d_rows = res.fetchall()
    except Exception as e:  # noqa: BLE001
        return f"{name}: ORACLE RAISED {e!r}"[:300]
    leaked = forbid_cols & set(d_cols)
    if leaked:
        return f"{name}: ORACLE leaks {sorted(leaked)}"
    if normalize_rows(s_rows, s_cols) != normalize_rows(d_rows, d_cols):
        return (
            f"{name}: MISMATCH engine {len(s_rows)} rows vs oracle "
            f"{len(d_rows)} rows"
        )
    return None


#: VERDICT r11 #9 suite trim, activated in round 12 when the always-on
#: suite first crossed the 25-minute bar (25m22s on an idle host; the
#: same tree measured 24m32s earlier the same round — the bar is now
#: genuinely straddled, and round 13's promotion adds tests). The
#: sanctioned design: the >=5-green rotated tail — queries OUTSIDE the
#: 50-slot graded window whose driver history holds at least
#: TAIL_GREEN_MIN green rounds (evidence frozen at rotation; the set
#: grows only as future rounds rotate long-stable retainees out) — runs
#: on a round-salted 1-in-TAIL_KEEP_1_IN subset in the always-on
#: whole-catalog differentials (oracle parity + the three
#: poison-family sweeps, the suite's top costs). Buckets are fixed by
#: name-hash and the SELECTOR rotates with the round number, so every
#: sampled query is guaranteed to run in full at least once every
#: TAIL_KEEP_1_IN rounds — a cadence, not a lottery. The FULL set
#: still runs: (a) under ``SPARK_GRAFT_FULL_TAIL=1`` (the battery /
#: weekly knob), (b) in every opt-in whole-catalog sweep
#: (empty/config/process-default/order/determinism/fuzz iterate
#: CATALOG directly and never sample), and (c) for everything not in
#: the >=5-green tail — the graded window, the staged queue, and the
#: 2-4-green tail are never sampled.
TAIL_SAMPLE_ENV = "SPARK_GRAFT_FULL_TAIL"
TAIL_GREEN_MIN = 5
TAIL_KEEP_1_IN = 3
HARNESS_WINDOW = 50


def driver_green_rounds() -> dict[str, int]:
    """Green-driver-round counts per query, read from every
    CORRECTNESS_r*.json present — the same evidence source
    tests/test_catalog_order.py's rotation rule uses."""
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    counts: dict[str, int] = {}
    for path in sorted(repo.glob("CORRECTNESS_r*.json")):
        for name, row in json.load(open(path)).items():
            if row.get("hash_match"):
                counts[name] = counts.get(name, 0) + 1
    return counts


def current_round() -> int:
    """The round being built: one past the newest graded record."""
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    rounds = [
        int(p.stem.split("_r")[1])
        for p in repo.glob("CORRECTNESS_r*.json")
    ]
    return (max(rounds) + 1) if rounds else 1


def tail_sampled_out() -> frozenset[str]:
    """The names EXCLUDED from the always-on whole-catalog
    differentials THIS round (empty under ``SPARK_GRAFT_FULL_TAIL=1``).
    Only >=5-green rotated-tail queries are ever eligible; each
    excluded name re-runs in full within TAIL_KEEP_1_IN rounds by
    construction (fixed name-hash bucket, round-rotating selector)."""
    import hashlib
    import os

    if os.environ.get(TAIL_SAMPLE_ENV):
        return frozenset()
    from twitch_stream_data_pipeline_spark.plans.catalog import (
        CATALOG,
        EXPOSURE_ORDER,
    )

    greens = driver_green_rounds()
    keep_bucket = current_round() % TAIL_KEEP_1_IN
    out = set()
    for name in EXPOSURE_ORDER[HARNESS_WINDOW:]:
        if CATALOG[name].oracle is None:
            continue
        if greens.get(name, 0) < TAIL_GREEN_MIN:
            continue
        bucket = (
            int(hashlib.sha256(name.encode()).hexdigest(), 16)
            % TAIL_KEEP_1_IN
        )
        if bucket != keep_bucket:
            out.add(name)
    return frozenset(out)


def fail_partitioned_writes(monkeypatch, leg: str) -> None:
    """Make ``sinks.write_partitioned`` raise, for the fault-injection
    tests of the index layouts: ``"before"`` fails before the write
    starts, ``"after"`` lets the write commit and then raises — the
    two crash points of a one-write index mutation. ``monkeypatch.undo()``
    restores the real writer."""
    from twitch_stream_data_pipeline_spark import sinks

    real = sinks.write_partitioned

    def failing(*args, **kwargs):
        if leg == "after":
            real(*args, **kwargs)
        raise RuntimeError(f"injected write failure ({leg})")

    monkeypatch.setattr(sinks, "write_partitioned", failing)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    yield make_duck_views(duckdb.connect(), SF_SMOKE)
