"""Drift guard for bench.py's build/probe split: the split's probe
plans hand-mirror the catalog entries' parameters, so a catalog
re-parameterization (n_probe, thresholds, id ranges) that isn't
propagated would silently make the probe timings measure a different
query. Pin result equality per index query at smoke scale."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import _index_splits  # noqa: E402

from twitch_stream_data_pipeline_spark.plans import CATALOG  # noqa: E402

from .conftest import SF_SMOKE


def _key(rows):
    return sorted(tuple(r) for r in rows)


@pytest.mark.parametrize(
    "name", ["ivf_index_knn", "lsh_index_probe", "dedup_ingest",
             "embedding_ingest", "ivfpq_index_knn"]
)
def test_bench_probe_equals_catalog_query(spark, name):
    build, probe = _index_splits(SF_SMOKE)[name]
    ctx = build(spark)
    got = _key(probe(spark, ctx).collect())
    want = _key(CATALOG[name].fn(spark, SF_SMOKE).collect())
    assert got == want, f"{name}: bench probe drifted from catalog entry"


def test_idle_host_gate_waits_then_passes(monkeypatch):
    """The bench refuses to measure on a busy host: it retries until
    loadavg drops under the threshold, recording the attempts."""
    import bench

    loads = iter([(7.7, 5.0, 3.0), (4.2, 4.0, 3.0), (1.1, 2.0, 2.5)])
    slept = []
    monkeypatch.setenv("SPARK_GRAFT_LOAD_SLEEP", "30")
    start, gate, waits, load_max = bench.wait_for_idle_host(
        getloadavg=lambda: next(loads), sleep=slept.append
    )
    assert gate == "idle" and waits == 2 and start[0] == 1.1
    assert slept == [30.0, 30.0] and load_max == 2.0


def test_idle_host_gate_exhausts_and_says_so(monkeypatch):
    """Budget exhausted -> the record is still produced but marked
    non-comparable (load_gate='exhausted'), never silently normal."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_LOAD_TRIES", "3")
    start, gate, waits, _ = bench.wait_for_idle_host(
        getloadavg=lambda: (9.9, 9.9, 9.9), sleep=lambda s: None
    )
    assert gate == "exhausted" and waits == 3 and start[0] == 9.9


def test_idle_host_gate_quiet_host_never_sleeps():
    import bench

    start, gate, waits, _ = bench.wait_for_idle_host(
        getloadavg=lambda: (0.5, 0.5, 0.5),
        sleep=lambda s: (_ for _ in ()).throw(AssertionError("slept")),
    )
    assert gate == "idle" and waits == 0


# ---------------------------------------------------------------------------
# Round 12 (VERDICT r11 #4): per-segment external-cpu gate — the split
# phase re-gates before EACH segment on cpu consumed OUTSIDE the
# bench's own process tree, so r11's "gate satisfied at phase start,
# segments measured under loadavg 9-11" cannot recur silently.
# ---------------------------------------------------------------------------


def test_external_cpu_gate_waits_then_passes(monkeypatch):
    import bench

    ext = iter([5.3, 2.1, 0.4])
    slept = []
    monkeypatch.setenv("SPARK_GRAFT_EXT_CPU_SLEEP", "20")
    start, gate, waits, ext_max = bench.wait_for_quiet_external_cpu(
        measure=lambda: next(ext), sleep=slept.append
    )
    assert gate == "idle" and waits == 2 and start == 0.4
    assert slept == [20.0, 20.0] and ext_max == 1.0


def test_external_cpu_gate_exhausts_and_says_so(monkeypatch):
    """A persistently contended segment still gets measured, but its
    gate reads 'exhausted' — the record never silently mixes loaded
    segments with idle ones (the r11 ivf_index_knn 2.35->26.83s build
    outlier failure mode)."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_EXT_CPU_TRIES", "2")
    start, gate, waits, _ = bench.wait_for_quiet_external_cpu(
        measure=lambda: 8.0, sleep=lambda s: None
    )
    assert gate == "exhausted" and waits == 2 and start == 8.0


def test_external_cpu_measures_outside_own_subtree():
    """external_cpu_cores must NOT count this process's own burn: spin
    cpu-bound children of our own for the sample window and assert the
    reading rises by (well under) their 4 cores relative to a no-burn
    baseline taken just before (the whole point vs loadavg — our own
    trailing/concurrent work never triggers segment waits). Comparing
    against the baseline, not an absolute bound, keeps the test honest
    on a host where OTHER processes genuinely are burning cores."""
    import multiprocessing as mp

    import bench

    def burn(stop):
        x = 0
        while not stop.is_set():
            x += 1

    baseline = bench.external_cpu_cores(window=1.0)
    stop = mp.Event()
    procs = [mp.Process(target=burn, args=(stop,)) for _ in range(4)]
    for p in procs:
        p.start()
    try:
        ext = bench.external_cpu_cores(window=1.0)
    finally:
        stop.set()
        for p in procs:
            p.join(timeout=5)
    # our 4 cores of OWN burn must not register as external: the rise
    # over baseline must stay far below 4; slack covers true external
    # fluctuation between the two 1s windows.
    assert ext - baseline < 2.0, (
        f"own subtree counted as external: baseline {baseline:.2f} -> "
        f"burn {ext:.2f} cores"
    )


def test_subtree_jiffies_counts_own_children():
    """The subtree walker actually sees a live descendant's cpu time:
    burn ~0.3s in a child that stays alive across both samples."""
    import multiprocessing as mp
    import time as _time

    import bench

    def burn_then_wait(ready, stop):
        t0 = _time.process_time()
        while _time.process_time() - t0 < 0.3:
            pass
        ready.set()
        stop.wait(10)

    ready, stop = mp.Event(), mp.Event()
    before = bench._subtree_jiffies()
    p = mp.Process(target=burn_then_wait, args=(ready, stop))
    p.start()
    try:
        assert ready.wait(10)
        after = bench._subtree_jiffies()
    finally:
        stop.set()
        p.join(timeout=5)
    hz = __import__("os").sysconf("SC_CLK_TCK")
    assert (after - before) / hz >= 0.2, (before, after)


def test_compact_record_is_one_tail_sized_json_line():
    """Driver contract (VERDICT r12 'what's wrong' #1): the bench must
    print exactly ONE final JSON line, small enough to survive the
    driver's ~2000-byte stdout tail, carrying the contract keys plus a
    per-query map over every headline query."""
    import json

    import bench

    verbose = {
        "metric": "headline_queries_total",
        "value": 123.45,
        "unit": "sec",
        "steady_queries": {n: 123.4567 for n in bench.HEADLINE},
        "steady_total": 12.34,
        "extended_total": 678.9,
        "steady_extended_total": 67.89,
        "load_gate": "exhausted",
        "sf": 0.001,
    }
    line = bench.compact_record(verbose)
    assert "\n" not in line and line.startswith('{"metric"')
    assert len(line) < 1900, f"{len(line)} bytes won't survive the tail"
    rec = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in rec, key
    assert set(rec["queries"]) == set(bench.HEADLINE)
    assert rec["queries"]["pricing_summary"] == 123.46  # 2-decimal
    assert rec["value"] == 123.45


def test_bench_stdout_has_one_metric_line():
    """The bench's record is the one stdout line starting with
    ``{"metric"``: every other ``print`` in bench.py must go to stderr,
    and the only stdout print is the final compact record."""
    import ast

    import bench

    tree = ast.parse(Path(bench.__file__).read_text())
    stdout_prints = [
        ast.unparse(node)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "print"
        and not any(
            k.arg == "file" and ast.unparse(k.value) == "sys.stderr"
            for k in node.keywords
        )
    ]
    assert stdout_prints == ["print(compact_record(verbose))"], stdout_prints
