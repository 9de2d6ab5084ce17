"""Smoke test of the benchmark: every workload at its smoke size, with
tracing off and on, prints every metric ``BENCHMARK.json`` names, with
its unit, and fails no operation. Also: the runner fails without the
package, and the same seed gives byte-identical fixture files.

    python3 -m pytest perfbench -q

Each case starts its own Spark driver, as the benchmark does; the six
cases take a few minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run_smoke(workload: str, trace: int, tmp_path) -> tuple[dict, dict]:
    record_file = tmp_path / "record.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--size", "smoke", "--record", str(record_file)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(record_file) as fh:
        return result, json.load(fh)


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("workload", ("slot_cadence", "backfill_day", "dashboard"))
def test_every_metric_printed_and_nothing_failed(workload, trace, tmp_path):
    result, record = run_smoke(workload, trace, tmp_path)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert record["failed_frac"] == 0
    assert record["negative_control_detected"] is True

    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        name: m["unit"] for name, m in result["metrics"].items()}
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if not trace:
            assert m["value"] > 0, name


def test_exits_nonzero_without_the_package(tmp_path):
    """In a directory holding only the benchmark, it fails and prints
    no result."""
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench_dir / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "slot_cadence",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_same_seed_gives_byte_identical_fixture(tmp_path):
    sys.path.insert(0, HERE)
    import fixture

    def land(root, seed):
        gen = fixture.RawFixture(seed, streams_per_slot=300)
        for _ in range(3):
            fixture.land_slot(str(root), gen.next_slot())
        fixture.write_curated_week(str(root / "week"), seed, 8, 300)
        return {p.relative_to(root): p.read_bytes()
                for p in sorted(root.rglob("*")) if p.is_file()}

    first = land(tmp_path / "a", 5)
    assert len(first) == 3 * 6 + 2  # 2 stream shards + 4 datasets per slot
    assert land(tmp_path / "b", 5) == first
    assert land(tmp_path / "c", 6) != first
