"""Medallion benchmark runner.

    python3 perfbench/run.py --workload slot_cadence --seed 1 --seconds 15 --trace 0

Run from the repository root. One process drives ``local[nproc]`` with
a single closed-loop client: set-up (session start, fixture generation,
warm-up), then operations back to back for ``--seconds``, then the
independent DuckDB check of every output. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is the full run record (environment,
sample counts, tail percentile, check messages, spans when traced).

A traced run makes a fixed number of operations, so its counts repeat
exactly for a seed; its layer calls run one job group each, with lazy
layer outputs materialized inside their own span.

Workloads, metrics and what each per-layer metric should move are
described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Times set-up is repeated in one run; ``setup_s`` takes the median.
SETUP_REPS = 3
DRIVER_MEMORY = "2g"

SIZES = {
    "full": {
        "streams_per_slot": 3912,
        "backfill_slots": 8,
        "dash_slots": 96,
        "traced_ops": {"slot_cadence": 6, "backfill_day": 2, "dashboard": 9},
    },
    "smoke": {
        "streams_per_slot": 300,
        "backfill_slots": 2,
        "dash_slots": 8,
        "traced_ops": {"slot_cadence": 2, "backfill_day": 1, "dashboard": 3},
    },
}

#: The gated metrics. They count CPU time, not wall time: on a shared
#: VM, hypervisor steal moved the median slot wall time by 29% between
#: two sets of ten runs while the median CPU time moved 2%. Wall times
#: stay in the run record.
END_TO_END = {
    "cpu_p50_s": "s",
    "rows_per_cpu_s": "rows/s",
    "setup_s": "s",
}

SPARK_COUNTERS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_run_ms", "ms"), ("gc_ms", "ms"), ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
)
PER_LAYER = {
    "sources": (("read_s", "s"), ("files", "count"), ("input_bytes", "bytes"),
                ("records", "count")),
    "pipeline": (("streams_s", "s"), ("categories_s", "s"), ("users_s", "s"),
                 ("bridges_s", "s"), ("rows_rejected", "count"), ("rows_deduped", "count")),
    "operators": (("upsert_s", "s"), ("state_rows", "count"), ("delta_rows", "count")),
    "sinks": (("write_s", "s"), ("files_written", "count"), ("bytes_written", "bytes"),
              ("files_per_partition", "count")),
    "streaming": (("catchup_s", "s"), ("micro_batches", "count"), ("add_batch_ms", "ms"),
                  ("wal_commit_ms", "ms"), ("state_rows", "count")),
}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name and its unit, in BENCHMARK.json order."""
    out = {}
    for layer, own in PER_LAYER.items():
        for name, unit in own + SPARK_COUNTERS:
            out[f"{layer}.{name}"] = unit
    return out


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, but
    never below p90, and its label (the maximum for ten samples or
    fewer)."""
    s = sorted(samples)
    i = max(len(s) - 11, math.ceil(0.9 * len(s)) - 1)
    label = "max" if i == len(s) - 1 else f"p{100 * (i + 1) / len(s):.1f}"
    return s[i], f"{label} of {len(s)}"


def steal_jiffies() -> int:
    """CPU time the hypervisor gave to other guests, summed over cpus."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def environment(args, cpus: int, spark) -> dict:
    import duckdb
    import pyspark

    jvm = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": os.cpu_count(),
        "cpus_used": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark": pyspark.__version__,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "seed": args.seed,
        "size": args.size,
        "sizes": {k: v for k, v in SIZES[args.size].items() if k != "traced_ops"},
        "loadavg_start": os.getloadavg(),
    }


def start_spark(work: str, cpus: int):
    """The package's session, with every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    from twitch_stream_data_pipeline_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(args) -> tuple[dict, dict]:
    import bench  # the repository's bench.py; only its load probe is used
    from spans import RssSampler, Tracer
    from workloads import WORKLOADS

    size = SIZES[args.size]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_work"))
    spark = None
    try:
        with RssSampler() as rss:
            spark = start_spark(work, cpus)
            spark.range(1).count()
            session_s = time.perf_counter() - T_START
            tracer = Tracer(spark, bool(args.trace))
            wl = WORKLOADS[args.workload](spark, work, args.seed, size, tracer)
            env = environment(args, cpus, spark)

            t0 = time.perf_counter()
            with tracer.paused():
                wl.generate()
            generate_s = time.perf_counter() - t0
            prep = []
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                with tracer.paused():
                    wl.prepare(rep)
                prep.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            with tracer.paused():
                wl.warm_up()
            warm_up_s = time.perf_counter() - t0

            external = []
            probe = threading.Thread(
                target=lambda: external.append(bench.external_cpu_cores(args.seconds)))
            latencies, cpu, rows, errors = [], [], [], []
            attempted = failed = 0
            n_traced = size["traced_ops"][args.workload]
            probe.start()
            steal0 = steal_jiffies()
            t_window = time.perf_counter()
            deadline = t_window + args.seconds
            while (attempted < n_traced) if args.trace else (
                    time.perf_counter() < deadline or attempted == 0):
                attempted += 1
                try:
                    sw, n = wl.op()
                except Exception:
                    failed += 1
                    errors.append(traceback.format_exc(limit=3))
                    continue
                latencies.append(sw.wall)
                cpu.append(sw.cpu)
                rows.append(n)
            window_s = time.perf_counter() - t_window
            steal_cores = (steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK") / window_s
            probe.join()
            if args.trace:
                wl.finish_trace()

            check_failed, check_errors = wl.check()
            failed = min(attempted, failed + check_failed)
            errors += check_errors
            control = wl.negative_control()
        peak_rss = rss.peak
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    def median(values):
        return statistics.median(values) if values else float("nan")

    p_tail, tail_label = tail(latencies) if latencies else (float("nan"), "none")
    metrics = {
        "cpu_p50_s": median(cpu),
        # the CPU clock ticks every 10 ms; an operation is never shorter
        "rows_per_cpu_s": median([n / max(c, 0.01) for n, c in zip(rows, cpu)]),
        "setup_s": session_s + generate_s + statistics.median(prep) + warm_up_s,
    }
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "environment": env,
        "external_cpu_cores": external[0] if external else None,
        "steal_cores": steal_cores,
        "window_s": window_s,
        "session_s": session_s,
        "generate_s": generate_s,
        "prepare_s": prep,
        "warm_up_s": warm_up_s,
        "samples": len(latencies),
        "latency_p50_s": median(latencies),
        "rows_per_s": median([n / w for n, w in zip(rows, latencies)]),
        "latency_tail_s": p_tail,
        "tail_percentile": tail_label,
        "latencies_s": latencies,
        "cpu_s": cpu,
        "failed_frac": failed / attempted,
        "negative_control_detected": control,
        "peak_rss_mb": peak_rss / 2**20,
        "errors": errors[:20],
        "end_to_end": metrics,
    }
    if args.trace:
        record["trace"] = tracer.record()
    result = {
        "correct": failed == 0 and control,
        "attempted": attempted,
        "failed": failed,
    }
    return record, result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("slot_cadence", "backfill_day", "dashboard"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=tuple(SIZES), default="full")
    p.add_argument("--record", help="also write the full run record to this file")
    args = p.parse_args(argv)

    sys.path.insert(1, ROOT)
    try:
        if not os.path.isdir(os.path.join(ROOT, "twitch_stream_data_pipeline_spark")):
            raise ImportError("no package directory")
        import twitch_stream_data_pipeline_spark  # noqa: F401
        import bench  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    record, result = run(args)
    if args.trace:
        layers = record["trace"]["layers"]
        metrics = {
            name: {"value": float(layers.get(name.split(".")[0], {}).get(
                name.split(".", 1)[1], 0)), "unit": unit}
            for name, unit in per_layer_metrics().items()
        }
    else:
        metrics = {k: {"value": record["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    result["metrics"] = metrics
    if args.record:
        with open(args.record, "w") as fh:
            json.dump({**record, "result": result}, fh, indent=1)
    print(json.dumps(record, separators=(",", ":"), default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
