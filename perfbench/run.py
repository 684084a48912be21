#!/usr/bin/env python3
"""Retrieval benchmark: one workload, one fresh process.

    python3 perfbench/run.py --workload ingest-serve --seed 1 --seconds 20 --trace 0

Run from the repository root.  Prints one line per metric, then, as the
last line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  Exits non-zero when an output check fails, and with 2,
printing no result, when the engine package is not beside it.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "vectordb_retrieval_spark"


class Run:
    """What a workload gets: session, tracer, checks and its inputs'
    seed; it sets ``attempted`` and ``plan``."""

    def __init__(self, seed, seconds, run_dir, t_start, spark, tracer, checks):
        self.seed, self.seconds = seed, seconds
        self.run_dir, self.t_start = run_dir, t_start
        self.spark, self.tracer, self.checks = spark, tracer, checks
        self.attempted = 1
        self.plan = None


def stop_jvm(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for the process tree
    (JVM, Python worker daemon, workers) to end."""
    from pyspark import SparkContext

    from harness import _tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while len(_tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2

    import harness
    from workloads import WORKLOADS

    # a terminated run still stops Spark and cleans up in the finally blocks
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    trace = bool(args.trace)
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    pinned = harness.pin_environment(ROOT, run_dir)
    sys.path.insert(0, ROOT)
    shm_before = harness.shm_entries()
    checks = harness.Checks()
    e2e, layers_fn, crashed, run, metrics = {}, None, False, None, {}
    try:
        with harness.MemorySampler() as mem:
            t0 = time.perf_counter()
            spark = harness.start_session(run_dir, f"perfbench-{args.workload}", trace)
            session_s = time.perf_counter() - t0
            tracer = harness.Tracer(args.workload, trace, spark.sparkContext)
            run = Run(args.seed, args.seconds, run_dir, T_START, spark, tracer, checks)
            try:
                e2e, layers_fn = WORKLOADS[args.workload](run)
                cache_mb = harness.spark_cache_bytes(spark) / harness.MIB
                if trace:
                    tracer.count_jobs()
            except Exception:
                traceback.print_exc()
                checks.fail(f"{args.workload} raised")
                crashed = True
            finally:
                stop_jvm(spark)
        shm_leftover = harness.clean_shm(shm_before)
        shm_before = None

        if not crashed:
            e2e["peak_rss_mb"] = (mem.peak_total / harness.MIB, "MiB", 1)
            for name, (value, unit, n) in e2e.items():
                print(f"{args.workload} {name} = {value:.6g} {unit} (n={n})")
            if trace:
                tracer.attach_task_metrics(os.path.join(run_dir, "eventlog"))
                tracer.self_times()
                tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                         f"{args.workload}-seed{args.seed}.json"),
                            T_START)
                layers = layers_fn()
                layers.update({
                    # traced minus untraced medians is the tracing overhead
                    "traced.latency_p50_ms": e2e["latency_p50_ms"][:2],
                    "traced.experiment_s": e2e["experiment_s"][:2],
                    "session.start_s": (session_s, "s"),
                    "mem.spark_cache_mb": (cache_mb, "MiB"),
                    "mem.shm_mb": (mem.peak_shm / harness.MIB, "MiB"),
                    "mem.shm_leftover_mb": (shm_leftover / harness.MIB, "MiB"),
                    "mem.driver_rss_mb": (mem.peak_driver / harness.MIB, "MiB"),
                })
                for name, (value, unit) in sorted(layers.items()):
                    print(f"{args.workload} {name} = {value:.6g} {unit}")
                metrics = emit(spec["per_layer"], layers)
            else:
                metrics = emit(spec["end_to_end"], e2e)
    finally:
        if shm_before is not None:
            harness.clean_shm(shm_before)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = run.attempted if run is not None else 1
    failed = min(len(checks.failures), attempted)
    for f in checks.failures:
        print(f"{args.workload} CHECK FAILED: {f}")
    print(f"{args.workload} plan = {run.plan if run else None}; error_rate = "
          f"{failed / attempted:.6g} ({failed}/{attempted}); pinned "
          + " ".join(f"{k}={pinned[k]}" for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")))
    correct = not checks.failures
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def emit(declared: list[dict], measured: dict) -> dict:
    """The declared metrics, in declared units; a name or unit that
    disagrees with BENCHMARK.json is a benchmark bug and raises."""
    if {m["name"] for m in declared} != set(measured):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: "
            f"{sorted({m['name'] for m in declared} ^ set(measured))}")
    out = {}
    for m in declared:
        value, unit = measured[m["name"]][:2]
        if unit != m["unit"]:
            raise RuntimeError(f"{m['name']}: unit {unit} != {m['unit']}")
        out[m["name"]] = {"value": float(value), "unit": unit}
    return out


if __name__ == "__main__":
    sys.exit(main())
