"""Benchmark of the diagnosisextraction_ml_spark package.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One closed-loop client (this process)
drives the package through its public functions on a Spark master of
``local[<cores>]``: it sets up the workload (inputs generated from
``--seed``, warm-up on them), repeats the workload's op until the ops
have run for ``--seconds`` seconds, checks their outputs, and prints one
JSON line as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same window with Spark's event log on, adds the workload's per-layer
probes, and reports the per-layer metrics. Every file a run writes
lives under ``.perfbench_work/<pid>/`` in the checkout and is removed
at exit. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()

import measure  # noqa: E402 — T_START must include these imports
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# one directory per process, so two runs in one checkout never share files
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
END_TO_END_UNITS = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "cpu_s_per_item": "s",
    "live_heap_mb": "MB",
}


def _env(cores: int) -> None:
    """Pin the settings a run depends on before Spark starts."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for name in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, name), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")


def _spark_conf(traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    if traced:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # the status tracker must still hold every job of the run
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        })
    return conf


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)


def _window(wl, seconds: float, rec=None):
    """Run ops back to back until they have taken ``seconds``."""
    durations, items, failed = [], 0, 0
    cpu0 = measure.tree_cpu_s()
    while sum(durations) < seconds:
        name, fn = wl.op()
        t0 = time.perf_counter()
        try:
            items += fn() if rec is None else rec.run(f"{name}#{len(durations)}", fn)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc()
            failed += 1
        durations.append(time.perf_counter() - t0)
    return durations, items, failed, measure.tree_cpu_s() - cpu0


def _layer_metrics(rec, probe: dict, items_per_s: float, cores: int) -> dict[str, float]:
    """Per-layer metrics from the event log of a stopped traced run."""
    log = measure.EventLog(os.path.join(WORK, "eventlog"))
    stats = [log.op_stats(op) for op in rec.ops if op["kind"] == "op"]
    n = len(stats)
    total = {k: sum(s[k] for s in stats) for k in stats[0]}
    out = dict.fromkeys(workloads.LAYER_METRICS, 0.0)
    out.update({
        "trace.items_per_s": items_per_s,
        "spark.jobs_per_op": total["jobs"] / n,
        "spark.stages_per_op": total["stages"] / n,
        "spark.tasks_per_op": total["tasks"] / n,
        "spark.driver_s_per_op": total["driver_s"] / n,
        "spark.executor_busy_frac": total["run_s"] / (total["wall_s"] * cores),
        "spark.shuffle_write_mb_per_op": total["shuffle_write_mb"] / n,
        "spark.spill_mb_per_op": total["spill_mb"] / n,
        "spark.gc_s_per_op": total["gc_s"] / n,
    })
    out.update(probe)
    return out


def _run(args, cores: int, get_spark) -> dict:
    from pyspark import SparkContext

    spark = get_spark("perfbench", extra_conf=_spark_conf(bool(args.trace)))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = workloads.WORKLOADS[args.workload](spark, WORK, args.seed)
        wl.setup()
        measure.wait_for_jit_idle(SparkContext._gateway.proc.pid)
        setup_s = time.perf_counter() - T_START
        if args.trace:
            wl.rec = measure.OpRecorder(spark)
        durations, items, failed, cpu_s = _window(wl, args.seconds, wl.rec)
        items_per_s = items / sum(durations)
        if args.trace:
            probe = wl.probe(wl.rec)
        else:
            live_heap_mb = measure.live_heap_mb(spark)
    finally:
        _stop(spark)
    failed += wl.check()
    if args.trace:
        metrics = _layer_metrics(wl.rec, probe, items_per_s, cores)
        units = workloads.LAYER_METRICS
    else:
        metrics = {
            "setup_s": setup_s,
            "items_per_s": items_per_s,
            "op_p50_s": statistics.median(durations),
            "cpu_s_per_item": cpu_s / max(items, 1),
            "live_heap_mb": live_heap_mb,
        }
        units = END_TO_END_UNITS
    print(f"perfbench: setup {setup_s:.2f} s, op seconds "
          f"{[round(d, 3) for d in durations]}", file=sys.stderr)
    for err in wl.errors:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    return {
        "correct": not wl.errors and failed == 0,
        "attempted": len(durations),
        "failed": min(failed, len(durations)),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    # before the package import: session.py reads SPARK_GRAFT_* when it loads
    _env(cores)
    sys.path.insert(0, ROOT)
    try:
        try:
            from diagnosisextraction_ml_spark import get_spark
        except ImportError as exc:
            print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
            return 2
        result = _run(args, cores, get_spark)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
