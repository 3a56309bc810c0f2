"""Compare the query shapes of generated tables with a reference data set.

    python3 perfbench/compare_shapes.py REFERENCE_SF_DIR SEED [SEED ...]

Runs every benchmark headline query on the reference tables (the
TESTDATA.md set at scale factor 0.01) and on the tables ``tables_gen.py``
writes for each seed, and prints one row per query: its row count on
each data set and the jobs it ran. A generator that drifts from the
reference shows up as a row or job count that differs. Not part of a
benchmark run, which reads nothing outside its checkout.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
os.environ["PYTHONPATH"] = os.path.dirname(HERE)

import tables_gen  # noqa: E402
import workloads  # noqa: E402
from diagnosisextraction_ml_spark import get_spark  # noqa: E402
from diagnosisextraction_ml_spark.plans.queries import queries  # noqa: E402


def shape(spark, sf_dir: str, label: str) -> dict[str, tuple[int, int]]:
    """``(rows, jobs)`` of each headline query on the tables in ``sf_dir``."""
    sc, registry, out = spark.sparkContext, queries(), {}
    for name in workloads.HEADLINE_SUBSET:
        group = f"{label}:{name}"
        sc.setJobGroup(group, group)
        rows = registry[name](spark, sf_dir).count()
        out[name] = (rows, len(sc.statusTracker().getJobIdsForGroup(group)))
    return out


def main() -> None:
    ref, seeds = sys.argv[1], [int(s) for s in sys.argv[2:]]
    spark = get_spark("compare_shapes", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp()
    try:
        dirs = {"reference": ref}
        for seed in seeds:
            dirs[f"seed {seed}"] = os.path.join(tmp, str(seed))
            tables_gen.generate(dirs[f"seed {seed}"], seed, workloads.HEADLINE_SF)
        cols = {}
        for label, sf_dir in dirs.items():
            # the first reads of a new path run schema jobs, as in a warm-up pass
            shape(spark, sf_dir, f"warm-up {label}")
            cols[label] = shape(spark, sf_dir, label)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    print("| query | " + " | ".join(cols) + " |")
    print("|---" * (len(cols) + 1) + "|")
    for name in workloads.HEADLINE_SUBSET:
        print(f"| `{name}` | " + " | ".join(
            f"{c[name][0]} rows, {c[name][1]} jobs" for c in cols.values()) + " |")


if __name__ == "__main__":
    main()
