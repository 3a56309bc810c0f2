"""Time a subset of registry queries at a given sf dir.

Companion to bench.py for scale-point measurements (e.g. the sf10
documents-only decade): runs each named registry query with a noop
write (full execution, no driver collect) and prints one JSON line.

Usage: python tools/scale_bench.py <sf_dir> <q1,q2,...> [repeats]
The first run of each query includes plan/codegen warmup; with
repeats>1 the minimum wall is reported (steady-state); repeats=2 is
the min-of-2 noop A/B timing of a few queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2].split(",")
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    from diagnosisextraction_ml_spark import get_spark
    from diagnosisextraction_ml_spark.plans.queries import queries

    spark = get_spark(
        "scale-bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    timings: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        best = None
        for _ in range(repeats):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            best = wall if best is None else min(best, wall)
        timings[name] = round(best, 2)
        print(json.dumps({"query": name, "sec": timings[name]}), flush=True)
    print(json.dumps({"sf_dir": sf_dir, "total_sec": round(sum(timings.values()), 2), "queries": timings}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
