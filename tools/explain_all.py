"""Print the formatted physical plan of every registered query.

Usage: python tools/explain_all.py [sf_dir] [name_filter]

The audit loop: after a query goes green, read its plan here and check
the things that matter at 100 TB — PushedFilters on the scans, pruned
ReadSchema, BroadcastHashJoin for dim joins, no CartesianProduct, the
expected number of Exchanges, WholeStageCodegen spans. For a
before/after plan diff, redirect one run per side to a file.
"""

from __future__ import annotations

import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""

    from diagnosisextraction_ml_spark import get_spark
    from diagnosisextraction_ml_spark.plans.queries import queries

    spark = get_spark("explain-all")
    spark.sparkContext.setLogLevel("ERROR")
    for name, fn in queries().items():
        if name_filter and name_filter not in name:
            continue
        print(f"\n{'=' * 70}\n{name}\n{'=' * 70}")
        try:
            fn(spark, sf_dir).explain("formatted")
        except Exception as e:  # noqa: BLE001 — audit tool, keep going
            print(f"ERROR: {e}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
