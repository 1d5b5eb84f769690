#!/usr/bin/env python
"""Per-bench-query job/stage census (BASELINE.md job-floor decomposition).

The sf0.1 gap vs DuckDB is dominated by per-job orchestration (~64 ms/job
empty, ~121 ms with one shuffle stage). This tool attributes that floor
PER QUERY: it runs each bench query as one noop-sink action and counts
the Spark jobs and stages the action spawns (via the status tracker), so
"cut stages per query" work targets the worst offenders instead of
guessing. The session, staging and counting are capture_plans'
``staged_session`` and ``timed_capture``.

Usage: python tools/job_floor_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from capture_plans import staged_session, timed_capture  # noqa: E402

from sql_redshift_etl_spark.plans.registry import all_queries  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark, data_dir = staged_session("job-floor-audit", sf_dir)
    bench = {n: q for n, q in all_queries().items() if q.bench}
    print(f"{'query':34s} {'jobs':>4s} {'stages':>6s} {'steady_s':>8s}")
    for name, q in sorted(bench.items()):
        r = timed_capture(spark, q.builder(spark, data_dir), os.devnull, name)
        print(f"{name:34s} {r['jobs']:4d} {r['stages']:6d} {r['steady_s']:8.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
