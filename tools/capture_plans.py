#!/usr/bin/env python
"""Dump explain('formatted') + noop-sink steady timing + job count for a
list of registered queries — the generic before/after capture.
``timed_capture`` is the shared harness (also used by
tools/bounded_sort_sweep_audit.py). ``build_jobs`` is the number of
Spark jobs the builder call itself fired (schema inference, script
statements, stream batches), read from the status store so jobs on
every thread count.

Plans go to ``<out>/<query>_<before|after>.txt``. ``--out`` defaults to
the git-ignored ``_scratch/plans/`` of this checkout, so a capture never
overwrites committed evidence; write to ``plans/r14`` only by naming it
(a relative DIR is taken from the current directory).

Usage: python tools/capture_plans.py before|after q1 q2 ... [--sf=sf_dir] [--n=3] [--out=DIR]
"""

from __future__ import annotations

import io
import os
import sys
import time
from contextlib import redirect_stdout

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from sql_redshift_etl_spark.plans.registry import all_queries  # noqa: E402
from sql_redshift_etl_spark.session import get_spark  # noqa: E402
from sql_redshift_etl_spark.staging import stage_inputs  # noqa: E402


def staged_session(app: str, sf_dir: str):
    """Warmed session + staged data dir, the shared capture preamble."""
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    data_dir = stage_inputs(
        spark, sf_dir,
        os.path.join(REPO_ROOT, "_scratch", "bench_staged", os.path.basename(sf_dir.rstrip("/"))),
    )
    return spark, data_dir


def timed_capture(spark, df, plan_path: str, group: str, n_timed: int = 3) -> dict:
    """Write df's formatted plan to plan_path, then run it as a noop
    action (1 warm + n_timed timed) counting jobs/stages via the status
    tracker. Returns {jobs, stages, steady_s, plan}."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    with open(plan_path, "w") as f:
        f.write(plan)
    df.write.format("noop").mode("overwrite").save()  # warm/compile
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup(group, group)
    best = float("inf")
    for _ in range(n_timed):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    job_ids = tracker.getJobIdsForGroup(group) or []
    n_jobs = len(job_ids) // n_timed
    n_stages = 0
    for jid in sorted(job_ids)[:n_jobs]:
        info = tracker.getJobInfo(jid)
        if info:
            n_stages += len(info.stageIds)
    spark.sparkContext.setJobGroup(None, None)
    return {"jobs": n_jobs, "stages": n_stages, "steady_s": round(best, 4), "plan": plan}


def job_ids(spark) -> set[int]:
    """Ids of every job the status store has seen, after the listener bus drains."""
    ssc = spark.sparkContext._jsc.sc()
    ssc.listenerBus().waitUntilEmpty()
    it = ssc.statusStore().jobsList(None).iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next().jobId())
    return ids


def main() -> None:
    mode = sys.argv[1]
    assert mode in ("before", "after"), mode
    names = [a for a in sys.argv[2:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.1"
    n_timed = 3
    out_dir = os.path.join(REPO_ROOT, "_scratch", "plans")
    for a in sys.argv[2:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif a.startswith("--n="):
            n_timed = int(a.split("=", 1)[1])
        elif a.startswith("--out="):
            out_dir = a.split("=", 1)[1]

    os.makedirs(out_dir, exist_ok=True)
    spark, data_dir = staged_session("capture-plans", sf_dir)
    qs = all_queries()
    for name in names:
        before = job_ids(spark)
        df = qs[name].builder(spark, data_dir)
        build_jobs = len(job_ids(spark) - before)
        r = timed_capture(
            spark, df, os.path.join(out_dir, f"{name}_{mode}.txt"), f"{name}-{mode}", n_timed
        )
        print(
            f"{name:34s} build_jobs={build_jobs} jobs={r['jobs']} stages={r['stages']} "
            f"steady={r['steady_s']:.3f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
