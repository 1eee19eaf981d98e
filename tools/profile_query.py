"""Per-query profiler: isolate registered queries in one session, time them
with the bench's loop (``bench.timed_runs``), print each formatted plan, and
break the timed runs down by layer from the Spark event log, with the reader
perfbench's traced run uses (``perfbench/common.read_event_log``).

Usage:
  python tools/profile_query.py <name> [<name> ...] [--runs 5] [--sf DIR]
      [--explain-only] [--plan-out DIR]

Per query it prints the plan (or writes ``DIR/<name>.txt``), a timing line
(warm-up, min, median, every run) and, once the session has stopped, one
layer line: jobs, stages, tasks, executor CPU, GC, shuffle read/write,
spill and Python stages, each the mean per timed run. Only the timed runs
are tagged, so the warm-up's jobs are not counted. Like perfbench's, the
session runs at ``local[nproc]`` with its scratch files and event log in a
temporary directory that is removed at exit.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import timed_runs  # noqa: E402
from perfbench.common import (  # noqa: E402
    REQ_PROPERTY,
    median,
    pin_host,
    read_event_log,
    stop_session,
)

LAYERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "python_stages",
)


def profile(args: argparse.Namespace, work: str) -> None:
    # the event-log confs are JVM launch options: set before pyspark starts
    event_log = os.path.join(work, "eventlog")
    pin_host(work, None if args.explain_only else event_log)
    from trike_spark.cache import release_checkpoints
    from trike_spark.plans import formatted_plan
    from trike_spark.registry import REGISTRY, load_all_query_modules
    from trike_spark.session import get_spark

    load_all_query_modules()
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    if args.plan_out:
        os.makedirs(args.plan_out, exist_ok=True)

    runs: dict[str, list[float]] = {}
    try:
        for name in args.names:
            plan = formatted_plan(REGISTRY[name].fn(spark, args.sf))
            release_checkpoints()
            if args.plan_out:
                with open(os.path.join(args.plan_out, f"{name}.txt"), "w") as f:
                    f.write(plan)
            else:
                print(plan)
            if args.explain_only:
                continue

            (warm,) = timed_runs(spark, name, args.sf, 1)
            sc.setLocalProperty(REQ_PROPERTY, name)
            try:
                runs[name] = timed_runs(spark, name, args.sf, args.runs)
            finally:
                sc.setLocalProperty(REQ_PROPERTY, None)
            ts = runs[name]
            print(
                f"=== {name}: warm {warm:.3f}s | min {min(ts):.3f}s "
                f"| med {median(ts):.3f}s | runs {[round(t, 3) for t in ts]}",
                flush=True,
            )
    finally:
        stop_session(spark)

    # the event log is complete once the session has stopped
    stats = read_event_log(event_log) if runs else {}
    for name, ts in runs.items():
        m = stats.get(name, {})
        cells = " ".join(f"{k}={round(m.get(k, 0.0) / len(ts), 3):g}" for k in LAYERS)
        print(f"layers {name} (per timed run, {len(ts)} runs): {cells}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain-only", action="store_true")
    ap.add_argument("--plan-out", default=None, help="write each plan to DIR/<name>.txt")
    args = ap.parse_args()
    with tempfile.TemporaryDirectory(prefix="profile_query-") as work:
        profile(args, work)


if __name__ == "__main__":
    main()
