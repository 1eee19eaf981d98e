"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,queries} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It pins Spark to ``local[nproc]``, keeps its
scratch files under ``perfbench/.work``, builds the workload's inputs from
the seed, times after warm-up a fixed amount of work sized from ``S``
(micro-batches or query passes), checks every output, and prints two JSON
lines: host facts and extra figures, then the result ``{"correct",
"attempted", "failed", "metrics"}``. ``--trace 0`` reports the end-to-end
metrics of ``BENCHMARK.json``; ``--trace 1`` runs the same workload with
spans and the Spark event log on and reports the per-layer metrics (a
metric whose layer the workload does not touch reads 0). Spans go to
``perfbench/.out``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "queries")


class Context:
    """What a workload gets: the session, the tracer, its settings, and
    the clock marks that define ``setup_s``."""

    def __init__(self, args, spark, tracer, work_dir: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seconds = args.seconds
        self.seed = args.seed
        self.small = args.small
        self.corrupt = args.corrupt
        self.put_delay_ms = args.put_delay_ms
        self.work_dir = work_dir
        self.generator_s = 0.0
        self.timed_start: float | None = None
        self.sf_dir: str | None = None  # the query tables, once generated

    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def mark_timed_start(self) -> None:
        self.timed_start = time.time()

    def check_stream(self, query) -> None:
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")

    def await_progress(self, query, batch_id: int, timeout_s: float = 60.0) -> None:
        """Wait until micro-batch ``batch_id`` has committed (its progress
        is reported), so stopping the query cannot cut it short."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            last = query.lastProgress
            if last is not None and last.batchId >= batch_id:
                return
            self.check_stream(query)
            time.sleep(0.01)
        raise TimeoutError(f"micro-batch {batch_id} did not commit in {timeout_s} s")

    def stop_stream(self, query) -> None:
        # stop() cancels the in-flight micro-batch; a task killed mid
        # state-store commit can surface as the query's terminal error.
        # Every recorded batch completed before this, so it is not a
        # failure of the measured work.
        try:
            query.stop()
        except Exception as e:  # noqa: BLE001
            print(f"note: stop-time exception ignored: {e}", file=sys.stderr)


def parse(argv: list[str] | None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="tiny inputs (self-test)")
    ap.add_argument("--corrupt", action="store_true", help="mangle one output (self-test)")
    ap.add_argument(
        "--put-delay-ms", type=float, default=0.0, help="ingest: slow the sink per event (self-test)"
    )
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "trike_spark")):
        print(f"error: no trike_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from common import Tracer, cpu_times, pin_host, reset_dir, start_session, steal_share, stop_session

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = reset_dir(os.path.join(HERE, ".work", run_id))
    event_log = os.path.join(work, "eventlog") if args.trace else None
    host = pin_host(work, event_log)
    cpu0 = cpu_times()
    workload = importlib.import_module(args.workload)
    tracer = Tracer(enabled=bool(args.trace))
    try:
        session = start_session(tracer, load_queries=args.workload == "queries")
        ctx = Context(args, session.spark, tracer, work)
        try:
            import pyspark

            host["spark_version"] = session.spark.version
            host["pyspark_version"] = pyspark.__version__
            result = workload.run(ctx)
        finally:
            t_stop = time.time()
            stop_session(session.spark)
            host["teardown_s"] = time.time() - t_stop
        if hasattr(workload, "after_stop"):
            workload.after_stop(ctx, result, event_log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    setup_s = ctx.timed_start - T_PROCESS - ctx.generator_s
    values = dict(result["e2e"])
    values["setup_s"] = setup_s
    layers = result["layers"]
    layers["session.get_spark_s"] = session.get_spark_s
    layers["registry.load_modules_s"] = session.load_modules_s
    layers["trace.spans"] = float(len(tracer.spans))
    layers["traced.setup_s"] = setup_s
    host.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "loadavg_after": list(os.getloadavg()),
            "cpu_steal_share": steal_share(cpu0, cpu_times()),
            "generator_s": ctx.generator_s,
            **result["info"],
        }
    )
    if args.trace:
        tracer.write(os.path.join(HERE, ".out", f"spans-{run_id}.jsonl"))
        source = layers
        missing_ok = True
    else:
        source = values
        missing_ok = False
    metrics = {}
    for m in wanted:
        if m["name"] not in source and not missing_ok:
            raise KeyError(f"workload {args.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
    host["not_on_path"] = sorted(m["name"] for m in wanted if m["name"] not in source)
    print(json.dumps({"info": host}, default=str))
    print(
        json.dumps(
            {
                "correct": bool(result["correct"]),
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
