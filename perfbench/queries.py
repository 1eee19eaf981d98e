"""``queries`` workload: one client in a closed loop over a fixed,
interleaved query mix.

Each query is ``REGISTRY[name].fn(spark, sf_dir)`` (plan build, including
eager ``cache.checkpoint`` materializations) and then ``.collect()``;
``cache.release_checkpoints`` runs after each. The iterative class spends
its time in plan build, the one-pass class in execution. Passes over the
mix repeat a fixed number of times, ``round(seconds / NOMINAL_PASS_S)``,
so every run times the same multiset of queries however fast the host
is. Both end-to-end figures are medians over passes, so one pass still
warming up or hit by a stall does not move them: throughput is the mix's
query count over the median pass time, and latency is the median of a
pass's mean query latency (the mix is bimodal, iterative faces taking
about twice as long as one-pass ones, so a median over single queries
would jump between the classes). Each result
is hashed like ``tools/check_correctness.py`` and compared, after the
window, with DuckDB running the query's oracle SQL on the same tables.
"""

from __future__ import annotations

import sys
import time
from dataclasses import dataclass

from common import PHASE_PROPERTY, REQ_PROPERTY, mean, median, read_event_log
from datagen import write_tables

ITERATIVE = ["graph_pagerank_fixedpoint", "graph_kcore_peeling"]
ONEPASS = ["q5_revenue_by_nation", "trike_cloud_event_project"]
# iterative and one-pass faces alternate
MIX = [ONEPASS[0], ITERATIVE[0], ONEPASS[1], ITERATIVE[1]]
CLASS = {**{q: "iterative" for q in ITERATIVE}, **{q: "onepass" for q in ONEPASS}}
SF = 0.01
SMALL_SF = 0.001
# Warm-up is a fixed number of passes so that set-up time does not jump
# with a variable warm-up: the first pass is cold (about twice a steady
# pass); the next is within ~15% of steady on a 4-core host. The ratio of the
# first timed pass to the second is reported with the result.
WARMUP_PASSES = 1
NOMINAL_PASS_S = 8.0  # sizes the timed part: round(seconds / this) passes, at least 1
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@dataclass
class Run:
    req: str
    name: str
    pass_no: int
    build_s: float
    exec_s: float
    release_s: float
    checkpoints: int
    cols: list[str] | None = None
    rows: list[tuple] | None = None
    error: str = ""

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


def _persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def run_query(ctx, name: str, pass_no: int) -> Run:
    from trike_spark.cache import release_checkpoints
    from trike_spark.registry import REGISTRY

    spark = ctx.spark
    sc = spark.sparkContext
    req = f"{pass_no}:{name}"
    sc.setLocalProperty(REQ_PROPERTY, req)
    tr = ctx.tracer
    with tr.span("query", req):
        rdds0 = _persistent_rdds(spark)
        try:
            with tr.span("query.build", req):
                sc.setLocalProperty(PHASE_PROPERTY, "build")
                t0 = time.perf_counter()
                df = REGISTRY[name].fn(spark, ctx.sf_dir)
                t1 = time.perf_counter()
            checkpoints = _persistent_rdds(spark) - rdds0
            with tr.span("query.exec", req):
                sc.setLocalProperty(PHASE_PROPERTY, "exec")
                rows = [tuple(r) for r in df.collect()]
                t2 = time.perf_counter()
            cols, error = df.columns, ""
        except Exception as e:  # noqa: BLE001 — a failing query is a failed operation
            t1 = t2 = time.perf_counter()
            cols, rows, checkpoints, error = None, None, 0, f"{type(e).__name__}: {e}"
        finally:
            sc.setLocalProperty(REQ_PROPERTY, None)
            sc.setLocalProperty(PHASE_PROPERTY, None)
        with tr.span("cache.release", req):
            t3 = time.perf_counter()
            release_checkpoints()
            release_s = time.perf_counter() - t3
    return Run(req, name, pass_no, t1 - t0, t2 - t1, release_s, checkpoints, cols, rows, error)


def oracle_hashes(sf_dir: str, names: list[str]) -> dict[str, tuple[list[str], str]]:
    """Column names and value hash of each query's DuckDB oracle result."""
    import duckdb

    from tools.check_correctness import value_hash
    from trike_spark.registry import REGISTRY

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name in names:
        rel = con.sql(REGISTRY[name].oracle)
        cols = list(rel.columns)
        out[name] = (sorted(cols), value_hash(cols, rel.fetchall()))
    con.close()
    return out


def run(ctx) -> dict:
    from tools.check_correctness import value_hash

    ctx.sf_dir = ctx.path("tables")
    sf = SMALL_SF if ctx.small else SF
    with ctx.tracer.span("generate"):
        t_gen = time.perf_counter()
        rows = write_tables(ctx.sf_dir, sf, ctx.seed)
        ctx.generator_s += time.perf_counter() - t_gen

    warm_s: list[float] = []
    with ctx.tracer.span("warmup"):
        t_warm = time.perf_counter()
        for p in range(WARMUP_PASSES):
            t0 = time.perf_counter()
            for name in MIX:
                run_query(ctx, name, -p - 1)
            warm_s.append(time.perf_counter() - t0)
        warmup_s = time.perf_counter() - t_warm

    ctx.mark_timed_start()
    t0 = time.perf_counter()
    runs: list[Run] = []
    pass_s: list[float] = []
    for _ in range(max(1, round(ctx.seconds / NOMINAL_PASS_S))):
        t_pass = time.perf_counter()
        for name in MIX:
            runs.append(run_query(ctx, name, len(pass_s)))
        pass_s.append(time.perf_counter() - t_pass)
    passes = len(pass_s)
    window_s = time.perf_counter() - t0

    if ctx.corrupt and runs[0].rows:
        runs[0].rows = runs[0].rows[1:]  # self-test: lose one result row
    oracle = oracle_hashes(ctx.sf_dir, list(dict.fromkeys(MIX)))
    failed = 0
    for r in runs:
        if r.error:
            failed += 1
            print(f"queries: {r.req} raised {r.error}", file=sys.stderr)
            continue
        cols, want = oracle[r.name]
        if sorted(r.cols) != cols or value_hash(r.cols, r.rows) != want:
            failed += 1
            print(f"queries: {r.req} differs from the DuckDB oracle", file=sys.stderr)
        r.rows = None
    ok = [r for r in runs if not r.error]
    pass_lat = [mean([r.latency_s for r in ok if r.pass_no == p]) for p in range(passes)]
    by_class = {c: [r for r in ok if CLASS[r.name] == c] for c in ("iterative", "onepass")}
    layers: dict[str, float] = {
        "warmup_s": warmup_s,
        "queries.queries_per_s": len(MIX) / median(pass_s),
        "cache.checkpoints_created": sum(r.checkpoints for r in ok) / passes,
        "cache.release_s": sum(r.release_s for r in runs) / passes,
    }
    for c, rs in by_class.items():
        layers[f"queries.{c}_latency_p50_s"] = median([r.latency_s for r in rs])
        layers[f"query.{c}.build_s"] = mean([r.build_s for r in rs])
        layers[f"query.{c}.exec_s"] = mean([r.exec_s for r in rs])
    for name in dict.fromkeys(MIX):
        rs = [r for r in ok if r.name == name]
        layers[f"query.{name}.build_s"] = median([r.build_s for r in rs])
        layers[f"query.{name}.exec_s"] = median([r.exec_s for r in rs])
    return {
        "attempted": len(runs),
        "failed": failed,
        "correct": failed == 0,
        "e2e": {"throughput_per_s": len(MIX) / median(pass_s), "latency_p50_s": median(pass_lat)},
        "layers": layers,
        "runs": runs,
        "info": {
            "sf": sf,
            "table_rows": rows,
            "mix": MIX,
            "warmup_pass_s": [round(x, 3) for x in warm_s],
            "pass_s": [round(x, 3) for x in pass_s],
            "warmup_settle_ratio": pass_s[0] / median(pass_s),
            "pass_latency_s": [round(x, 4) for x in pass_lat],
            "timed_passes": passes,
            "window_s": window_s,
            "iterative_latency_p50_s": layers["queries.iterative_latency_p50_s"],
            "onepass_latency_p50_s": layers["queries.onepass_latency_p50_s"],
        },
    }


COUNTERS = (
    "jobs",
    "build_jobs",
    "stages",
    "tasks",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "python_stages",
)


def after_stop(ctx, result: dict, event_log: str | None) -> None:
    """Traced runs: per-class and per-query stage counters from the Spark
    event log (readable once the session has stopped), averaged per timed
    query run."""
    if not event_log:
        return
    stats = read_event_log(event_log)
    runs = [r for r in result["runs"] if not r.error]
    layers = result["layers"]
    for c in ("iterative", "onepass"):
        rs = [r for r in runs if CLASS[r.name] == c]
        for k in COUNTERS:
            layers[f"query.{c}.{k}"] = mean([stats.get(r.req, {}).get(k, 0.0) for r in rs])
    for name in dict.fromkeys(MIX):
        rs = [r for r in runs if r.name == name]
        layers[f"query.{name}.jobs"] = mean([stats.get(r.req, {}).get("jobs", 0.0) for r in rs])
