"""Central query registry.

Every implemented operator from SURVEY.md §2 registers here as a
:class:`QuerySpec`: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus —
whenever the semantics are SQL-expressible — a DuckDB oracle SQL string the
driver runs side-by-side at sf0.01 (row-count + schema + order-insensitive
value-hash).

Determinism rules (so the value-hash matches across engines):
  * Money/measure aggregates are computed in exact DECIMAL arithmetic on
    BOTH sides, then ``round(_, N)`` and cast to DOUBLE — exact decimal sums
    are order-independent, so Spark's partial aggregation and DuckDB's
    single-threaded fold produce identical bits.
  * Every ORDER BY used for ranking/limiting carries a unique tie-break key.
  * Aggregate/computed columns are aliased identically in both dialects.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver records rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = "") -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def load_all_query_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    # Imports are side-effecting registrations.
    from trike_spark.queries import (  # noqa: F401
        aggregates,
        curation,
        dedup,
        events,
        graph_analytics,
        joins,
        multimodal,
        relational,
        scalars,
        scans,
        setops,
        sketches,
        text,
        training_pipeline,
        trike_pipeline,
        vectors,
        windows,
    )


def _interleave(families: dict[str, list[str]]) -> list[str]:
    """Round-robin across family buckets (each bucket already ordered)."""
    ordered: list[str] = []
    buckets = [families[k] for k in sorted(families)]
    depth = max((len(b) for b in buckets), default=0)
    for i in range(depth):
        for b in buckets:
            if i < len(b):
                ordered.append(b[i])
    return ordered


def interleaved_export_names() -> dict[str, str]:
    """Map registry name → driver-facing export name.

    The driver verifies only the first N exported names in sorted order,
    which (with plain names) was an alphabetical window that never reached
    whole operator families (windows, set ops, text, vectors, …). To make
    ANY first-N window cover every family, exports are renamed to
    ``{rank:0Nd}_{name}`` where rank round-robins across families (module of
    registration); within a family, oracle-backed names come before
    rows-only ones (a capped window should check hashes, not just row
    counts), then alphabetical. Sorted order == interleaved order, so
    a driver that sorts or one that takes dict order sees the same
    family-balanced sequence. Documented in docs/QUERY_ORDER.md.
    """
    load_all_query_modules()
    families: dict[str, list[str]] = {}
    for name in sorted(REGISTRY, key=lambda n: (REGISTRY[n].oracle is None, n)):
        families.setdefault(REGISTRY[name].fn.__module__, []).append(name)
    ordered = _interleave(families)
    width = max(2, len(str(len(ordered) - 1)))
    return {name: f"{rank:0{width}d}_{name}" for rank, name in enumerate(ordered)}


def queries() -> dict[str, QueryFn]:
    load_all_query_modules()
    export = interleaved_export_names()
    return {export[name]: REGISTRY[name].fn for name in sorted(REGISTRY, key=lambda n: export[n])}


def oracle_sql() -> dict[str, str]:
    load_all_query_modules()
    export = interleaved_export_names()
    return {
        export[name]: REGISTRY[name].oracle
        for name in sorted(REGISTRY, key=lambda n: export[n])
        if REGISTRY[name].oracle is not None
    }
