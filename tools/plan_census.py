"""Regenerate docs/PLAN_CENSUS.json: per-query physical-plan shape counts
(exchanges, parquet scans, join strategies, Python stages) for every
registered query at sf0.001.

The census is the committed baseline `tests/test_plan_census.py` holds the
suite to: a change that adds an Exchange / extra scan / sort-merge join /
Python stage to ANY query fails the test until the census is consciously
regenerated — plan regressions become diffs in review, not production
surprises. Regenerate with:

    python tools/plan_census.py
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.001"
OUT = os.path.join(ROOT, "docs", "PLAN_CENSUS.json")


def census_for(df) -> dict[str, int]:
    from trike_spark import plans

    tree = plans.plan_tree(df)
    return {
        "exchanges": plans.shuffle_count(df),
        "scans": plans.scan_count(df),
        "bhj": tree.count("BroadcastHashJoin"),
        "bnlj": tree.count("BroadcastNestedLoopJoin"),
        "smj": tree.count("SortMergeJoin"),
        "python": sum(
            tree.count(n)
            for n in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
        ),
        # Unpartitioned WindowExec nodes: each collapses its input to ONE
        # task. The committed counts are the allowlist — every remaining
        # one sits on a bounded stats/sketch table (band offsets, ≤2K
        # sketch rows, dimension summaries); adding a NEW one to any
        # query fails the monotone census gate until consciously
        # regenerated and justified.
        "gwin": plans.unpartitioned_window_count(df),
    }


def main() -> None:
    from trike_spark.cache import release_checkpoints
    from trike_spark.registry import REGISTRY, load_all_query_modules
    from trike_spark.session import get_spark

    load_all_query_modules()
    spark = get_spark("plan-census")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict[str, int]] = {}
    for name in sorted(REGISTRY):
        df = REGISTRY[name].fn(spark, SF_DIR)
        out[name] = census_for(df)
        release_checkpoints()

    with open(OUT, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {OUT}: {len(out)} queries")


if __name__ == "__main__":
    main()
