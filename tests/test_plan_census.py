"""Plan-census regression gate: every registered query's physical-plan
shape counts must not regress past the committed baseline
(docs/PLAN_CENSUS.json, regenerated via tools/plan_census.py).

"Regress" is one-sided: FEWER exchanges/scans/SMJs/Python stages than the
baseline passes (improvements don't block), MORE fails — adding a shuffle
to a query is a conscious act that must come with a census regeneration in
the same diff, where the reviewer sees it."""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from plan_census import OUT, SF_DIR, census_for  # noqa: E402

from trike_spark.cache import release_checkpoints
from trike_spark.registry import REGISTRY, load_all_query_modules

load_all_query_modules()

with open(OUT) as f:
    BASELINE = json.load(f)

# counts where MORE is a regression ("gwin" = unpartitioned windows: the
# committed baseline is the allowlist of sanctioned bounded-input ones)
MONOTONE = ("exchanges", "scans", "smj", "python", "bnlj", "gwin")


def test_census_covers_registry():
    missing = sorted(set(REGISTRY) - set(BASELINE))
    assert not missing, (
        f"queries missing from PLAN_CENSUS.json: {missing} — "
        "run `python tools/plan_census.py`"
    )


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_plan_shape_does_not_regress(spark, name):
    if name not in BASELINE:
        pytest.skip("new query — regenerate census")
    df = REGISTRY[name].fn(spark, SF_DIR)
    got = census_for(df)
    release_checkpoints()
    base = BASELINE[name]
    worse = {
        k: (base[k], got[k]) for k in MONOTONE if got[k] > base[k]
    }
    assert not worse, (
        f"{name} plan regressed (baseline, now): {worse} — if intentional, "
        "regenerate docs/PLAN_CENSUS.json via tools/plan_census.py"
    )
