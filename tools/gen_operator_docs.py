"""Generate docs/OPERATORS.md — the full operator index, straight from the
registry (name, family, oracle status, one-line doc). Regenerate with:

    python tools/gen_operator_docs.py

A pytest (tests/test_queries_smoke.py::test_operator_docs_current) keeps
the committed file in sync with the registry, the same way the README
census is enforced.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def render() -> str:
    from trike_spark.registry import REGISTRY, load_all_query_modules

    load_all_query_modules()
    fams: dict[str, list[str]] = defaultdict(list)
    for name, spec in REGISTRY.items():
        fams[spec.fn.__module__.rsplit(".", 1)[-1]].append(name)

    lines = [
        "# Operator index",
        "",
        f"{len(REGISTRY)} registered operators. GENERATED by "
        "`tools/gen_operator_docs.py` — do not edit by hand.",
        "",
        "Every operator is a Spark callable `(spark, sf_dir) -> DataFrame` "
        "plus (unless marked *rows-only*) a DuckDB oracle the driver "
        "hash-verifies it against at sf0.01.",
        "",
    ]
    for fam in sorted(fams):
        lines.append(f"## {fam} ({len(fams[fam])})")
        lines.append("")
        lines.append("| operator | oracle | description |")
        lines.append("|---|---|---|")
        for name in sorted(fams[fam]):
            spec = REGISTRY[name]
            oracle = "hash" if spec.oracle else "rows-only"
            doc = " ".join((spec.doc or "").split())
            lines.append(f"| `{name}` | {oracle} | {doc} |")
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    out = os.path.join(ROOT, "docs", "OPERATORS.md")
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
