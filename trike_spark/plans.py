"""Physical-plan introspection — the engine's guardrails for 100 TB scale.

Correctness says *what* a query returns; these helpers pin *how*: filters
reach the parquet scan (PushedFilters), small dims broadcast instead of
shuffling the fact, projections prune columns (ReadSchema), and the hot
path stays inside WholeStageCodegen. Tests assert these properties so a
regression in plan shape fails CI the same way a wrong result would.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_tree(df: DataFrame) -> str:
    """Just the operator tree (formatted output repeats every operator in
    the details section, which double-counts naive string counts)."""
    full = formatted_plan(df)
    return full.split("\n\n(", 1)[0]


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across scans."""
    plan = formatted_plan(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    return any(fragment in pf for pf in pushed_filters(df))


def broadcast_join_count(df: DataFrame) -> int:
    return plan_tree(df).count("BroadcastHashJoin")


def shuffle_count(df: DataFrame) -> int:
    """Exchange operators in the plan (AQE may collapse some at runtime)."""
    return len(re.findall(r"\bExchange\b", plan_tree(df)))


def sort_merge_join_count(df: DataFrame) -> int:
    return plan_tree(df).count("SortMergeJoin")


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of each scan — proves column pruning."""
    return re.findall(r"ReadSchema: (struct<[^>]*>)", formatted_plan(df))


def scan_count(df: DataFrame) -> int:
    return plan_tree(df).count("Scan parquet")


def _top_level_bracket_groups(s: str) -> list[str]:
    """Top-level [...] group contents of a plan Arguments line (expression
    text may nest brackets, so track depth instead of splitting)."""
    depth = 0
    groups: list[str] = []
    start = 0
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(s[start:i])
    return groups


def _unpartitioned_window_ids(plan: str) -> list[int]:
    """Node ids of WindowExec nodes with NO partition spec. In
    ``explain("formatted")`` a Window node's Arguments line is
    ``[exprs], [partition], [order]``; either trailing group may be
    absent. A node is unpartitioned iff no plain-column partition group
    remains after the exprs — i.e. it has only an order group (every
    order element carries a NULLS FIRST/LAST marker) or nothing. The one
    detection heuristic shared by the census count, the partition-spec
    lister, and the subtree walker — fix it here, every consumer agrees."""
    ids: list[int] = []
    for m in re.finditer(r"\((\d+)\) Window\s*\nInput[^\n]*\nArguments: ([^\n]*)", plan):
        groups = _top_level_bracket_groups(m.group(2))
        if not any("NULLS" not in g for g in groups[1:]):
            ids.append(int(m.group(1)))
    return ids


def unpartitioned_window_count(df: DataFrame) -> int:
    """Count of Window nodes with no partition spec — each collapses its
    whole input onto a single task (the classic global-window scale
    killer). Bounded inputs (sketch registers, band stats) are the only
    sanctioned uses; the census baseline is the allowlist."""
    return len(_unpartitioned_window_ids(formatted_plan(df)))


def _tree_nodes(df: DataFrame) -> list[tuple[int, str, int]]:
    """(indent, operator name, node id) per tree line, in tree order.
    Indent is the position of the ``+-``/``:-`` branch marker (-1 for the
    root), which is immune to the ``* `` codegen star the lstrip-based
    depth would trip on."""
    out: list[tuple[int, str, int]] = []
    for line in plan_tree(df).splitlines():
        m = re.search(r"([A-Za-z][A-Za-z0-9_ ]*?)\s*\((\d+)\)\s*$", line)
        if not m:
            continue
        indent = max(line.find("+-"), line.find(":-"))
        out.append((indent, m.group(1).strip(), int(m.group(2))))
    return out


def scan_locations(df: DataFrame) -> dict[int, str]:
    """node id -> Location line of each parquet scan (names the table)."""
    plan = formatted_plan(df)
    return {
        int(m.group(1)): m.group(2)
        for m in re.finditer(
            r"\((\d+)\) Scan parquet[^\n]*\n(?:[^\n]*\n)*?Location: ([^\n]*)", plan
        )
    }


def unpartitioned_window_subtrees(df: DataFrame) -> list[list[tuple[str, int]]]:
    """For each unpartitioned Window node, the (operator name, id) list of
    its INPUT subtree — what the single-task window actually consumes.
    The scale-safety contract for every allowlisted gwin is that this
    subtree bounds its own cardinality (an aggregation to band/cell/dim
    granularity, a top-k, or a bounded dim scan) BEFORE the window; tests
    walk these subtrees to hold that claim structurally."""
    ids = set(_unpartitioned_window_ids(formatted_plan(df)))
    nodes = _tree_nodes(df)
    subtrees: list[list[tuple[str, int]]] = []
    for i, (indent, _name, nid) in enumerate(nodes):
        if nid not in ids:
            continue
        sub: list[tuple[str, int]] = []
        for s_indent, s_name, s_nid in nodes[i + 1 :]:
            if s_indent <= indent:
                break
            sub.append((s_name, s_nid))
        subtrees.append(sub)
    return subtrees


def unpartitioned_window_spines(df: DataFrame) -> list[list[tuple[str, int]]]:
    """For each unpartitioned Window node, the LEFTMOST root-to-leaf path
    of its input subtree — the streamed data lineage the window actually
    orders. Stricter than :func:`unpartitioned_window_subtrees` for
    bounded-input assertions: an aggregate sitting on a broadcast join
    BRANCH (e.g. a crossJoined 1-row total) is NOT on the spine, so a
    window over raw facts × broadcast-agg fails a spine check where the
    whole-subtree check would pass."""
    ids = set(_unpartitioned_window_ids(formatted_plan(df)))
    nodes = _tree_nodes(df)
    spines: list[list[tuple[str, int]]] = []
    for i, (indent, _name, nid) in enumerate(nodes):
        if nid not in ids:
            continue
        spine: list[tuple[str, int]] = []
        prev_indent = indent
        for s_indent, s_name, s_nid in nodes[i + 1 :]:
            if s_indent <= prev_indent:
                break  # left the strictly-descending first-child chain
            spine.append((s_name, s_nid))
            prev_indent = s_indent
        spines.append(spine)
    return spines


def window_partition_specs(df: DataFrame) -> list[str]:
    """Partition-spec text of every Window node ('' when unpartitioned) —
    lets tests assert the heavy window runs keyed (e.g. by a band column)
    while the only unpartitioned ones sit on bounded stats tables."""
    plan = formatted_plan(df)
    specs: list[str] = []
    for m in re.finditer(r"\((\d+)\) Window\s*\nInput[^\n]*\nArguments: ([^\n]*)", plan):
        groups = _top_level_bracket_groups(m.group(2))
        part = [g for g in groups[1:] if "NULLS" not in g]
        specs.append(part[0] if part else "")
    return specs
