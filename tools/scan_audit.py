"""Registry-wide fact-scan / join-shape audit (the r12 perf harness).

For every registry entry, prints how many times each fact table's
parquet is scanned by the physical plan plus the SortMergeJoin count —
the cheap smell test for scan amplification (a CTE or DataFrame
referenced N ways re-derives its lineage N times; at 100 TB each extra
fact reference is a full corpus pass).

Reading the numbers honestly:
  - documents-based dedup entries go through augmented_corpus, which is
    a 3-branch union — ONE consumption of the corpus prints as 3 scans.
  - counts are PHYSICAL scans (`physical_scans`): the plan string
    re-embeds a persisted subtree once per InMemoryRelation reference,
    but at runtime it materializes once, so each distinct cached
    subtree is counted once. The `caches` column still shows how many
    references there were.
  - after an action runs, AQE plan strings repeat the tree under
    '== Initial Plan ==' (a cached subtree materialized by an earlier
    query prints that way too); `physical_scans` skips that reprint.
Wall-clock is the deciding evidence: the r12 lesson (NOTES.md) is that
scan counts guide WHERE to look, but every persist/rewrite must be
timed before/after in a matched harness — two plausible containment
rewrites measured SLOWER than the multi-scan original.

Spark 4.1 pitfall this tool catches (high scans + caches == 0 on an
entry that DOES persist): a persisted temp view referenced from inside
a non-trivial CTE definition is NOT substituted with its
InMemoryRelation — the persist is silently dead and the full lineage
recomputes per reference. Plain references, self-joins, and nested
subqueries substitute fine; trivial `x AS (SELECT * FROM view)`
aliases also survive. Rewrite the consumer SQL with nested subqueries
(winnowing / seq_rules in this repo are the probed examples).

Usage:
    python tools/scan_audit.py [sf_dir] [min_scans]
    python tools/scan_audit.py --prune [sf_dir]
defaults: /root/testdata/sf0.001, 4

--prune runs the column-pruning axis instead: flags any FileScan of a
fact table whose ReadSchema carries the table's full column width (a
projection that never reached the scan). Clean result = 0 flagged
(measured clean across all 391 entries in r12).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACTS = [
    "lineitem.parquet",
    "orders.parquet",
    "events.parquet",
    "documents.parquet",
    "embeddings.parquet",
]

#: full column counts per fact table — a scan at this width is unpruned
FACT_WIDTHS = {
    "lineitem": 16,
    "orders": 9,
    "events": 6,
    "documents": 6,
    "embeddings": 3,
}


def plan_nodes(plan: str) -> list[tuple[int, str]]:
    """(depth, node text) per line of a physical plan tree string; depth
    is the width of the tree-drawing prefix."""
    nodes = []
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if line[depth:]:
            nodes.append((depth, line[depth:]))
    return nodes


def subtree_end(nodes: list[tuple[int, str]], i: int) -> int:
    """Index one past the last descendant of node `i`."""
    end = i + 1
    while end < len(nodes) and nodes[end][0] > nodes[i][0]:
        end += 1
    return end


def physical_scans(plan: str, table: str) -> int:
    """FileScans of `table` that run: each distinct cached subtree counts
    once however many InMemoryRelation references print it, and AQE's
    '== Initial Plan ==' reprint is skipped."""
    nodes = plan_nodes(plan)
    seen, n, i = set(), 0, 0
    while i < len(nodes):
        depth, text = nodes[i]
        if text.startswith("== Initial Plan =="):
            # AQE prints the section's nodes at the header's own depth
            while i < len(nodes) and nodes[i][0] >= depth:
                i += 1
            continue
        if text.startswith("InMemoryRelation"):
            end = subtree_end(nodes, i)
            body = tuple((d - depth, t) for d, t in nodes[i + 1 : end])
            if body in seen:
                i = end
                continue
            seen.add(body)
        if text.startswith("FileScan") and f"/{table}.parquet" in text:
            n += 1
        i += 1
    return n


def prune_audit(sf_dir: str) -> int:
    from movie_data_transformer_spark import registry
    from movie_data_transformer_spark.session import get_spark

    spark = get_spark("prune-audit")
    flagged = set()
    for name, fn in registry.spark_queries().items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # pragma: no cover - diagnostic tool
            print(f"ERR  {name}: {str(exc)[:80]}")
            continue
        for m in re.finditer(
            r"FileScan parquet \[([^\]]*)\][^\n]*?Location[^\n]*?/(\w+)\.parquet", plan
        ):
            cols = [c for c in m.group(1).split(", ") if c]
            tbl = m.group(2)
            w = FACT_WIDTHS.get(tbl)
            if w and len(cols) >= w:
                flagged.add((name, tbl, len(cols)))
    for row in sorted(flagged):
        print(row)
    print(f"PRUNE AUDIT DONE: {len(flagged)} full-width fact scans")
    return 0


def main() -> int:
    from movie_data_transformer_spark import registry
    from movie_data_transformer_spark.session import get_spark

    args = sys.argv[1:]
    if args and args[0] == "--prune":
        return prune_audit(args[1] if len(args) > 1 else "/root/testdata/sf0.001")
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    min_scans = int(args[1]) if len(args) > 1 else 4

    spark = get_spark("scan-audit")
    flagged = []
    for name, fn in registry.spark_queries().items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # pragma: no cover - diagnostic tool
            print(f"ERR  {name}: {str(exc)[:80]}")
            continue
        counts = {f.split(".")[0]: physical_scans(plan, f.split(".")[0]) for f in FACTS}
        total = sum(counts.values())
        smj = plan.count("SortMergeJoin")
        caches = plan.count("InMemoryRelation")
        if total >= min_scans or smj:
            flagged.append((total, name, counts, smj, caches))
    for total, name, counts, smj, caches in sorted(flagged, reverse=True):
        busy = {k: v for k, v in counts.items() if v}
        print(f"{total:3d}  {name}  {busy}  smj={smj}  caches={caches}")
    print(f"AUDIT DONE: {len(flagged)} entries at >= {min_scans} scans or with SMJs")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
