"""Interleaved fresh-process A/B of the SAME query set across two TREES.

The r15 verdict's evidence gap: every per-query claim that round was
HEAD-variant-vs-HEAD-variant, never HEAD-vs-r14, so "the tree did not
regress" rested on static argument while the committed closing pair showed
Spark 1.46x r14 on a window where DuckDB was flat. This tool closes that
gap the way the host demands (see memory: steal is load-dependent —
adjudicate via interleaved A/Bs and POOLED MINS, never single cells):

- each (tree, pair) cell is its OWN subprocess with cwd/PYTHONPATH set to
  that tree, so each side runs its tree's session.py/queries unmodified;
- cells strictly interleave A,B,A,B,... so host drift hits both sides;
- per query per cell: 1 prime + 2 timed ``count()`` runs (the bench's
  timed action), min kept; across cells the estimator is the POOLED MIN
  (steal is strictly additive, the estimator is tree-symmetric);
- load averages are stamped per cell so a degraded window is visible.

Usage:
  python tools/bench_ab_trees.py --tree-a . --tree-b <worktree> \
      --queries q05_nation_volume,... [--pairs 4] [--label r16_head_vs_r14]
  python tools/bench_ab_trees.py --cell --queries ...   # internal
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CELL_TIMEOUT = 2400


def cell(queries: list[str]) -> None:
    """Run in the CURRENT tree (cwd on sys.path): 1 prime + 2 timed."""
    sys.path.insert(0, os.getcwd())
    from csv_loader_spark.queries.registry import all_specs
    from csv_loader_spark.session import get_spark

    spark = get_spark("bench_ab_trees")
    specs = all_specs()
    for name in queries:
        fn = specs[name].fn
        spark.sparkContext.setJobDescription(f"ab:{name}")
        fn(spark, SF_DIR).count()  # prime
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            runs.append(round(time.perf_counter() - t0, 3))
        print(json.dumps({"query": name, "runs": runs}), flush=True)
    spark.stop()


def run_cell(tree: str, queries: list[str]) -> dict[str, float]:
    env = dict(os.environ)
    env["PYTHONPATH"] = tree
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--cell",
         "--queries", ",".join(queries)],
        cwd=tree, env=env, capture_output=True, text=True,
        timeout=CELL_TIMEOUT,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError(f"cell failed in {tree}")
    mins: dict[str, float] = {}
    for line in out.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            row = json.loads(line)
            mins[row["query"]] = min(row["runs"])
    return mins


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cell", action="store_true")
    ap.add_argument("--queries", required=True)
    ap.add_argument("--tree-a")
    ap.add_argument("--tree-b")
    ap.add_argument("--pairs", type=int, default=4)
    ap.add_argument("--label", default="ab_trees")
    args = ap.parse_args()
    queries = [q.strip() for q in args.queries.split(",") if q.strip()]
    if args.cell:
        cell(queries)
        return
    assert args.tree_a and args.tree_b
    cells: dict[str, list[dict[str, float]]] = {"a": [], "b": []}
    loads: list[list[float]] = []
    for i in range(args.pairs):
        for side, tree in (("a", args.tree_a), ("b", args.tree_b)):
            t0 = time.time()
            mins = run_cell(tree, queries)
            cells[side].append(mins)
            loads.append(list(os.getloadavg()))
            sys.stderr.write(
                f"pair {i} side {side}: cell total "
                f"{sum(mins.values()):.1f}s wall {time.time() - t0:.0f}s "
                f"load {os.getloadavg()[0]:.1f}\n"
            )
    pooled = {}
    for q in queries:
        a = min(c[q] for c in cells["a"] if q in c)
        b = min(c[q] for c in cells["b"] if q in c)
        pooled[q] = {
            "a_min": a, "b_min": b, "ratio_a_over_b": round(a / b, 3),
            "a_cells": [c.get(q) for c in cells["a"]],
            "b_cells": [c.get(q) for c in cells["b"]],
        }
    ratios = sorted(v["ratio_a_over_b"] for v in pooled.values())
    geo = 1.0
    for r in ratios:
        geo *= r
    geo = geo ** (1.0 / len(ratios))
    print(json.dumps({
        "label": args.label, "sf_dir": SF_DIR,
        "tree_a": args.tree_a, "tree_b": args.tree_b,
        "pairs": args.pairs, "estimator": "pooled_min",
        "geomean_a_over_b": round(geo, 4),
        # the mean of the two middle ratios when the count is even
        "median_a_over_b": round(statistics.median(ratios), 4),
        "per_query": pooled, "loads_after_cells": loads,
    }))


if __name__ == "__main__":
    main()
