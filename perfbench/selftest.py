"""Self-test of the benchmark: every workload at a tiny size, untraced and
traced, must finish correct with no failed operation and emit every metric
BENCHMARK.json declares, with the declared unit.

    python3 perfbench/selftest.py [workload ...]

Takes a few minutes (one JVM start per run). Exits 1 on the first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, trace: int) -> dict:
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if res.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {res.returncode}:\n{res.stderr[-3000:]}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def check(result: dict, declared: list[dict], label: str) -> list[str]:
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{label}: keys {sorted(result)}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        problems.append(f"{label}: correct={result['correct']} failed={result['failed']} "
                        f"attempted={result['attempted']} (error_rate must be 0)")
    got = result["metrics"]
    for m in declared:
        if m["name"] not in got:
            problems.append(f"{label}: missing {m['name']}")
        elif got[m["name"]]["unit"] != m["unit"] or not isinstance(got[m["name"]]["value"], (int, float)):
            problems.append(f"{label}: {m['name']} = {got[m['name']]}, declared unit {m['unit']}")
    extra = set(got) - {m["name"] for m in declared}
    if extra:
        problems.append(f"{label}: undeclared metrics {sorted(extra)}")
    return problems


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, HERE)
    from run import WORKLOADS

    problems = []
    for workload in argv or WORKLOADS:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            label = f"{workload} trace={trace}"
            found = check(run_once(workload, trace), declared, label)
            print(f"{label}: {'ok' if not found else 'FAIL'}", flush=True)
            problems += found
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
