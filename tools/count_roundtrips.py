"""Count py4j round trips (and wall time) spent BUILDING each query's
DataFrame — the driver-side construction cost that r15 showed dominates
the per-query floor on a loaded driver host.

Every `F.<fn>(...)`/Column-operator call in PySpark is a run of
synchronous py4j `send_command` round trips (reflection + invoke; with
PySpark 4's DataFrame query-context capture about 15 per call). The
count is a load-independent measure of construction cost: unlike wall
time it does not move with CPU steal, so before/after construction-cost
claims are made in counts first and wall clock second. Counts in
OPTIMIZATION_r15.md came from an earlier patch that wrapped
`send_command` twice and so counted every round trip twice.

Usage:
    python tools/count_roundtrips.py [sf_dir] [query_name ...]

Prints one line per query: `<calls> <build_seconds> <name>`, sorted by
calls descending, plus a total. Only construction is measured — nothing
is executed (no actions), so this is safe to run on any sf_dir.

`compiling(spark)` is the execution-side counterpart: the number of
classes Spark's codegen compiles inside a block, i.e. the
generated classes that missed the session's class cache.
"""

from __future__ import annotations

import contextlib
import sys
import threading
import time
from pathlib import Path

from py4j import clientserver, java_gateway


@contextlib.contextmanager
def counting():
    """Count the py4j round trips the calling thread makes inside the block.

    Yields a dict whose ``"n"`` grows by one per ``send_command``. Only a
    class that defines ``send_command`` itself is wrapped: ``JavaClient``
    inherits ``GatewayClient``'s, and wrapping both would count each
    round trip twice. Other threads are not counted: py4j's finalizer
    thread sends the deletes of freed proxies, whenever they were freed,
    on its own schedule."""
    counter = {"n": 0}
    caller = threading.get_ident()
    patched = []
    for cls in (java_gateway.GatewayClient, clientserver.JavaClient):
        orig = vars(cls).get("send_command")
        if orig is None:
            continue

        def wrapped(self, *a, _orig=orig, **kw):
            if threading.get_ident() == caller:
                counter["n"] += 1
            return _orig(self, *a, **kw)

        cls.send_command = wrapped
        patched.append((cls, orig))
    try:
        yield counter
    finally:
        for cls, orig in patched:
            cls.send_command = orig


@contextlib.contextmanager
def compiling(spark):
    """Count the classes Spark's codegen compiles inside the block.

    Yields a dict whose ``"n"`` is set on exit to the change in
    ``CodegenMetrics.METRIC_COMPILATION_TIME``'s count: one Janino compile
    per generated class not found in the cache. The metric is JVM-wide, so
    compiles on behalf of other threads in the same JVM count too."""
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    delta = {"n": 0}
    before = timer.getCount()
    try:
        yield delta
    finally:
        delta["n"] = timer.getCount() - before


def main() -> int:
    with counting() as counter:
        return _report(counter)


def _report(counter: dict) -> int:
    # the checkout this script lives in, whatever the working directory
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from csv_loader_spark.session import get_spark
    from csv_loader_spark.queries.registry import all_specs

    argv = [a for a in sys.argv[1:]]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    spark = get_spark("count_roundtrips")
    rows = []
    for name, spec in all_specs().items():
        if only and name not in only:
            continue
        before = counter["n"]
        t0 = time.time()
        spec.fn(spark, sf_dir)  # build only — no action
        rows.append((counter["n"] - before, time.time() - t0, name))
    rows.sort(reverse=True)
    total = sum(r[0] for r in rows)
    for calls, sec, name in rows:
        print(f"{calls:7d} {sec:7.3f}s {name}")
    print(f"{total:7d} TOTAL over {len(rows)} queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
