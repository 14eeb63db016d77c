"""Run instruments: py4j round trips, codegen compiles and Spark jobs.

Every ``F.<fn>(...)``/Column-operator call in PySpark is a run of
synchronous py4j ``send_command`` round trips, so the number of round
trips a query's build makes is a load-independent measure of its driver
construction cost: unlike wall time it does not move with CPU steal.
``counting()`` measures it; ``bench.py`` records it per query as
``build_py4j_calls``.

``compiling(spark)`` is the execution-side counterpart: the number of
classes Spark's codegen compiles inside a block, i.e. the generated
classes that missed the session's class cache. ``spark_jobs(spark, run)``
counts the Spark jobs a call starts.
"""

from __future__ import annotations

import contextlib
import os
import threading

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


def spark_jobs(spark, run):
    """``run()``'s result and the number of Spark jobs it started from this
    thread."""
    sc = spark.sparkContext
    group = f"spark_jobs-{os.getpid()}-{id(run)}"
    sc.setJobGroup(group, "spark_jobs")
    try:
        result = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))
