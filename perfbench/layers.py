"""The traced run: spans, a py4j call counter, and one probe per layer.

Everything here wraps calls into the package from outside it. Spans stay
in memory and are written once at the end. The probes time each layer's
public functions on their own, read the per-batch durations a streaming
query reports in ``recentProgress``, and read jobs, stages, tasks, shuffle
bytes, spill, executor and GC time per query from Spark's JSON event log
(one job group per query).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import random
import statistics
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field


class Tracer:
    """Spans with name, start, end and parent; a no-op when disabled."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        calls = self.py4j_calls
        try:
            yield
        finally:
            rec["end"] = time.monotonic()
            rec["py4j_calls"] = self.py4j_calls - calls
            self._stack.pop()

    def write(self, path: str, per_layer: dict, detail: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"per_layer": per_layer, "detail": detail, "spans": self.spans}, fh, indent=1)


def count_py4j_calls(tracer: Tracer) -> None:
    """Count every py4j ``send_command`` (one driver→JVM round trip) on
    ``tracer.py4j_calls``, as tools/count_roundtrips.py does."""
    from py4j import clientserver, java_gateway

    for cls in (java_gateway.GatewayClient, clientserver.JavaClient):
        orig = cls.send_command

        def wrapped(self, *a, _orig=orig, **kw):
            tracer.py4j_calls += 1
            return _orig(self, *a, **kw)

        cls.send_command = wrapped


@dataclass
class Probes:
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    groups: list = field(default_factory=list)  # job groups of the query probe
    detail: dict = field(default_factory=dict)
    correct: bool = True


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, reps: int = 1) -> float:
    """Median wall seconds of ``reps`` calls."""
    samples = []
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        samples.append(time.monotonic() - t0)
    return statistics.median(samples)


def probe_ingest(ctx, out: Probes) -> None:
    import gen
    from receiver import ReceiverProcess, decode_envelope

    from csv_loader_spark.io import pings as P
    from csv_loader_spark.sinks.envelope import encode_envelope
    from csv_loader_spark.sinks.http import BATCH_SIZE, post_bytes, write_http

    spark, tracer, seed = ctx.spark, ctx.tracer, ctx.seed
    path = os.path.join(ctx.run_dir, "probe-pings.csv")
    exp = gen.write_pings(path, seed, ctx.sizes.csv_rows)
    m = out.metrics
    with tracer.span("io.pings.read_pings_raw"):
        scan_s = _timed(lambda: _noop(P.read_pings_raw(spark, path)), reps=3)
    with tracer.span("io.pings.project_pings"):
        full_s = _timed(lambda: _noop(P.read_pings(spark, path)), reps=3)
    m["io.pings.scan_s"] = (scan_s, "s")
    m["io.pings.project_s"] = (full_s - scan_s, "s")
    m["io.pings.input_partitions"] = (P.read_pings(spark, path).rdd.getNumPartitions(), "count")
    with tracer.span("io.pings.distinct_vehicle_counts"):
        t0 = time.monotonic()
        counts = P.distinct_vehicle_counts(P.read_pings(spark, path)).collect()[0]
        m["io.pings.distinct_s"] = (time.monotonic() - t0, "s")
    with tracer.span("io.pings.rejected_pings"):
        raw = P.read_pings_raw(spark, path)
        rows_in = raw.count()
        rejected = Counter(
            {r["reject_reason"]: r["count"] for r in P.rejected_pings(raw).groupBy("reject_reason").count().collect()}
        )
        rows_out = P.read_pings(spark, path).count()
    m["io.pings.rows_in"] = (rows_in, "count")
    m["io.pings.rows_out"] = (rows_out, "count")
    for reason in ("bad_latlon", "bad_time", "bad_vehicle_id"):
        m[f"io.pings.rows_rejected.{reason}"] = (rejected[reason], "count")
    m["io.pings.yield"] = (rows_out / rows_in, "ratio")
    out.correct &= (rows_in, rows_out, rejected, counts["n_vehicles"], counts["n_ids"]) == (
        exp.rows_in, exp.rows_out, exp.rejected, exp.n_vehicles, exp.n_ids)

    rows = [(r["vehicle_id"], r["lat"], r["lon"], r["ts_millis"]) for r in P.read_pings(spark, path).collect()]
    chunks = [rows[i : i + BATCH_SIZE] for i in range(0, len(rows), BATCH_SIZE)]
    source_id = random.Random(seed).getrandbits(63)
    with tracer.span("sinks.envelope.encode_envelope"):
        enc_s = _timed(lambda: [encode_envelope(source_id, c) for c in chunks], reps=3)
    payloads = [encode_envelope(source_id, c) for c in chunks]
    m["sinks.envelope.encode_rows_per_s"] = (len(rows) / enc_s, "rows/s")
    m["sinks.envelope.bytes_per_row"] = (sum(map(len, payloads)) / len(rows), "bytes/row")

    with ReceiverProcess() as receiver:
        posts = []
        with tracer.span("sinks.http.post_bytes"):
            for _ in range(3):
                for p in payloads:
                    posts.append(_timed(lambda p=p: post_bytes(receiver.url, p, max_retries=0)) * 1000)
        m["sinks.http.post_ms_p50"] = (statistics.median(posts), "ms")
        start = time.monotonic()
        with tracer.span("sinks.http.write_http"):
            write_s = _timed(lambda: write_http(P.read_pings(spark, path), receiver.url, source_id + 1))
        m["sinks.http.sink_s"] = (write_s - full_s, "s")
        bodies, requests, non_2xx = receiver.dump()
    sink_bodies = [b for t, b in bodies if t >= start]
    m["sinks.http.envelopes"] = (len(sink_bodies), "count")
    m["sinks.http.non_2xx"] = (non_2xx, "count")
    m["sinks.http.duplicate_envelopes"] = (len(sink_bodies) - len(set(sink_bodies)), "count")
    delivered = Counter(row for b in sink_bodies for row in decode_envelope(b)[1])
    out.correct &= delivered == exp.accepted and non_2xx == 0


def probe_stream(ctx, out: Probes) -> None:
    import gen
    from receiver import ReceiverProcess

    from csv_loader_spark.io.pings import read_pings
    from csv_loader_spark.streaming.pings import (
        IngestMetrics, stream_pings, update_batch_metrics, write_stream_http,
    )

    spark, tracer, sizes = ctx.spark, ctx.tracer, ctx.sizes
    src, exp = gen.write_gz_dir(
        os.path.join(ctx.run_dir, "probe-gz"), ctx.seed, sizes.gz_files, sizes.gz_rows
    )
    m = out.metrics
    with ReceiverProcess() as receiver, tracer.span("streaming.pings.write_stream_http"):
        query, state = write_stream_http(
            stream_pings(spark, src, max_files_per_trigger=1), receiver.url,
            random.Random(ctx.seed).getrandbits(63), os.path.join(ctx.run_dir, "probe-ckpt"),
            metrics="approx", available_now=True,
        )
        query.awaitTermination()
    progress = [p.durationMs for p in query.recentProgress if p.numInputRows > 0]

    def per_batch(*keys: str) -> float:
        return statistics.median(sum(d.get(k, 0) for k in keys) for d in progress)

    m["streaming.pings.batches"] = (len(progress), "count")
    m["streaming.pings.add_batch_ms"] = (per_batch("addBatch"), "ms")
    m["streaming.pings.query_planning_ms"] = (per_batch("queryPlanning"), "ms")
    m["streaming.pings.commit_ms"] = (per_batch("walCommit", "commitOffsets"), "ms")
    m["streaming.pings.source_ms"] = (per_batch("getBatch", "latestOffset"), "ms")
    out.correct &= state.records == exp.rows_out and len(progress) == sizes.gz_files

    one_file = sorted(glob.glob(os.path.join(src, "*.gz")))[0]
    m["io.pings.gz_input_partitions"] = (read_pings(spark, one_file).rdd.getNumPartitions(), "count")
    batch = read_pings(spark, one_file).persist()
    try:
        batch.count()
        with tracer.span("streaming.pings.update_batch_metrics"):
            t0 = time.monotonic()
            update_batch_metrics(IngestMetrics(), batch, 0, "approx")
            m["streaming.pings.metrics_s"] = (time.monotonic() - t0, "s")
    finally:
        batch.unpersist()


def probe_queries(ctx, specs, out: Probes, warm_up: bool) -> None:
    """One warm-up pass if ``warm_up``, then one pass with a job group per
    query: build (``spec.fn``), Catalyst phases of the built plan, and a
    noop action."""
    import gen

    spark, tracer = ctx.spark, ctx.tracer
    sf_dir = os.path.join(ctx.run_dir, "sf")
    if not os.path.isdir(sf_dir):
        gen.write_tables(sf_dir, ctx.seed, ctx.sizes.sf)
    sc = spark.sparkContext
    for spec in specs if warm_up else ():
        _noop(spec.fn(spark, sf_dir))
    totals: dict[str, float] = defaultdict(float)
    per_query = {}
    for spec in specs:
        q = {}
        sc.setJobGroup(f"{spec.name}:build", "build")
        calls = tracer.py4j_calls
        with tracer.span(f"queries.{spec.name}.build"):
            t0 = time.monotonic()
            df = spec.fn(spark, sf_dir)
            q["build_s"] = time.monotonic() - t0
        q["build_py4j_calls"] = tracer.py4j_calls - calls
        q["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"{spec.name}:build"))
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            q[f"{phase}_ms"] = phases.apply(phase).durationMs() if phases.contains(phase) else 0
        sc.setJobGroup(spec.name, "exec")
        with tracer.span(f"queries.{spec.name}.exec"):
            t0 = time.monotonic()
            _noop(df)
            q["exec_s"] = time.monotonic() - t0
        per_query[spec.name] = q
        for k, v in q.items():
            totals[k] += v
        out.groups += [spec.name, f"{spec.name}:build"]
    sc.setLocalProperty("spark.jobGroup.id", None)
    units = {"build_py4j_calls": "count", "build_jobs": "count"}
    for k, v in totals.items():
        out.metrics[f"queries.{k}"] = (v, units.get(k, "ms" if k.endswith("_ms") else "s"))
    out.detail["queries"] = per_query


def probe_all(ctx, specs, queries_warm: bool) -> Probes:
    """Every layer probe, whatever the workload, so that each traced run
    reports every per-layer metric. ``queries_warm``: the workload loop
    has already run the queries, so their probe needs no warm-up pass."""
    out = Probes()
    with ctx.tracer.span("probe.ingest"):
        probe_ingest(ctx, out)
    with ctx.tracer.span("probe.stream"):
        probe_stream(ctx, out)
    with ctx.tracer.span("probe.queries"):
        probe_queries(ctx, specs, out, warm_up=not queries_warm)
    return out


EVENTLOG_METRICS = {
    # name: (unit, task-metrics accessor)
    "tasks": ("count", lambda tm: 1),
    "shuffle_read_bytes": ("bytes", lambda tm: tm.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
                           + tm.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)),
    "shuffle_write_bytes": ("bytes", lambda tm: tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)),
    "spill_bytes": ("bytes", lambda tm: tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)),
    "executor_run_ms": ("ms", lambda tm: tm.get("Executor Run Time", 0)),
    "executor_cpu_ms": ("ms", lambda tm: tm.get("Executor CPU Time", 0) / 1e6),
    "gc_ms": ("ms", lambda tm: tm.get("JVM GC Time", 0)),
}


def read_event_log(events_dir: str, groups: set[str]) -> dict[str, float]:
    """Jobs, stages and task-metric sums over the jobs of ``groups``."""
    totals = dict.fromkeys(["jobs", "stages", *EVENTLOG_METRICS], 0.0)
    stage_in_group: set[int] = set()
    # Spark 4 writes eventlog_v2_<app>/events_<n>_<app>; older ones one file
    for path in glob.glob(os.path.join(events_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    if ev.get("Properties", {}).get("spark.jobGroup.id") in groups:
                        totals["jobs"] += 1
                        stage_in_group.update(ev["Stage IDs"])
                elif kind == "SparkListenerStageSubmitted":
                    totals["stages"] += ev["Stage Info"]["Stage ID"] in stage_in_group
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_in_group:
                    tm = ev.get("Task Metrics") or {}
                    for name, (_, get) in EVENTLOG_METRICS.items():
                        totals[name] += get(tm)
    return totals


def finish(probes: Probes, tracer: Tracer, run_dir: str, setup_s: float, rss_mb: float, outcome) -> dict:
    """The per-layer metrics of a traced run, read after Spark has stopped
    so that the event log is complete."""
    m = dict(probes.metrics)
    m["session.get_spark_s"] = (setup_s, "s")
    m["session.peak_rss_mb"] = (rss_mb, "MB")
    m["trace.pass_s"] = (statistics.median(outcome.passes), "s")
    log = read_event_log(os.path.join(run_dir, "events"), set(probes.groups))
    for name, value in log.items():
        unit = "count" if name in ("jobs", "stages") else EVENTLOG_METRICS[name][0]
        m[f"queries.{name}"] = (value, unit)
    return {k: {"value": v, "unit": u} for k, (v, u) in sorted(m.items())}
