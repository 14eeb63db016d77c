"""Benchmark of the ping ingest path and the query engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Each invocation is one closed loop in one
process on ``local[<cores>]``: it builds its inputs from ``--seed`` under
``.perfbench/`` in the checkout, runs the workload through the package's
public entry points for ``--seconds``, checks every output, and prints one
JSON object as its last stdout line. With ``--trace 0`` the object carries
the end-to-end metrics; with ``--trace 1`` the run is instrumented (Spark
event log, py4j call counter, spans around each layer call) and carries
the per-layer metrics instead, and the spans are written to
``.perfbench/trace-<workload>-<seed>.json``. See README.md in this
directory for the workloads and the definition of every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("ingest_csv", "ingest_stream_gz", "query_headline")
SETUP_SAMPLES = 2  # get_spark() timings per run: this process and fresh ones
HARD_LIMIT_S = 170.0  # the whole run, from process start


@dataclass(frozen=True)
class Sizes:
    csv_rows: int  # one plain CSV, posted by the CLI batch path per pass
    gz_files: int  # one gzip file per micro-batch
    gz_rows: int
    sf: float  # scale of the generated star-schema tables


FULL = Sizes(csv_rows=25_000, gz_files=3, gz_rows=10_000, sf=0.1)
TINY = Sizes(csv_rows=2_000, gz_files=2, gz_rows=1_000, sf=0.01)  # selftest.py


@dataclass
class Ctx:
    """What every workload loop and layer probe of one run shares."""

    spark: object
    run_dir: str
    seed: int
    seconds: float
    sizes: Sizes
    tracer: object  # layers.Tracer


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    """A progress line on stderr, stamped with the process age."""
    print(f"perfbench {process_age_s():7.2f}s {msg}", file=sys.stderr, flush=True)


def prepare_env(run_dir: str, trace: bool) -> None:
    """Environment for the JVM and the Python workers, set before the JVM
    starts: the repo on the workers' PYTHONPATH, the core count, and every
    scratch, warehouse and event-log directory inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "events")):
        os.makedirs(d, exist_ok=True)
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pythonpath if pythonpath else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["TMPDIR"] = tmp
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(run_dir, 'events')}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM, which exits when its stdin
    closes, and for the Python workers the JVM started."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    workers = descendants(proc.pid) if proc else []
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 20
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its descendants: the JVM and the
    Python workers (the receiver has exited by the time this is read)."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def setup_probe() -> None:
    """One fresh-process get_spark(); prints the wall-clock time at which
    it returned, then kills the JVM, which ran no job, and exits."""
    prepare_env(os.environ["PERFBENCH_RUN_DIR"], trace=False)
    sys.path.insert(0, ROOT)
    from pyspark import SparkContext

    from csv_loader_spark.session import get_spark

    get_spark("perfbench")
    print(json.dumps({"ready_at": time.time()}), flush=True)
    jvm = SparkContext._gateway.proc
    jvm.kill()
    jvm.wait()
    os._exit(0)  # skip exit handlers that would call into the dead JVM


def probe_setup_s(run_dir: str, n: int) -> list[float]:
    """``n`` fresh processes, one after another: seconds from spawning
    each to its get_spark() returning."""
    env = dict(os.environ, PERFBENCH_RUN_DIR=run_dir)
    out = []
    for _ in range(n):
        spawned = time.time()
        res = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe"],
            env=env, cwd=ROOT, capture_output=True, text=True, timeout=60, check=True,
        )
        out.append(json.loads(res.stdout.strip().splitlines()[-1])["ready_at"] - spawned)
    return out


@dataclass
class Pass:
    start: float
    end: float
    acks: list[float] = field(default_factory=list)
    progress: list = field(default_factory=list)  # StreamingQueryProgress


@dataclass
class Outcome:
    """What a workload loop measured and checked."""

    passes: list[float]  # wall seconds per timed pass
    latencies: list[float]  # seconds per unit operation
    attempted: int
    failed: int
    correct: bool
    detail: dict = field(default_factory=dict)


def timed_loop(seconds: float, one_pass, min_passes: int) -> list:
    """Call ``one_pass`` until ``seconds`` have passed, at least ``min_passes`` times."""
    log("timed window")
    out = []
    t_end = time.monotonic() + seconds
    while len(out) < min_passes or time.monotonic() < t_end:
        out.append(one_pass())
    log("checking")
    return out


def check_deliveries(passes: list[Pass], receiver, expected: Counter) -> tuple[int, int, dict]:
    """Attribute every stored envelope to the pass whose time window holds
    its ack, decode it, and compare each pass's rows with ``expected``.
    Returns (rows attempted, rows failed, receiver-side counts)."""
    from receiver import decode_envelope

    bodies, requests, non_2xx = receiver.dump()
    dup = sum(n - 1 for n in Counter(b for _, b in bodies).values())
    got = [Counter() for _ in passes]
    sources = [set() for _ in passes]
    stray = 0
    for t, body in bodies:
        idx = next((i for i, p in enumerate(passes) if p.start <= t <= p.end), None)
        if idx is None:
            stray += 1
            continue
        sid, rows = decode_envelope(body)
        passes[idx].acks.append(t)
        sources[idx].add(sid)
        got[idx].update(rows)
    per_pass = sum(expected.values())
    failed = 0
    for g, s in zip(got, sources):
        wrong = (g - expected) + (expected - g)
        failed += min(per_pass, sum(wrong.values())) if len(s) == 1 else per_pass
    counts = {"envelopes": len(bodies), "requests": requests, "non_2xx": non_2xx,
              "duplicate_envelopes": dup, "stray_envelopes": stray}
    return per_pass * len(passes), failed + stray, counts


def run_ingest_csv(ctx: Ctx) -> Outcome:
    """The CLI batch path, exactly as ``python -m csv_loader_spark -f F -u URL``."""
    import gen
    from receiver import ReceiverProcess

    from csv_loader_spark import cli

    path = os.path.join(ctx.run_dir, "pings.csv")
    exp = gen.write_pings(path, ctx.seed, ctx.sizes.csv_rows)
    line_ok = re.compile(
        rf"{exp.rows_out / 1e6:.2f}M records loaded, {exp.n_vehicles} unique vehicles "
        rf"\({exp.n_ids} unique ids\)"
    )
    lines_bad = 0
    with ReceiverProcess() as receiver:

        def one_pass() -> Pass:
            nonlocal lines_bad
            out = io.StringIO()
            start = time.monotonic()
            with ctx.tracer.span("cli.main"), contextlib.redirect_stdout(out):
                rc = cli.main(["-f", path, "-u", receiver.url])
            p = Pass(start, time.monotonic())
            lines_bad += rc != 0 or not line_ok.search(out.getvalue())
            return p

        warm = one_pass()  # starts the Python workers; ~4x a later pass
        # the first timed pass is still ~40% slower than the next: the
        # median of three or more leaves it out
        passes = timed_loop(ctx.seconds, one_pass, min_passes=3)
        attempted, failed, counts = check_deliveries([warm, *passes], receiver, exp.accepted)
    walls = [p.end - p.start for p in passes]
    return Outcome(
        passes=walls,
        latencies=[min(p.acks, default=p.end) - p.start for p in passes],
        attempted=attempted,
        failed=failed,
        correct=failed == 0 and lines_bad == 0,
        detail={**counts, "rows_per_pass": exp.rows_out, "cli_lines_bad": lines_bad,
                "rows_per_s_median": exp.rows_out / statistics.median(walls)},
    )


def run_ingest_stream_gz(ctx: Ctx) -> Outcome:
    """``write_stream_http(stream_pings(dir, max_files_per_trigger=1),
    metrics="approx", available_now=True)`` over a directory of gzip files."""
    import gen
    from receiver import ReceiverProcess

    from csv_loader_spark.streaming.pings import stream_pings, write_stream_http

    src, exp = gen.write_gz_dir(
        os.path.join(ctx.run_dir, "gz"), ctx.seed, ctx.sizes.gz_files, ctx.sizes.gz_rows
    )
    rng = random.Random(ctx.seed)
    bad_states, n_passes = 0, 0
    with ReceiverProcess() as receiver:

        def one_pass() -> Pass:
            nonlocal bad_states, n_passes
            n_passes += 1
            ckpt = os.path.join(ctx.run_dir, f"ckpt-{n_passes}")
            start = time.monotonic()
            with ctx.tracer.span("streaming.pings.write_stream_http"):
                query, state = write_stream_http(
                    stream_pings(ctx.spark, src, max_files_per_trigger=1),
                    receiver.url, rng.getrandbits(63), ckpt, metrics="approx", available_now=True,
                )
                query.awaitTermination()
            progress = [q for q in query.recentProgress if q.numInputRows > 0]
            p = Pass(start, time.monotonic(), progress=progress)
            close = lambda a, b: abs(a - b) <= 0.05 * b  # noqa: E731 - HLL error bound
            bad_states += not (
                query.exception() is None
                and state.records == exp.rows_out
                and len(progress) == ctx.sizes.gz_files
                and close(state.approx_vehicles, exp.n_vehicles)
                and close(state.approx_ids, exp.n_ids)
            )
            return p

        warm = one_pass()
        passes = timed_loop(ctx.seconds, one_pass, min_passes=3)
        attempted, failed, counts = check_deliveries([warm, *passes], receiver, exp.accepted)
    walls = [p.end - p.start for p in passes]
    batch_ms = [q.durationMs["triggerExecution"] for p in passes for q in p.progress]
    return Outcome(
        passes=walls,
        latencies=[ms / 1000.0 for ms in batch_ms],
        attempted=attempted,
        failed=failed,
        correct=failed == 0 and bad_states == 0,
        detail={**counts, "rows_per_pass": exp.rows_out, "bad_query_states": bad_states,
                "rows_per_s_median": exp.rows_out / statistics.median(walls)},
    )


def headline_specs():
    from bench import HEADLINE

    from csv_loader_spark.queries.registry import get

    return [get(name) for name in HEADLINE]


def check_queries(spark, sf_dir: str, specs) -> list[str]:
    """Collect every query once and compare it with its DuckDB oracle using
    the project's exact comparison (tools/check_oracle.compare_exact).
    Returns one line per query that raised or mismatched."""
    import importlib.util

    import duckdb

    mod_spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    check_oracle = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(check_oracle)
    con = duckdb.connect()
    for name in os.listdir(sf_dir):
        con.execute(f"CREATE VIEW {name.removesuffix('.parquet')} AS SELECT * FROM '{sf_dir}/{name}'")
    bad = []
    for spec in specs:
        try:
            problems = check_oracle.compare_exact(
                spec.fn(spark, sf_dir).toPandas(), con.execute(spec.oracle).fetchdf()
            )
        except Exception as exc:  # a raising query is a failed query
            problems = [repr(exc)]
        if problems:
            bad.append(f"{spec.name}: {problems[0]}")
    con.close()
    return bad


def run_query_headline(ctx: Ctx) -> Outcome:
    """bench.py's ten HEADLINE queries. One untimed warm-up pass collects
    every result and checks it against its oracle; then timed passes whose
    action is a noop write of every output column (``count()`` would let
    Catalyst prune projected expressions)."""
    import gen

    sf_dir = os.path.join(ctx.run_dir, "sf")
    gen.write_tables(sf_dir, ctx.seed, ctx.sizes.sf)
    specs = headline_specs()
    raised = 0

    def one_pass() -> list[float]:
        nonlocal raised
        times = []
        for spec in specs:
            t0 = time.monotonic()
            try:
                with ctx.tracer.span(f"queries.{spec.name}"):
                    spec.fn(ctx.spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # counted and reported; the pass goes on
                print(f"{spec.name} raised: {exc!r}", file=sys.stderr)
                raised += 1
            times.append(time.monotonic() - t0)
        return times

    log("checking results")
    bad = check_queries(ctx.spark, sf_dir, specs)
    # two passes of ~7 s; a third would not fit the run budget
    passes = timed_loop(ctx.seconds, one_pass, min_passes=2)
    return Outcome(
        passes=[sum(times) for times in passes],
        latencies=[t for times in passes for t in times],
        attempted=len(specs) * (len(passes) + 1),
        failed=len(bad) + raised,
        correct=not bad and not raised,
        detail={"oracle_mismatches": bad,
                "query_median_s": {spec.name: statistics.median(times[i] for times in passes)
                                   for i, spec in enumerate(specs)}},
    )


RUNNERS = {
    "ingest_csv": run_ingest_csv,
    "ingest_stream_gz": run_ingest_stream_gz,
    "query_headline": run_query_headline,
}


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def start_watchdog(cleanup) -> None:
    """Abandon the run, without a result, if it outlives HARD_LIMIT_S: the
    HTTP sink retries transport errors forever by default, so a hung
    delivery must end the run rather than be waited on."""

    def fire() -> None:
        print(f"perfbench: run exceeded {HARD_LIMIT_S:.0f} s, abandoned", file=sys.stderr)
        cleanup()
        os._exit(3)

    timer = threading.Timer(max(1.0, HARD_LIMIT_S - process_age_s()), fire)
    timer.daemon = True
    timer.start()


def kill_children() -> None:
    for pid in descendants(os.getpid()):
        with contextlib.suppress(OSError):
            os.kill(pid, 9)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.setup_probe:
        setup_probe()
    if args.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "csv_loader_spark")):
        print(f"perfbench: no csv_loader_spark package under {ROOT}", file=sys.stderr)
        return 2
    start_watchdog(kill_children)
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    sizes = TINY if args.tiny else FULL
    try:
        result = measure(args.workload, args.seed, args.seconds, bool(args.trace), sizes, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(workload: str, seed: int, seconds: float, trace: bool, sizes: Sizes, run_dir: str) -> dict:
    """One run: set up, run the workload loop (and, traced, the layer
    probes), stop Spark, and return the result object."""
    prepare_env(run_dir, trace)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import layers

    tracer = layers.Tracer(enabled=trace)
    if trace:
        layers.count_py4j_calls(tracer)
    from csv_loader_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    setup = [process_age_s()]
    ctx = Ctx(spark, run_dir, seed, seconds, sizes, tracer)
    try:
        log("session up")
        outcome = RUNNERS[workload](ctx)
        rss = peak_rss_mb()
        if trace:
            probes = layers.probe_all(ctx, headline_specs(), queries_warm=workload == "query_headline")
    finally:
        log("stopping")
        stop_spark(spark)

    if trace:
        metrics = layers.finish(probes, tracer, run_dir, setup[0], rss, outcome)
        trace_path = os.path.join(WORK, f"trace-{workload}-{seed}.json")
        tracer.write(trace_path, metrics, {**outcome.detail, **probes.detail})
        correct = outcome.correct and probes.correct
    else:
        setup += probe_setup_s(run_dir, SETUP_SAMPLES - 1)
        correct = outcome.correct
        metrics = {
            "setup_s": metric(statistics.median(setup), "s"),
            "pass_s": metric(statistics.median(outcome.passes), "s"),
        }
    summary = {
        "workload": workload, "seed": seed, "passes": outcome.passes,
        "latency_p50_s": statistics.median(outcome.latencies),
        "latency_samples": len(outcome.latencies), "setup_samples": setup,
        "peak_rss_mb": rss, "error_rate": outcome.failed / outcome.attempted, **outcome.detail,
    }
    print(json.dumps(summary), file=sys.stderr)
    return {"correct": correct, "attempted": outcome.attempted,
            "failed": outcome.failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
