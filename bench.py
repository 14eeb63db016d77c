"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints exactly ONE JSON line:
    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {"q01_pricing_summary": <sec>, ...},
     "groups": {"headline": <sec>, "r7": <sec>, ..., "r15": <sec>},
     "build_py4j_calls": {"q01_pricing_summary": <count>, ...},
     "sf": 0.1}

``value`` is the HEADLINE total measured in its OWN fresh JVM (the
``--headline-cell`` subprocess, spawned before the full-suite session):
r13 measured the in-process headline drifting +25% purely from suite
growth (each timed pass executes every registered bench query, so the
ten headline queries run inside an ever-heavier JVM as the tree grows).
The isolated number is the cross-round comparable one; the in-process
figure is kept as ``headline_inprocess`` (and ``groups.headline``) for
continuity with BENCH_r01..r13. Per-query times for all groups land in
``queries``, group subtotals in ``groups``, keyed by registry tag
(GROUPS). Set SPARK_GRAFT_BENCH_ISOLATE=0 to skip the cell (value falls
back to the in-process headline).

Per-query time = plan + execute + collect to the driver (count() for large
results), measured after a warm-up action so JVM/session startup isn't billed
to the first query — matching how the DuckDB baseline is timed (per-query,
warm process). Recorded values are per-query MEDIANS over TIMED_RUNS timed
passes; the artifact stamps ``"canonical": false`` when the host was busy at
start OR the per-run headline totals disagree beyond SPREAD_TOLERANCE (r11:
mid-run noise slipped past a start-only load gate three rounds running).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from csv_loader_spark.io.tables import TABLES, load_table  # noqa: E402
from csv_loader_spark.profile import compiling, counting  # noqa: E402
from csv_loader_spark.queries.registry import all_specs  # noqa: E402
from csv_loader_spark.session import get_spark  # noqa: E402

#: the bench's query groups, each a registry tag: ``headline`` spans
#: scan+agg, join shapes, windows, sessionize, dedup and KNN; ``rN`` is the
#: operator surface added in round N, each query against its DuckDB oracle.
GROUPS = ("headline", "r7", "r8", "r9", "r10", "r12", "r13", "r14", "r15")


def _qnum(name: str) -> int:
    return int(name[1:name.index("_")])


def tagged(tag: str) -> tuple[str, ...]:
    """Registered query names carrying ``tag``, in query-number order."""
    return tuple(
        sorted((n for n, s in all_specs().items() if tag in s.tags), key=_qnum)
    )


def group_totals(times: dict[str, float]) -> dict[str, float]:
    """Per-group sums of per-query ``times``, keyed by tag."""
    return {g: round(sum(times[n] for n in tagged(g)), 4) for g in GROUPS}


HEADLINE = tagged("headline")
_ALL = tuple(sorted({n for g in GROUPS for n in tagged(g)}, key=_qnum))


#: a 1-min load average above this at bench start means some other work is
#: stealing the cores the measurement bills to Spark — the artifact is
#: host-noise, not signal (r10 verdict: a load-4.3 run recorded q121 at 3.3x
#: its idle cost two rounds running).
IDLE_LOAD_THRESHOLD = 1.0

#: timed measurement passes; per-query values are the per-query MEDIAN so a
#: single disturbed pass cannot set any recorded number (overridable for
#: quick smoke runs)
TIMED_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "4"))

#: timed passes ALWAYS discarded from the medians and the spread gate
#: (recorded in run_headline_totals for transparency). An idle-host 3-run
#: artifact still came out 6.68 -> 3.97 -> 3.41 s — monotone warm-in, C2
#: still compiling through the first timed pass despite the two untimed
#: primes — which the spread gate correctly refused to stamp canonical.
#: Discarding the first timed pass measures steady state instead of
#: compilation. On top of this fixed discard, leading runs keep being
#: dropped ADAPTIVELY while the first kept run is the largest and the kept
#: spread exceeds tolerance (always keeping >= 2): as the query set grows,
#: so does the compile surface — a 48-query _ALL warmed in over THREE
#: passes (10.85 -> 7.50 -> 4.28 -> 4.38) — and only a leading MAXIMUM is
#: attributable to warm-in; noise in later runs still trips the gate.
#: Not all of that warm-in was C2: before the codegen cache was sized
#: (see _timed_passes) every pass also recompiled its generated classes
#: through Janino, about 3,900 per steady 141-query _ALL pass; now about
#: 170, from the 25 queries whose generated code differs per run.
JIT_DISCARD_RUNS = 1

#: max allowed max/min ratio of the per-run headline totals before the
#: artifact stamps itself non-canonical — mid-run interference shows up as
#: run-to-run disagreement (the r11 noisy artifact's q143 alone varied 5x)
SPREAD_TOLERANCE = 1.25


def _wait_for_idle(max_wait_s: float) -> float:
    """Block (bounded) until the 1-min load average drops under
    IDLE_LOAD_THRESHOLD, so the committed artifact IS the idle run rather
    than merely recording that it wasn't. Returns the load at go-time;
    if the host never goes idle inside the budget the run proceeds and
    the JSON is stamped ``"canonical": false``."""
    waited = 0.0
    load = os.getloadavg()[0]
    while load > IDLE_LOAD_THRESHOLD and waited < max_wait_s:
        print(
            f"# host busy (load {load:.2f}) — waiting for idle "
            f"({waited:.0f}/{max_wait_s:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(15)
        waited += 15
        load = os.getloadavg()[0]
    return load


def _timed_passes(
    spark, specs, sf_dir: str, names: tuple[str, ...]
) -> tuple[
    list[dict[str, float]], list[float], list[float], list[int], dict[str, int]
]:
    """Warm every table + two untimed primes over ``names``, then
    TIMED_RUNS timed passes. Returns (per-run per-query times, per-run
    headline totals, per-run end loads, per-run codegen compile counts,
    per-query py4j round trips of the first prime's build).

    Warm-up is TWICE, not once: the HOF-heavy queries (q35's
    zip_with/aggregate dot products are CodegenFallback, i.e.
    interpreted) keep getting faster as C2 compiles deeper — measured
    decay 0.89 -> 0.51 s over 8 in-process runs — and a single prime left
    a 2x run-to-run spread in driver-recorded numbers (BENCH_r05's 1.55 s
    vs 0.75 s judge runs, adjudicated r6: JIT depth, not plan
    instability). DuckDB's prime reaches steady state in one run; two
    primes is the JVM equivalent, not a benchmark asymmetry.

    MEDIAN of the timed runs (r11 verdict: a single timed run let mid-run
    host noise record q143 at 5.6x its real cost in a start-load-clean
    artifact). The 1-min load average cannot gate MID-run interference:
    the bench's own 32-thread Spark work dominates it while measuring.
    What noise cannot fake is AGREEMENT — an interfering process inflates
    some runs and not others, so the per-run headline totals diverge.
    The caller gates on that spread; the median absorbs a single
    disturbed run either way.

    Not all warm-in is C2: Janino compiles each generated class on its
    first use in the session, and again after the class cache evicts it.
    The cache (session.CODEGEN_CACHE_ENTRIES) must hold every class of a
    pass; at Spark's default of 100 it held less than one HEADLINE pass
    (~130), and every steady-state pass recompiled 119-123 classes. A
    steady HEADLINE pass now compiles 0, and the per-run compile count in
    the artifact shows if that stops holding.

    The py4j round trips of each query's build (``fn(spark, sf_dir)``,
    no action) are counted in the first prime: a load-independent measure
    of driver construction cost, which wall time is not."""
    head = tuple(n for n in HEADLINE if n in names)
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    build_calls: dict[str, int] = {}
    for prime in range(2):
        for name in names:
            with counting() as calls:
                df = specs[name].fn(spark, sf_dir)
            if prime == 0:
                build_calls[name] = calls["n"]
            df.count()
    runs: list[dict[str, float]] = []
    run_totals: list[float] = []
    run_loads: list[float] = []
    run_compiles: list[int] = []
    for r in range(TIMED_RUNS):
        t_run: dict[str, float] = {}
        with compiling(spark) as compiles:
            for name in names:
                fn = specs[name].fn
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                n = df.count()
                t_run[name] = round(time.perf_counter() - t0, 4)
                if r == 0:
                    print(f"# {name}: {n} rows in {t_run[name]:.3f}s", file=sys.stderr)
        runs.append(t_run)
        run_compiles.append(compiles["n"])
        total = round(sum(t_run[n] for n in head), 4)
        run_totals.append(total)
        run_loads.append(round(os.getloadavg()[0], 2))
        print(
            f"# run {r + 1}/{TIMED_RUNS}: headline {total}s, "
            f"{compiles['n']} classes compiled",
            file=sys.stderr,
        )
    return runs, run_totals, run_loads, run_compiles, build_calls


def _trim_runs(
    runs: list[dict[str, float]], run_totals: list[float]
) -> tuple[list[dict[str, float]], list[float], float, int, float]:
    """Shared run-selection pipeline for the full suite AND the isolated
    headline cell. Returns (kept runs, kept totals, untrimmed median,
    outlier_discarded, spread).

    1. Fixed JIT discard, then ADAPTIVE warm-in discard: keep dropping
       LEADING runs while the first kept total is the maximum and the
       kept spread exceeds tolerance (never below 2 kept) — only a
       leading maximum is attributable to warm-in.
    2. Single-outlier trim (r12c, symmetrized r13): a mid-run JVM
       full-GC pause (or a brief host blip) inflates exactly ONE timed
       run — observed twice on a start-idle host as totals like
       [4.12, 3.93, 6.23, 4.27]; the leading discard cannot remove a
       MIDDLE spike. The trim fires only when the MAX deviates from the
       median beyond tolerance while the MIN does not — a genuinely
       asymmetric spike, not ordinary dispersion — and the UNTRIMMED
       median is always kept in the artifact
       (headline_untrimmed_median). Two disagreeing runs still stamp
       non-canonical.

    The median is the true median (mean of the two middle elements for
    even n — the r13 ADVICE caught the upper-middle shortcut);
    "untrimmed" means pre-OUTLIER-trim (the leading discards have
    already been applied)."""
    kept = runs[JIT_DISCARD_RUNS:] if len(runs) > JIT_DISCARD_RUNS else runs
    kept_totals = run_totals[len(runs) - len(kept):]
    while (
        len(kept) > 2
        and kept_totals[0] == max(kept_totals)
        and max(kept_totals) / max(min(kept_totals), 1e-9) > SPREAD_TOLERANCE
    ):
        kept = kept[1:]
        kept_totals = kept_totals[1:]
    _s = sorted(kept_totals)
    _n = len(_s)
    untrimmed_median = (
        _s[_n // 2] if _n % 2 else round((_s[_n // 2 - 1] + _s[_n // 2]) / 2, 4)
    )
    outlier_discarded = 0
    spread = max(kept_totals) / max(min(kept_totals), 1e-9)
    if spread > SPREAD_TOLERANCE and len(kept) >= 3:
        med = untrimmed_median
        max_dev = max(kept_totals) / max(med, 1e-9)
        min_dev = med / max(min(kept_totals), 1e-9)
        i_max = kept_totals.index(max(kept_totals))
        trial_totals = kept_totals[:i_max] + kept_totals[i_max + 1:]
        if (
            max_dev > SPREAD_TOLERANCE
            and min_dev <= SPREAD_TOLERANCE
            and max(trial_totals) / max(min(trial_totals), 1e-9)
            <= SPREAD_TOLERANCE
        ):
            kept = kept[:i_max] + kept[i_max + 1:]
            kept_totals = trial_totals
            outlier_discarded = 1
            spread = max(kept_totals) / max(min(kept_totals), 1e-9)
    return kept, kept_totals, untrimmed_median, outlier_discarded, spread


def headline_cell() -> None:
    """Internal ``--headline-cell`` entry: time ONLY the headline group in
    this fresh JVM and print one JSON line of per-run results. Run by
    main() BEFORE the full-suite session so the cross-round headline
    number measures the same in-process state every round — r13 measured
    the full-suite headline drifting +25% as the suite grew 101 -> 114
    queries (every timed pass executes every query, so suite growth
    loads the JVM the headline runs inside), which is suite-size noise,
    not a regression in the ten queries."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_at_start = _wait_for_idle(
        float(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT", "300"))
    )
    # fresh process: this is the startup every CLI invocation pays
    started = time.perf_counter()
    spark = get_spark("bench_headline")
    get_spark_s = time.perf_counter() - started
    runs, run_totals, run_loads, run_compiles, _ = _timed_passes(
        spark, all_specs(), sf_dir, HEADLINE
    )
    print(
        json.dumps(
            {
                "runs": runs,
                "run_totals": run_totals,
                "codegen_compiles_per_run": run_compiles,
                "get_spark_s": round(get_spark_s, 3),
                "run_loads": run_loads,
                "load_avg_start": round(load_at_start, 2),
            }
        )
    )


def _isolated_headline() -> dict | None:
    """Spawn the headline cell in its own JVM and return its parsed
    result, or None (fall back to in-process numbers) if the subprocess
    fails. Disable with SPARK_GRAFT_BENCH_ISOLATE=0."""
    if os.environ.get("SPARK_GRAFT_BENCH_ISOLATE", "1") == "0":
        return None
    import subprocess

    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--headline-cell"],
            capture_output=True,
            text=True,
            timeout=float(os.environ.get("SPARK_GRAFT_BENCH_CELL_TIMEOUT", "900")),
        )
        for line in proc.stdout.splitlines():
            line = line.strip()
            if line.startswith("{"):
                return json.loads(line)
    except (subprocess.TimeoutExpired, ValueError, OSError):
        pass
    print("# headline cell failed — falling back to in-process headline",
          file=sys.stderr)
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0
    # the isolated headline cell runs FIRST (before this process holds a
    # JVM) so it sees the same idle host every round
    cell = _isolated_headline()
    # idle gate BEFORE the JVM spawns (its startup threads inflate the
    # 1-min average); budget overridable for quick smoke runs
    load_at_start = _wait_for_idle(
        float(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT", "300"))
    )
    spark = get_spark("bench")
    specs = all_specs()
    load_avg_start = load_at_start
    runs, run_totals, run_loads, run_compiles, build_calls = _timed_passes(
        spark, specs, sf_dir, _ALL
    )

    kept, kept_totals, untrimmed_median, outlier_discarded, spread = (
        _trim_runs(runs, run_totals)
    )
    times = {
        name: round(sorted(t[name] for t in kept)[len(kept) // 2], 4)
        for name in _ALL
    }
    groups = group_totals(times)
    inprocess_headline = groups["headline"]
    # headline VALUE comes from the isolated fresh-JVM cell (same trim
    # pipeline) when it ran: the r13 in-process headline drifted +25%
    # purely from suite growth (101 -> 114 queries loading the shared
    # JVM), so the cross-round comparable number is the one measured in
    # a constant-size process. The in-process figure stays in groups/
    # queries for per-query continuity.
    iso = None
    if cell is not None:
        ik, _ikt, _ium, _iod, ispread = _trim_runs(
            cell["runs"], cell["run_totals"]
        )
        itimes = {
            n: round(sorted(t[n] for t in ik)[len(ik) // 2], 4)
            for n in HEADLINE
        }
        iso = {
            "value": round(sum(itimes.values()), 4),
            "queries": itimes,
            "run_totals": cell["run_totals"],
            "codegen_compiles_per_run": cell["codegen_compiles_per_run"],
            "get_spark_s": cell["get_spark_s"],
            "spread": round(ispread, 3),
            "load_avg_start": cell["load_avg_start"],
            "canonical": (
                cell["load_avg_start"] <= IDLE_LOAD_THRESHOLD
                and ispread <= SPREAD_TOLERANCE
            ),
        }
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": iso["value"] if iso else inprocess_headline,
                "unit": "sec",
                "headline_isolated": iso,
                "headline_inprocess": inprocess_headline,
                "queries": times,
                "groups": groups,
                "build_py4j_calls": build_calls,
                "sf": sf,
                # host-noise provenance (r9-r11 verdicts): canonical means
                # BOTH the host was idle when measurement began AND the
                # three timed runs agree (headline spread within
                # SPREAD_TOLERANCE) — a start-gated but mid-run-disturbed
                # artifact now stamps itself non-canonical instead of
                # presenting noise as signal. Per-query values are medians.
                "canonical": (
                    load_avg_start <= IDLE_LOAD_THRESHOLD
                    and spread <= SPREAD_TOLERANCE
                    and (iso is None or iso["canonical"])
                ),
                "load_avg_start": round(load_avg_start, 2),
                "load_avg_end": round(os.getloadavg()[0], 2),
                "run_headline_totals": run_totals,
                "codegen_compiles_per_run": run_compiles,
                "headline_untrimmed_median": round(untrimmed_median, 4),
                "run_spread": round(spread, 3),
                "load_avg_after_each_run": run_loads,
                "warmup_runs": 2,
                "timed_runs": TIMED_RUNS,
                "jit_discard_runs": len(runs) - len(kept) - outlier_discarded,
                "outlier_runs_discarded": outlier_discarded,
            }
        )
    )


if __name__ == "__main__":
    if sys.argv[1:2] == ["--headline-cell"]:
        headline_cell()
    else:
        main()
