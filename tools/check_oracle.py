"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, column names, and an
order-insensitive EXACT stringified value comparison — the same contract as
the driver's value hash (no dtype coercion, no float tolerance: int 900 vs
float 900.0 fails, and -0.0 vs 0.0 fails). This exact mode is the default
precisely because the old float-tolerant compare passed q49_stats_agg
locally while the driver's hash failed it twice (negative zero after
round(covar_pop, 4)).

Usage:

    python tools/check_oracle.py [--tolerant] [--json PATH] [sf_dir] [query_name ...]

``--tolerant`` restores the old 1e-9-relative float compare — useful only
for triaging WHERE a value diverges, never for declaring a query done.
``--json PATH`` additionally writes a driver-shaped per-query record
(rows_match/schema_match/hash_match/spark_rows/oracle_rows/err) — the
per-round LOCALGATE artifact covering the queries the driver's 50-query
cap never reaches.
"""

from __future__ import annotations

import json
import sys
import time
import traceback
from pathlib import Path

import duckdb
import pandas as pd

# the checkout this script lives in, whatever the working directory
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from csv_loader_spark.io.tables import TABLES  # noqa: E402
from csv_loader_spark.queries.registry import all_specs  # noqa: E402
from csv_loader_spark.session import get_spark  # noqa: E402


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _stringify(v) -> str:
    """Driver-style cell rendering: plain str(), nulls collapsed to one
    token (Spark hands back None for null objects and NaN for null floats;
    the two must compare equal the way a hash of per-column sorted string
    lists treats them)."""
    if v is None:
        return "<null>"
    try:
        if pd.isna(v):
            return "<null>"
    except (TypeError, ValueError):  # arrays/lists: isna is elementwise
        pass
    return str(v)


def normalize_exact(df: pd.DataFrame) -> pd.DataFrame:
    """Stringify every cell, then sort rows by all columns — exact-match
    compare domain, mirroring the driver's order-insensitive value hash."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(_stringify)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_exact(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Default gate: exact stringified compare, no float tolerance.

    This is deliberately STRICTER than helpful-looking alternatives:
    -0.0 vs 0.0, 900 vs 900.0, 1-ulp post-round drift, and float32-vs-64
    renderings all fail here because they fail the driver's hash."""
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns differ: {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count differs: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    s, d = normalize_exact(spark_pdf), normalize_exact(duck_pdf)
    for c in s.columns:
        bad = s[c] != d[c]
        if bad.any():
            i = bad.idxmax()
            problems.append(
                f"column {c}: {int(bad.sum())} exact-string mismatches, first at "
                f"sorted-row {i}: spark={s[c][i]!r} duck={d[c][i]!r}"
            )
    return problems


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Legacy tolerant compare (--tolerant): 1e-9-relative float slack.
    Kept only as a triage aid — it passes values the driver fails."""
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns differ: {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count differs: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        sc, dc = s[c], d[c]
        # The driver's gate hashes stringified values with NO cross-dtype
        # coercion: int 900 vs float 900.0 is a FAIL there. Mirror that —
        # an int column on one side and a float column on the other is a
        # hard failure even if the numeric values agree.
        s_int = pd.api.types.is_integer_dtype(sc)
        d_int = pd.api.types.is_integer_dtype(dc)
        s_flt = pd.api.types.is_float_dtype(sc)
        d_flt = pd.api.types.is_float_dtype(dc)
        if (s_int and d_flt) or (s_flt and d_int):
            problems.append(
                f"column {c}: dtype divergence spark={sc.dtype} duck={dc.dtype} "
                f"(driver value-hash would mismatch: e.g. 900 vs 900.0)"
            )
            continue
        if s_flt or d_flt:
            sc = pd.to_numeric(sc, errors="coerce")
            dc = pd.to_numeric(dc, errors="coerce")
            bad = ~((sc.isna() & dc.isna()) | ((sc - dc).abs() <= 1e-9 + 1e-9 * dc.abs()))
        else:
            bad = ~((sc.isna() & dc.isna()) | (sc.astype(str) == dc.astype(str)))
        if bad.any():
            i = bad.idxmax()
            problems.append(
                f"column {c}: {int(bad.sum())} mismatches, first at sorted-row {i}: "
                f"spark={s[c][i]!r} duck={d[c][i]!r}"
            )
    return problems


def main() -> int:
    args = sys.argv[1:]
    tolerant = "--tolerant" in args
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args) or args[i + 1].startswith("--"):
            print(
                "usage: check_oracle.py [--tolerant] [--json PATH] "
                "[sf_dir] [query_name ...] (--json requires a PATH)",
                file=sys.stderr,
            )
            return 2
        json_path = args[i + 1]
        del args[i : i + 2]
    argv = [a for a in args if a != "--tolerant"]
    cmp_fn = compare if tolerant else compare_exact
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    spark = get_spark("check_oracle")
    con = duck_conn(sf_dir)
    specs = all_specs()
    n_pass = n_fail = n_rowsonly = 0
    records: dict[str, dict] = {}
    for name, spec in specs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "rows_only": False,  # True = no oracle BY DESIGN (not an error)
            "err": None,
            "sec": None,  # wall time: spark run + oracle run + compare
        }
        records[name] = rec
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark side raised")
            traceback.print_exc()
            rec["err"] = "spark_raised"
            rec["sec"] = round(time.time() - t0, 2)
            n_fail += 1
            continue
        rec["spark_rows"] = len(sdf)
        if spec.oracle is None:
            print(f"rows-only {name}: {len(sdf)} rows  [{time.time()-t0:.1f}s]")
            rec["rows_only"] = True  # declared sketch/ANN internals — err stays None
            rec["sec"] = round(time.time() - t0, 2)
            n_rowsonly += 1
            continue
        try:
            ddf = con.execute(spec.oracle).fetchdf()
        except Exception:
            print(f"FAIL {name}: oracle SQL raised")
            traceback.print_exc()
            rec["err"] = "oracle_raised"
            rec["sec"] = round(time.time() - t0, 2)
            n_fail += 1
            continue
        rec["oracle_rows"] = len(ddf)
        problems = cmp_fn(sdf, ddf)
        rec["rows_match"] = len(sdf) == len(ddf)
        rec["schema_match"] = sorted(sdf.columns) == sorted(ddf.columns)
        rec["hash_match"] = not problems
        rec["sec"] = round(time.time() - t0, 2)
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({len(sdf)} spark rows, {len(ddf)} duck rows):")
            for p in problems:
                print(f"   {p}")
        else:
            n_pass += 1
            print(f"PASS {name}: {len(sdf)} rows  [{time.time()-t0:.1f}s]")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    if json_path:
        payload = {
            "sf_dir": sf_dir,
            "mode": "tolerant" if tolerant else "exact",
            # full registry size, independent of any name filter — the
            # single source of truth the doc-count test checks against
            "registered_total": len(all_specs()),
            "summary": {"pass": n_pass, "fail": n_fail, "rows_only": n_rowsonly},
            "queries": records,
        }
        with open(json_path, "w") as fh:
            json.dump(payload, fh, indent=2)
        print(f"wrote {json_path}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
