"""DuckDB side of the benchmark: times each bench query's ORACLE SQL on
the same parquet, warm (one priming run, then timed), on as many threads
as bench.py gives Spark (``session.local_cpus``) — the methodology bench.py
mirrors on the Spark side. Prints one JSON line."""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _ALL, group_totals  # noqa: E402
from csv_loader_spark.io.tables import TABLES  # noqa: E402
from csv_loader_spark.queries.registry import all_specs  # noqa: E402
from csv_loader_spark.session import local_cpus  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    con = duckdb.connect()
    con.execute(f"SET threads TO {local_cpus()}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    specs = all_specs()
    times: dict[str, float] = {}
    for name in _ALL:
        sql = specs[name].oracle
        con.execute(sql).fetchall()  # prime
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        times[name] = round(time.perf_counter() - t0, 4)
    groups = group_totals(times)
    print(
        json.dumps(
            {
                "metric": "duckdb_headline_total",
                "value": groups["headline"],
                "unit": "sec",
                "queries": times,
                "groups": groups,
            }
        )
    )


if __name__ == "__main__":
    main()
