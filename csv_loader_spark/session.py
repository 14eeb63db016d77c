"""SparkSession construction tuned for this engine.

Local testing runs on ``local[N]`` but every default here is chosen to also be
sane on a real multi-executor cluster: AQE on (runtime coalesce + skew-join
handling), UTC session timezone (deterministic timestamp semantics — the
reference's format-2 parse used the JVM default TZ, which we deliberately pin
to UTC, see SURVEY.md §7.4), Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from csv_loader_spark import cds

#: Capacity of Spark's generated-class cache (static conf
#: ``spark.sql.codegen.cache.maxEntries``, default 100). The ten bench.py
#: HEADLINE queries generate about 130 distinct classes, so at the default a
#: round-robin pass evicts every class before its next use and recompiles
#: 119-123 of them through Janino per pass; bench.py's 141-query ``_ALL``
#: suite generates 2,813-2,823 classes in one session. 4096 is the next
#: power of two above that, so a query run twice in one session compiles
#: nothing the second time unless its generated code embeds values computed
#: per run (25 of the 141 do: 166-171 compiles per repeated ``_ALL`` pass,
#: against 3,934 at the default). Metaspace after ``_ALL`` passes at sf0.01
#: is no higher at this cap than at the default (evicted classes stay
#: loaded until their class loader is collected).
CODEGEN_CACHE_ENTRIES = 4096


def local_cpus() -> int:
    """Cores a local run uses: ``$SPARK_GRAFT_CPUS``, else the host's count.

    Spark's ``local[N]`` and the DuckDB baselines both take it, so the two
    engines are compared on the same number of threads."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "csv_loader_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a SparkSession with engine defaults, or return this process's
    active session unchanged.

    The arguments and engine defaults apply only to a session this call
    creates. When a session is already active (``getActiveSession``), it
    is returned as it stands: no conf is re-applied, so a runtime conf set
    on it survives, and a caller that runs once per pass (the CLI's
    ``main``) pays no py4j round trips for it.

    ``shuffle_partitions`` defaults to the local core count — at cluster scale
    AQE coalesces post-shuffle partitions anyway, so the static number only
    sets the upper bound for the local runs.

    When this call launches a ``local`` driver JVM, the JVM starts from a
    class-data-sharing archive in the user cache (see ``cds``), which
    roughly halves a fresh process's startup (8.5 → 4.4 s on 4 cores). The
    first such process records the archive instead: its startup is slower
    (~10 s) and its JVM spends 11-14 s writing ~140 MB when it exits, which
    happens when the session's JVM stdin closes (``proc.stdin.close()``) or
    at interpreter exit. Only the JVM options change (plus SPARK_CONF_DIR
    when the conf directory holds only templates); where no archive can be
    used — a non-local master, a conf directory with real files, an
    unwritable cache, a JVM already running — the launch is unchanged.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = local_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    launch = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        launch = cds.plan_launch(master, driver_memory, _find_spark_home())

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # Spark's stock 10 MB, set explicitly to pin it and to match the
        # verification driver's session, which runs on the stock default.
        # Dims broadcast explicitly via F.broadcast() hints, which ignore
        # this threshold. The intended cluster shape of q03/q05 shuffles
        # lineitem on orderkey, but at sf0.1 (verification and perfbench data
        # alike) both executed plans broadcast the 600k-row lineitem:
        # BroadcastHashJoin [o_orderkey], [l_orderkey], BuildRight.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # Scan-split granularity. Parquet splits only at row-group
        # boundaries, so 4 MB parallelizes a scan only over files with many
        # row groups. Every table of the local TPC-H-shaped testdata and of
        # perfbench's output is one row group, so its scan is one task with
        # data plus empty tasks (sf0.1 lineitem on local[4]: one of four).
        # At cluster scale raise this back to 128-256 MB
        # (SPARK_GRAFT_MAX_PARTITION_BYTES) — 4 MB over 100 TB would mean
        # 25M tasks, pure scheduler overhead.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)),
        )
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # catalog tables land outside the checkout
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    if launch is not None:
        # defaultJavaOptions, because spark-submit's --driver-java-options
        # (perfbench passes one) overwrites extraJavaOptions.
        builder = builder.config("spark.driver.defaultJavaOptions", launch.java_options)
        if launch.conf_dir is not None:
            os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    recording = launch.recording if launch is not None else None
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if recording is not None:
            recording.finish(None)
        raise
    if recording is not None:
        recording.watch(SparkContext._gateway.proc)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-built session.

    The verification driver hands us its own SparkSession; timestamp semantics
    must still be deterministic (UTC), and AQE should be on. Only runtime SQL
    confs are touched here. The generated-class cache cap
    (``spark.sql.codegen.cache.maxEntries``, see CODEGEN_CACHE_ENTRIES) is
    a static conf that cannot be set on a running session, so a session
    built elsewhere keeps Spark's default of 100 entries.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # events.parquet stores TIMESTAMP(NANOS); read as int64 (see io.tables).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The regenerated testdata writes timestamps as TIMESTAMP(MICROS,
    # isAdjustedToUTC=false); by default Spark ≥3.4 infers those as
    # TIMESTAMP_NTZ, which breaks watermarks/unix_micros AND hides the
    # column behind a cast that defeats parquet predicate pushdown. With
    # inference off the scan yields TimestampType directly (session TZ is
    # UTC, so the instant matches DuckDB's naive rendering) and shipdate/
    # orderdate filters stay in PushedFilters.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return spark
