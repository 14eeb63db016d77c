"""Spatial operators: grid-bucketed distance self-join and Z-order layout.

The reference's domain is vehicle GPS pings (CsvLoader.java:120-127 parses
lat/lon), but the reference itself has no spatial QUERY surface — these
operators add the neighbor-search and storage-layout capabilities a user
of a ping-analytics engine needs, re-expressed Spark-first:

- q157: epsilon-distance self-join via uniform grid bucketing — the
  classic lossless spatial-join shape (points within eps must fall in the
  same or an adjacent cell when the cell width equals eps, so one side
  explodes into its 3x3 cell neighborhood and the join is a plain
  equi-join on the cell key; each true pair is produced EXACTLY once
  because exactly one neighbor offset matches the partner's cell).
- q158: Z-order (Morton) space-filling-curve layout — interleave the two
  coordinates' bits so 2-D-close points get numerically-close sort keys;
  range-partitioning by the Z key then gives file-level min/max pruning
  for 2-D box predicates (the technique behind Delta/Iceberg Z-order
  clustering, public literature: Morton 1966; Orenstein & Merrett 1984).
  ``zorder_key`` is the layout key; the registered query reports the
  Z-bucket locality of a box predicate.

Determinism: no table carries coordinates, so both operators derive
integer coordinates in [0, 65536) from ``c_custkey`` via the portable
md5-prefix hash (llm2's construction — bit-identical in Spark and
DuckDB), and ALL geometry stays in 64-bit integer arithmetic (squared
distances, div/mod bit interleaving) — there is no float anywhere, hence
no rounding contract to manage.

Scale notes (100 TB):
- q157 is one equi-join on a derived cell key with a constant 9x fan-out
  on the build side; shuffle rows carry (key, x, y, cell) — 4 ints. Cell
  occupancy bounds candidate work; a hotspot cell is the skew case and
  takes the same salting/cap treatment as every posting join in this
  repo (llm docstrings); AQE's skew-join split handles the moderate case.
- q158's Z key is 32 integer mul/add terms, fully whole-stage-codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_loader_spark.io.tables import load_table
from csv_loader_spark.queries.llm2 import _hash16_spark_sql, _hash16_sql
from csv_loader_spark.queries.registry import query

#: coordinate-space resolution: 16-bit integer grid per axis.
COORD_BITS = 16

#: q157 distance threshold (integer units) — also the grid cell width,
#: which is what makes the 3x3 neighborhood lossless.
EPS = 600

#: q158 Z-bucket granularity: top 12 of the 32 Z bits (a 64x64 grid of
#: 1024-wide cells).
Z_BUCKET_SHIFT = 20

#: q158 box predicate (inclusive), chosen off-aligned so the box straddles
#: Z quadrant boundaries — the interesting pruning case.
BOX = (8192, 24575, 20480, 36863)  # x_lo, x_hi, y_lo, y_hi


def _xy_spark(key_sql: str) -> tuple[str, str]:
    """Spark-SQL expressions for the derived (x, y) integer coordinates."""
    return (
        _hash16_spark_sql(f"concat(CAST({key_sql} AS STRING), 'x')"),
        _hash16_spark_sql(f"concat(CAST({key_sql} AS STRING), 'y')"),
    )


def _xy_sql(key_sql: str) -> tuple[str, str]:
    """DuckDB twins of :func:`_xy_spark` (instr-arithmetic md5 prefix)."""
    return (
        _hash16_sql(f"concat(CAST({key_sql} AS VARCHAR), 'x')"),
        _hash16_sql(f"concat(CAST({key_sql} AS VARCHAR), 'y')"),
    )


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    x, y = _xy_spark("c_custkey")
    return load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.expr(x).cast("long").alias("x"),
        F.expr(y).cast("long").alias("y"),
    )


# --- q157: grid epsilon-distance self-join --------------------------------

def _grid_join_oracle() -> str:
    x, y = _xy_sql("c_custkey")
    return f"""
    WITH p AS (
      SELECT c_custkey AS k, CAST({x} AS BIGINT) AS x, CAST({y} AS BIGINT) AS y
      FROM customer
    ),
    pairs AS (
      SELECT a.k AS ka, b.k AS kb,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM p a JOIN p b ON a.k < b.k
    )
    SELECT CAST(d2 * 10 // {EPS * EPS} AS BIGINT) AS d_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(ka + kb) AS BIGINT) AS key_sum
    FROM pairs WHERE d2 <= {EPS * EPS}
    GROUP BY d_bucket ORDER BY d_bucket
    """


@query(
    "q157_grid_distance_join",
    oracle=_grid_join_oracle(),
    tags=("geo", "r12"),
)
def q157_grid_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within EPS, bucketed by squared-distance decile
    with a key-sum checksum; the oracle's brute-force quadratic join
    proves the 3x3 grid candidate generation lossless."""
    pts = _points(spark, sf_dir)
    cell = lambda c, off: (F.col(c) / EPS).cast("long") + off  # noqa: E731
    # build side: each point under its own cell key
    b = pts.select(
        F.col("k").alias("kb"), F.col("x").alias("xb"), F.col("y").alias("yb"),
        (cell("x", 0) * 100000 + cell("y", 0)).alias("cell"),
    )
    # probe side: each point exploded into its 9-cell neighborhood; a true
    # pair matches on exactly one offset, so no distinct is needed
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    a = pts.select(
        F.col("k").alias("ka"), F.col("x").alias("xa"), F.col("y").alias("ya"),
        F.explode(offsets).alias("o"),
    ).select(
        "ka", "xa", "ya",
        ((cell("xa", F.col("o.dx"))) * 100000 + cell("ya", F.col("o.dy")))
        .alias("cell"),
    )
    d2 = (
        (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
        + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("ka") < F.col("kb"))
        .withColumn("d2", d2)
        .filter(F.col("d2") <= EPS * EPS)
    )
    return (
        pairs.groupBy(
            F.expr(f"d2 * 10 div {EPS * EPS}").alias("d_bucket")
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("ka") + F.col("kb")).alias("key_sum"),
        )
        .orderBy("d_bucket")
    )


# --- q158: Z-order layout -------------------------------------------------

def _z_terms(x: str, y: str) -> str:
    """Bit-interleaved Morton key as portable div/mod arithmetic (no shift
    operators — DuckDB and Spark SQL share only * // % here). Expanded to
    32 constant-folded terms so Spark keeps it inside codegen."""
    terms = []
    for i in range(COORD_BITS):
        terms.append(f"(({x} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({y} // {1 << i}) % 2) * {1 << (2 * i)}")
    return "(" + " + ".join(terms) + ")"


def zorder_key(x: Column | str, y: Column | str) -> Column:
    """Morton Z key column for two integer coordinate columns."""
    xn = x if isinstance(x, str) else None
    yn = y if isinstance(y, str) else None
    if xn is None or yn is None:
        raise TypeError("zorder_key takes column NAMES (needs SQL expr)")
    # Spark SQL uses `div` for integer division
    return F.expr(_z_terms(xn, yn).replace("//", "div"))


def _zorder_oracle() -> str:
    x, y = _xy_sql("c_custkey")
    x_lo, x_hi, y_lo, y_hi = BOX
    z = _z_terms("x", "y")
    return f"""
    WITH p AS (
      SELECT c_custkey AS k, CAST({x} AS BIGINT) AS x, CAST({y} AS BIGINT) AS y
      FROM customer
    ),
    z AS (
      SELECT k, x, y, {z} // {1 << Z_BUCKET_SHIFT} AS zb FROM p
      WHERE x BETWEEN {x_lo} AND {x_hi} AND y BETWEEN {y_lo} AND {y_hi}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           CAST(count(DISTINCT zb) AS BIGINT) AS n_buckets,
           CAST(min(zb) AS BIGINT) AS min_bucket,
           CAST(max(zb) AS BIGINT) AS max_bucket,
           CAST(sum(k) AS BIGINT) AS key_sum
    FROM z
    """


@query(
    "q158_zorder_layout",
    oracle=_zorder_oracle(),
    tags=("geo", "r12"),
)
def q158_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-bucket locality of a 2-D box predicate: how many of the 4096
    top-level Z buckets the box's points actually occupy (the quantity
    file-level min/max pruning exploits after a Z-order layout)."""
    x_lo, x_hi, y_lo, y_hi = BOX
    pts = _points(spark, sf_dir)
    boxed = pts.filter(
        F.col("x").between(x_lo, x_hi) & F.col("y").between(y_lo, y_hi)
    ).withColumn(
        "zb", (zorder_key("x", "y") / (1 << Z_BUCKET_SHIFT)).cast("long")
    )
    return boxed.agg(
        F.count("*").alias("n_points"),
        F.countDistinct("zb").alias("n_buckets"),
        F.min("zb").alias("min_bucket"),
        F.max("zb").alias("max_bucket"),
        F.sum("k").alias("key_sum"),
    )
