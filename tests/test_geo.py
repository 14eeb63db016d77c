"""Tests for the spatial operators (queries/geo.py).

Grid epsilon-join candidate generation must be lossless AND produce
each pair exactly once (the one-matching-offset argument).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from csv_loader_spark.queries.geo import (
    EPS,
    _points,
    q157_grid_distance_join,
)

SF_DIR = "/root/testdata/sf0.001"


def test_grid_join_lossless_and_no_double_count(spark):
    pts = _points(spark, SF_DIR)
    a = pts.select(F.col("k").alias("ka"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = pts.select(F.col("k").alias("kb"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    d2 = (F.col("xa") - F.col("xb")) ** 2 + (F.col("ya") - F.col("yb")) ** 2
    brute = (
        a.join(b, F.col("ka") < F.col("kb"))
        .filter(d2 <= EPS * EPS)
        .count()
    )
    got = (
        q157_grid_distance_join(spark, SF_DIR)
        .agg(F.sum("n_pairs"))
        .collect()[0][0]
    )
    assert brute > 0, "fixture must contain close pairs"
    # equality both ways: lossless (nothing missed) and exactly-once
    # (no offset double-counts)
    assert got == brute

