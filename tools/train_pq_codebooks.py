"""Train product-quantization codebooks (per-subspace k-means) with Spark
DataFrame aggregations and freeze them as a literal Python module.

Same offline+frozen rationale as tools/train_ivf_centroids.py: q125's
oracle needs bit-identical codebooks in both engines, and float group
sums are partition-order-dependent, so training inside the query could
flip a code assignment and the exact-string gate. Real PQ indexes ship
trained codebooks as an index artifact; train once, commit the literals.

PQ recipe (Jegou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011): split the d-dim vector into M contiguous
subvectors, run k-means with K centroids independently in each subspace
(Euclidean, the PQ standard), code = M small centroid ids per vector.

The Lloyd loop trains ALL subspaces in one distributed pass per
iteration: the subspace id m is part of the join/grouping key, so
assignment is one crossJoin-filtered-by-m against the broadcast
(M x K)-row codebook frame and the update reduces to M x K x (d/M) rows.

Usage: python tools/train_pq_codebooks.py [sf_dir] [M] [K] [iters]
Writes csv_loader_spark/functions/pq_codebooks.py.
"""

from __future__ import annotations

import sys
from pathlib import Path

# the checkout this script lives in, whatever the working directory
REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from csv_loader_spark.functions import vectors as VEC
from csv_loader_spark.io.tables import load_table
from csv_loader_spark.session import get_spark

OUT = REPO / "csv_loader_spark" / "functions" / "pq_codebooks.py"


def train(
    sf_dir: str, m_sub: int, k: int, iters: int
) -> tuple[list[list[list[float]]], list[float], int]:
    spark = get_spark("train_pq_codebooks")
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", VEC.as_double("embedding").alias("v")
    )
    dim = len(e.first()["v"])
    assert dim % m_sub == 0, (dim, m_sub)
    w_sub = dim // m_sub
    subs = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.expr(f"slice(v, {m * w_sub + 1}, {w_sub})").alias("sub"),
                    )
                    for m in range(m_sub)
                ]
            )
        ).alias("ms"),
    ).select("vec_id", F.col("ms.m").alias("m"), F.col("ms.sub").alias("sub")).cache()

    # init: first K subvectors by vec_id, per subspace
    first = subs.filter(F.col("vec_id") < k).collect()
    books: list[list[list[float]]] = [[None] * k for _ in range(m_sub)]
    for r in first:
        books[r["m"]][r["vec_id"]] = list(r["sub"])

    sqerr_log: list[float] = []
    dist = F.expr(
        "aggregate(zip_with(sub, c, (x, y) -> (x - y) * (x - y)), 0.0D,"
        " (acc, x) -> acc + x)"
    )
    for _ in range(iters):
        cdf = spark.createDataFrame(
            [
                (m, ki, books[m][ki])
                for m in range(m_sub)
                for ki in range(k)
            ],
            "m INT, kid INT, c ARRAY<DOUBLE>",
        )
        w = W.partitionBy("vec_id", "m").orderBy("d", "kid")
        assigned = (
            subs.join(F.broadcast(cdf), "m")
            .withColumn("d", dist)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
        )
        sqerr_log.append(
            round(assigned.agg(F.avg("d")).collect()[0][0], 6)
        )
        stats = (
            assigned.select("m", "kid", F.posexplode("sub").alias("dim", "val"))
            .groupBy("m", "kid", "dim")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        acc: dict[tuple[int, int], dict[int, float]] = {}
        for r in stats:
            acc.setdefault((r["m"], r["kid"]), {})[r["dim"]] = r["s"] / r["n"]
        for (m, ki), means in acc.items():
            books[m][ki] = [means[i] for i in range(w_sub)]
        # empty cells keep their previous centroid (not in `acc`)
    return books, sqerr_log, w_sub


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    m_sub = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    iters = int(sys.argv[4]) if len(sys.argv) > 4 else 10
    books, log, w_sub = train(sf_dir, m_sub, k, iters)
    with open(OUT, "w") as f:
        f.write(
            '"""Product-quantization codebooks — GENERATED by\n'
            "tools/train_pq_codebooks.py (per-subspace k-means, init = first "
            f"{k}\nsubvectors, {iters} Lloyd iterations on {sf_dir}). Frozen "
            "as literals so the\nSpark query and the DuckDB oracle share "
            "bit-identical codebooks; retrain\nby re-running the tool. Mean "
            f"squared assignment error per iteration:\n{log}.\n"
            '"""\n\n'
            f"M_SUB = {m_sub}\n"
            f"K = {k}\n"
            f"SUB_WIDTH = {w_sub}\n\n"
            "# CODEBOOKS[m][k] = centroid k of subspace m "
            f"({w_sub} floats each)\n"
            "CODEBOOKS: list[list[list[float]]] = [\n"
        )
        for m in range(m_sub):
            f.write("    [\n")
            for ki in range(k):
                f.write(f"        {[float(x) for x in books[m][ki]]!r},\n")
            f.write("    ],\n")
        f.write("]\n")
    print(f"wrote {OUT} (M={m_sub}, K={k}, width={w_sub}); sqerr: {log}")


if __name__ == "__main__":
    main()
