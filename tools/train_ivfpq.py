"""Train an IVF-residual product quantizer (IVFPQ, Jegou et al. TPAMI 2011
§III-C / the faiss "IVF,PQ" index) and freeze it as a literal module.

Same offline+frozen rationale as tools/train_pq_codebooks.py: q134's
oracle needs bit-identical centroids in both engines, so train once with
deterministic Lloyd (init = first-N vectors, fixed iteration count,
sequential array-fold distances) and commit the literals.

Two stages, both plain DataFrame aggregations:
1. COARSE quantizer: Euclidean k-means with NLIST centroids over the
   full vectors (init = first NLIST vectors). This is the IVF cell
   structure; the residual v - c(v) is what PQ encodes.
2. RESIDUAL codebooks: per-subspace k-means (M_SUB subspaces of
   SUB_WIDTH dims, K centroids each) over the residuals — the same
   recipe as train_pq_codebooks.py, trained on residuals instead of raw
   vectors. With the coarse step removing most of each vector's
   placement, the per-subspace variance left for 4-bit codebooks is far
   smaller: measured on this corpus, recall@5 doubles vs plain PQ at the
   SAME total code budget (see q134's docstring).

Usage: python tools/train_ivfpq.py [sf_dir] [nlist] [M] [K] [iters]
Writes csv_loader_spark/functions/ivfpq_codebooks.py.
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

OUT = REPO / "csv_loader_spark" / "functions" / "ivfpq_codebooks.py"

def _dist():
    return F.expr(
        "aggregate(zip_with(sub, c, (x, y) -> (x - y) * (x - y)), 0.0D,"
        " (acc, x) -> acc + x)"
    )


def _lloyd(subs, m_count: int, k: int, iters: int, width: int, spark):
    """Generic per-subspace Lloyd over a (vec_id, m, sub) frame: init =
    first k subvectors per subspace, deterministic mean updates."""
    first = subs.filter(F.col("vec_id") < k).collect()
    books: list[list[list[float] | None]] = [[None] * k for _ in range(m_count)]
    for r in first:
        books[r["m"]][r["vec_id"]] = list(r["sub"])
    err_log: list[float] = []
    for _ in range(iters):
        cdf = spark.createDataFrame(
            [(m, ki, books[m][ki]) for m in range(m_count) for ki in range(k)],
            "m INT, kid INT, c ARRAY<DOUBLE>",
        )
        w = W.partitionBy("vec_id", "m").orderBy("d", "kid")
        assigned = (
            subs.join(F.broadcast(cdf), "m")
            .withColumn("d", _dist())
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
        )
        err_log.append(round(assigned.agg(F.avg("d")).collect()[0][0], 6))
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
            books[m][ki] = [means[i] for i in range(width)]
        # empty cells keep their previous centroid (absent from `acc`)
    return books, err_log


def train(sf_dir: str, nlist: int, m_sub: int, k: int, iters: int):
    spark = get_spark("train_ivfpq")
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", VEC.as_double("embedding").alias("v"))
        .cache()
    )
    dim = len(e.first()["v"])
    assert dim % m_sub == 0, (dim, m_sub)
    w_sub = dim // m_sub

    # stage 1: coarse quantizer = Lloyd with one "subspace" of full width
    full = e.select("vec_id", F.lit(0).alias("m"), F.col("v").alias("sub")).cache()
    coarse_books, coarse_log = _lloyd(full, 1, nlist, iters, dim, spark)
    coarse = coarse_books[0]

    # residuals against the final coarse assignment
    cdf = spark.createDataFrame(
        [(0, ki, coarse[ki]) for ki in range(nlist)],
        "m INT, kid INT, c ARRAY<DOUBLE>",
    )
    w = W.partitionBy("vec_id", "m").orderBy("d", "kid")
    res = (
        full.join(F.broadcast(cdf), "m")
        .withColumn("d", _dist())
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "vec_id",
            F.expr("zip_with(sub, c, (x, y) -> x - y)").alias("r"),
        )
    )

    # stage 2: residual PQ codebooks over M_SUB subspaces
    subs = res.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.expr(f"slice(r, {m * w_sub + 1}, {w_sub})").alias("sub"),
                    )
                    for m in range(m_sub)
                ]
            )
        ).alias("ms"),
    ).select("vec_id", F.col("ms.m").alias("m"), F.col("ms.sub").alias("sub")).cache()
    books, pq_log = _lloyd(subs, m_sub, k, iters, w_sub, spark)
    return coarse, books, coarse_log, pq_log, w_sub


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    nlist = int(sys.argv[2]) if len(sys.argv) > 2 else 96
    m_sub = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    k = int(sys.argv[4]) if len(sys.argv) > 4 else 16
    iters = int(sys.argv[5]) if len(sys.argv) > 5 else 10
    coarse, books, clog, plog, w_sub = train(sf_dir, nlist, m_sub, k, iters)
    with open(OUT, "w") as f:
        f.write(
            '"""IVF-residual PQ centroids — GENERATED by tools/train_ivfpq.py\n'
            f"(coarse Euclidean k-means nlist={nlist} + per-subspace residual "
            f"k-means,\ninit = first vectors, {iters} Lloyd iterations on "
            f"{sf_dir}). Frozen as\nliterals so the Spark query and the DuckDB "
            "oracle share bit-identical\ncentroids; retrain by re-running the "
            "tool.\nCoarse mean squared assignment error per iteration:\n"
            f"{clog}.\nResidual-PQ mean squared error per iteration:\n{plog}.\n"
            '"""\n\n'
            f"NLIST = {nlist}\n"
            f"M_SUB = {m_sub}\n"
            f"K = {k}\n"
            f"SUB_WIDTH = {w_sub}\n\n"
            "# COARSE[j] = IVF cell centroid j (full-dim)\n"
            "COARSE: list[list[float]] = [\n"
        )
        for c in coarse:
            f.write(f"    {[float(x) for x in c]!r},\n")
        f.write(
            "]\n\n"
            "# CODEBOOKS[m][k] = residual centroid k of subspace m "
            f"({w_sub} floats each)\n"
            "CODEBOOKS: list[list[list[float]]] = [\n"
        )
        for m in range(m_sub):
            f.write("    [\n")
            for ki in range(k):
                f.write(f"        {[float(x) for x in books[m][ki]]!r},\n")
            f.write("    ],\n")
        f.write("]\n")
    print(
        f"wrote {OUT} (nlist={nlist}, M={m_sub}, K={k}, width={w_sub});"
        f" coarse err: {clog[-1]}, pq err: {plog[-1]}"
    )


if __name__ == "__main__":
    main()
