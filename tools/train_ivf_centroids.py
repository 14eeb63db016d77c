"""Train the IVF coarse quantizer (spherical k-means) with Spark DataFrame
aggregations and freeze the centroids as a literal Python module.

Why offline + frozen: q55's oracle needs bit-identical centroids in both
engines, and a per-query training loop could never guarantee that (group
float sums are partition-order-dependent, so two engines — or two Spark
runs — differ in the last ulp, which can flip a cell assignment and the
exact-string gate). Real IVF indexes ship trained centroids as an index
artifact anyway; this mirrors that: train once on the gate-scale corpus,
commit the literals, every query run (any sf_dir) uses them verbatim.

Training loop (all distributed DataFrame ops, scale-shaped like q55):
- assign: crossJoin against the broadcast K-row centroid frame, argmax
  cosine via a row_number window keyed on vec_id — one corpus scan.
- update: posexplode assigned vectors to (cid, dim, val), partial+final
  sum/count per (cid, dim) — the shuffle reduces to K x dim rows.
- the K x dim means are collected to the driver (a ~4 KB scalar probe,
  same class as ops/graph.py's convergence collect) and become the next
  iteration's broadcast side. Empty cells keep their previous centroid.

Init = the first K vectors by vec_id (the old stand-in IS iteration 0, so
the upgrade strictly refines it). Cosine assignment is invariant to
centroid scale, so plain means (no renormalization) are spherical-k-means
correct.

Usage: python tools/train_ivf_centroids.py [sf_dir] [k] [iters]
Writes csv_loader_spark/functions/ivf_centroids.py.
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

OUT = REPO / "csv_loader_spark" / "functions" / "ivf_centroids.py"


def train(sf_dir: str, k: int, iters: int) -> tuple[list[list[float]], list[float]]:
    spark = get_spark("train_ivf_centroids")
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", VEC.as_double("embedding").alias("v")
    )
    n = e.withColumn("nrm", VEC.norm("v")).cache()
    dim = len(n.first()["v"])

    cent = [r["v"] for r in n.orderBy("vec_id").limit(k).collect()]
    inertia_log: list[float] = []
    for it in range(iters):
        cdf = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cent)], "cid INT, cv ARRAY<DOUBLE>"
        ).withColumn("cn", VEC.norm("cv"))
        csim = VEC.dot("v", "cv") / (F.col("nrm") * F.col("cn"))
        w = W.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cid"))
        assigned = (
            n.crossJoin(F.broadcast(cdf))
            .withColumn("csim", csim)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
        )
        stats = (
            assigned.select("cid", "csim", F.posexplode("v").alias("dim", "val"))
            .groupBy("cid", "dim")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
            .groupBy("cid")
            .agg(
                F.map_from_arrays(
                    F.collect_list("dim"),
                    F.collect_list(F.col("s") / F.col("c")),
                ).alias("mean"),
            )
            .collect()
        )
        mean_sim = assigned.agg(F.avg("csim")).first()[0]
        inertia_log.append(mean_sim)
        new_cent = list(cent)  # empty cells keep their previous centroid
        for r in stats:
            new_cent[r["cid"]] = [r["mean"][d] for d in range(dim)]
        print(f"iter {it}: mean assigned cosine = {mean_sim:.6f}")
        cent = new_cent
    return cent, inertia_log


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    iters = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    cent, log = train(sf_dir, k, iters)
    rows = ",\n    ".join(
        "[" + ", ".join(repr(x) for x in c) + "]" for c in cent
    )
    body = f'''"""IVF coarse-quantizer centroids — GENERATED by
tools/train_ivf_centroids.py (spherical k-means, init = first {k} vectors,
{iters} Lloyd iterations on {sf_dir}). Frozen as literals so the Spark
query and the DuckDB oracle share bit-identical centroids; retrain by
re-running the tool. Mean assigned cosine per iteration:
{[round(x, 6) for x in log]}.
"""

CENTROIDS: list[list[float]] = [
    {rows},
]
'''
    with open(OUT, "w") as fh:
        fh.write(body)
    print(f"wrote {OUT} ({k} x {len(cent[0])})")


if __name__ == "__main__":
    main()
