"""Round-12c placement/sampling operators: weighted sampling without
replacement and rendezvous (HRW) shard assignment.

Public-literature basis:
- q162: Efraimidis & Spirakis 2006, "Weighted random sampling with a
  reservoir" (A-ES): drawing k items with probability proportional to
  weight w WITHOUT replacement reduces to top-k by the key u_i^(1/w_i)
  with u_i uniform — equivalently top-k by ln(u_i)/w_i. With u_i derived
  from a deterministic portable hash the sample is reproducible,
  distributed (a plain top-k), and oracle-checkable. This is the mixing
  primitive behind weighted corpus subsampling (sample documents
  proportional to length/quality without materializing repeats).
- q163: Thaler & Ravishankar 1998, "Using name-based mappings to
  increase hit rates" (highest-random-weight / rendezvous hashing; the
  technique behind consistent object placement): item x goes to the
  shard j maximizing h(x, j). Adding shard N+1 moves ONLY the items
  whose new maximum is the new shard (expected 1/(N+1) of them) — the
  minimal-disruption property that makes resharding a 100-TB corpus an
  incremental copy instead of a full reshuffle. The query computes both
  the N=8 assignment census and the 8→9 migration count per shard;
  the monotone property itself is test-asserted per item.

The reference (CsvLoader.java, 274 lines) has no sampling or placement
surface; these belong to the beyond-reference training-data operators
mandated by the build brief.

Scale notes (100 TB):
- q162 is one map-side key computation + a global top-k
  (TakeOrderedAndProject: per-partition heaps, no global sort); nothing
  shuffles but the k survivors.
- q163 is ENTIRELY map-side until the final ≤N-row census: the argmax
  over shards is a greatest() over N inline expressions (whole-stage
  codegen, no explode, no join), so assignment cost is O(N) arithmetic
  per row — the same expression a writer task would use to route output
  files. Both assignments (N and N+1) come from one pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv_loader_spark.functions.hashing import hash16_spark_sql, hash16_sql
from csv_loader_spark.io.tables import load_table
from csv_loader_spark.queries.registry import query

# --- q162: A-ES weighted sampling without replacement ----------------------

WS_K = 100


def _ws_key_spark() -> Column:
    """ln(u)/w with u = (hash16('ws:'||doc_id)+1)/65536 ∈ (0, 1]."""
    h = hash16_spark_sql("concat('ws:', CAST(doc_id AS STRING))")
    return F.log((F.expr(h) + 1) / 65536.0) / F.col("n_chars")


def _ws_oracle() -> str:
    h = hash16_sql("concat('ws:', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH scored AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             ln(({h} + 1) / 65536.0) / n_chars AS key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, w, round(key, 6) + 0.0 AS key_ln, n_rank FROM (
      SELECT doc_id, w, key,
             CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INTEGER)
               AS n_rank
      FROM scored
    ) WHERE n_rank <= {WS_K}
    """


@query(
    "q162_weighted_sample",
    oracle=_ws_oracle(),
    tags=("llm", "sampling", "r12"),
)
def q162_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample (k={WS_K}, weight = n_chars) via the
    Efraimidis-Spirakis log-key: top-k by ln(u)/w with a hash-derived
    uniform — probability-proportional-to-size WITHOUT replacement."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    scored = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("w"),
        _ws_key_spark().alias("key"),
    )
    topk = scored.orderBy(F.col("key").desc(), F.col("doc_id")).limit(WS_K)
    w = Window.orderBy(F.col("key").desc(), F.col("doc_id"))
    # + 0.0 normalizes IEEE -0.0 on both engines (a near-1 uniform gives a
    # tiny negative key that DuckDB's round() keeps as -0.0 — the q49 trap)
    return topk.withColumn("n_rank", F.row_number().over(w).cast("int")).select(
        "doc_id", "w", (F.round("key", 6) + F.lit(0.0)).alias("key_ln"), "n_rank"
    )


# --- q163: rendezvous (HRW) shard assignment --------------------------------

HRW_N = 8


def hrw_shard(key_sql: str, n_shards: int) -> Column:
    """Rendezvous shard for the string-SQL key expression ``key_sql``:
    argmax over j < n_shards of hash16(key || '#' || j), ties to the
    smallest j. Encoded as one greatest() over n inline combined values
    (h*16 + (15-j)) — pure map-side arithmetic, no explode, no join.
    Requires n_shards <= 16 (the tie-break nibble)."""
    if not 1 <= n_shards <= 16:
        raise ValueError("hrw_shard supports 1..16 shards (tie-break nibble)")
    combined = []
    for j in range(n_shards):
        tok = "concat({key}, '#{j}')".format(key=key_sql, j=j)
        combined.append(f"({hash16_spark_sql(tok)} * 16 + {15 - j})")
    expr = combined[0] if len(combined) == 1 else f"greatest({', '.join(combined)})"
    return (15 - F.expr(expr) % 16).cast("int")


def _hrw_combined_sql(key_sql: str, j: int) -> str:
    tok = "concat({key}, '#{j}')".format(key=key_sql, j=j)
    return f"({hash16_sql(tok)} * 16 + {15 - j})"


def _hrw_oracle() -> str:
    key = "CAST(doc_id AS VARCHAR)"
    c8 = ", ".join(_hrw_combined_sql(key, j) for j in range(HRW_N))
    c9 = ", ".join(_hrw_combined_sql(key, j) for j in range(HRW_N + 1))
    return f"""
    WITH assigned AS (
      SELECT doc_id,
             CAST(15 - greatest({c8}) % 16 AS INTEGER) AS shard,
             CAST(15 - greatest({c9}) % 16 AS INTEGER) AS shard9
      FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS key_sum,
           CAST(sum(CASE WHEN shard9 <> shard THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved
    FROM assigned GROUP BY shard ORDER BY shard
    """


@query(
    "q163_rendezvous_shards",
    oracle=_hrw_oracle(),
    tags=("llm", "placement", "r12"),
)
def q163_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash placement census: per-shard document count and
    key-sum under N={HRW_N}, plus how many of the shard's documents
    migrate when a 9th shard is added (HRW's minimal-disruption
    resharding — movers are exactly the docs whose new argmax is the
    new shard)."""
    key = "CAST(doc_id AS STRING)"
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        hrw_shard(key, HRW_N).alias("shard"),
        hrw_shard(key, HRW_N + 1).alias("shard9"),
    )
    return (
        d.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("key_sum"),
            F.sum((F.col("shard9") != F.col("shard")).cast("long")).alias(
                "n_moved"
            ),
        )
        .orderBy("shard")
    )
