"""Scaling-curve evidence for the BASELINE.md floor analysis.

BENCH shows Spark 4-25x slower than DuckDB per query at sf0.1 — the claim
(BASELINE.md) is that the gap is a fixed per-query stage-scheduling floor,
amortized as data grows, not a per-row deficit. This tool MEASURES that:
the same SQL text runs on both engines over the sf0.1 fact tables
multiplied x1/x4/x10 (UNION ALL of the same parquet — same bytes, same
values, no synthesized data), and prints per-engine wall times.

If the floor story is true, Spark's times should grow far slower than the
multiplier (floor-dominated) while DuckDB's grow ~linearly; the ratio
should fall toward (and past) 1 as the multiplier grows.

Usage:  python tools/bench_scaling.py   # one JSON line, plus a table on stderr
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_loader_spark.session import get_spark, local_cpus  # noqa: E402

MULTIPLIERS = (1, 10, 30, 100)

# Same SQL text on both engines (ANSI subset both parse identically).
# Only the FACT side is multiplied — dims stay x1 so join output scales
# linearly with the multiplier, like a real growing fact table.
QUERIES = {
    "scan_agg": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               round(avg(l_quantity), 4) AS avg_qty,
               count(*) AS n
        FROM lineitem_m
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "join_agg": """
        SELECT o.o_orderpriority,
               round(sum(l.l_extendedprice), 2) AS volume,
               count(*) AS n
        FROM lineitem_m l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_totalprice > 100000
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
    "window_topk": """
        SELECT *
        FROM (
            SELECT l_orderkey, l_linenumber,
                   row_number() OVER (PARTITION BY l_suppkey
                                      ORDER BY l_extendedprice DESC,
                                               l_orderkey, l_linenumber) AS rnk
            FROM lineitem_m
        ) t
        WHERE rnk = 1
    """,
}


def run_spark(sf_dir: str, m: int) -> dict[str, float]:
    spark = get_spark("bench_scaling")
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    fact = li
    for _ in range(m - 1):
        fact = fact.unionAll(li)
    fact.createOrReplaceTempView("lineitem_m")
    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).createOrReplaceTempView(
        "orders"
    )
    out: dict[str, float] = {}
    for name, sql in QUERIES.items():
        spark.sql(sql).count()  # prime (JIT/codegen/broadcast warm)
        t0 = time.perf_counter()
        spark.sql(sql).count()
        out[name] = round(time.perf_counter() - t0, 4)
    return out


def run_duckdb(sf_dir: str, m: int) -> dict[str, float]:
    con = duckdb.connect()
    con.execute(f"SET threads TO {local_cpus()}")
    li = os.path.join(sf_dir, "lineitem.parquet")
    union = " UNION ALL ".join([f"SELECT * FROM '{li}'"] * m)
    con.execute(f"CREATE VIEW lineitem_m AS {union}")
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{os.path.join(sf_dir, 'orders.parquet')}'"
    )
    out: dict[str, float] = {}
    for name, sql in QUERIES.items():
        con.execute(sql).fetchall()  # prime
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        out[name] = round(time.perf_counter() - t0, 4)
    return out


# --- LLM-op scaling: decontamination (corpus xM vs FIXED eval set) --------
# The gram SQL is not engine-portable (list_transform vs transform), so this
# section times each engine's OWN implementation of q85 — value equality of
# the two is already proven by the exact-match oracle gate at sf0.01. The
# corpus side is documents unioned xM with doc_ids remapped per copy (so
# dedup keys stay unique); the eval split stays x1, like a real benchmark
# suite against a growing corpus. Output size grows ~linearly in M.

_DECONTAM_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM {corpus}
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 2),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
               AS grams
      FROM toks WHERE len(t) >= 4
    ),
    exploded AS (SELECT doc_id, unnest(grams) AS g FROM sh)
    SELECT c.doc_id,
           count(DISTINCT e.doc_id) AS n_eval_docs,
           count(DISTINCT c.g) AS n_shared_grams
    FROM exploded c
    JOIN exploded e ON c.g = e.g
    WHERE c.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
    GROUP BY c.doc_id
"""


def run_spark_decontam(sf_dir: str, m: int) -> float:
    from pyspark.sql import functions as F

    from csv_loader_spark.functions import text as TXT

    spark = get_spark("bench_scaling")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    # eval split (doc_id % 10 = 0) stays x1; corpus copies get remapped ids
    # that keep % 10 != 0 (offset is a multiple of 10).
    parts = [docs]
    for k in range(1, m):
        parts.append(
            docs.filter(F.col("doc_id") % 10 != 0).select(
                (F.col("doc_id") + F.lit(k * 1_000_000)).alias("doc_id"), "text"
            )
        )
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionAll(p)
    grams = (
        corpus.select("doc_id", TXT.word_shingles("text", 4).alias("grams"))
        .filter(F.size("grams") >= 1)
        .select("doc_id", F.explode("grams").alias("g"))
    )
    c = grams.filter(F.col("doc_id") % 10 != 0)
    e = grams.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("eval_id"), "g"
    )
    out = (
        c.join(F.broadcast(e), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("eval_id").alias("n_eval_docs"),
            F.countDistinct("g").alias("n_shared_grams"),
        )
    )
    out.count()  # prime
    t0 = time.perf_counter()
    out.count()
    return round(time.perf_counter() - t0, 4)


def run_duckdb_decontam(sf_dir: str, m: int) -> float:
    con = duckdb.connect()
    con.execute(f"SET threads TO {local_cpus()}")
    doc = os.path.join(sf_dir, "documents.parquet")
    union = " UNION ALL ".join(
        [f"SELECT doc_id, text FROM '{doc}'"]
        + [
            f"SELECT doc_id + {k * 1_000_000} AS doc_id, text FROM '{doc}' "
            f"WHERE doc_id % 10 <> 0"
            for k in range(1, m)
        ]
    )
    con.execute(f"CREATE VIEW docs_m AS {union}")
    sql = _DECONTAM_ORACLE.format(corpus="docs_m")
    con.execute(sql).fetchall()  # prime
    t0 = time.perf_counter()
    con.execute(sql).fetchall()
    return round(time.perf_counter() - t0, 4)


# --- dedup-family scaling: MinHash-LSH (q34) + winnowing (q94/q96) --------
# Corpus = documents x M with doc_ids remapped per copy. IDENTICAL content
# multiplied is the WORST CASE for near-dup candidate generation: every
# LSH bucket / fingerprint posting list grows xM, so candidate pairs (and
# the Σ(bucket²) cost the docstrings claim) must grow ~M² — this run
# measures that prediction on both engines, plus the emitted pair counts
# as direct evidence. Both engines run their own implementation of the
# SAME pipeline (value equality is proven by the exact gate at sf0.01);
# the Spark side imports the production functions, the DuckDB side runs
# the registered oracle SQL against a view literally named `documents`.

DEDUP_MULTIPLIERS = (1, 4, 10)


def _spark_docs_m(sf_dir: str, m: int):
    from pyspark.sql import functions as F

    spark = get_spark("bench_scaling")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    corpus = docs
    for k in range(1, m):
        corpus = corpus.unionAll(
            docs.select((F.col("doc_id") + k * 1_000_000).alias("doc_id"), "text")
        )
    return corpus


def run_spark_dedup(sf_dir: str, m: int) -> dict[str, dict]:
    from csv_loader_spark.queries.llm import minhash_lsh_pairs
    from csv_loader_spark.queries.llm3 import winnow_neardup_pairs

    corpus = _spark_docs_m(sf_dir, m)
    out: dict[str, dict] = {}
    for name, df in (
        ("minhash", minhash_lsh_pairs(corpus)),
        ("winnow", winnow_neardup_pairs(corpus)),
    ):
        df.count()  # prime
        t0 = time.perf_counter()
        n = df.count()
        out[name] = {"sec": round(time.perf_counter() - t0, 4), "pairs": n}
    return out


def run_duckdb_dedup(sf_dir: str, m: int) -> dict[str, dict]:
    from csv_loader_spark.queries.llm3 import winnow_pairs_oracle
    from csv_loader_spark.queries.registry import get

    con = duckdb.connect()
    con.execute(f"SET threads TO {local_cpus()}")
    doc = os.path.join(sf_dir, "documents.parquet")
    union = " UNION ALL ".join(
        [f"SELECT doc_id, text FROM '{doc}'"]
        + [
            f"SELECT doc_id + {k * 1_000_000} AS doc_id, text FROM '{doc}'"
            for k in range(1, m)
        ]
    )
    con.execute(f"CREATE VIEW documents AS {union}")
    out: dict[str, dict] = {}
    for name, sql in (
        ("minhash", get("q34_minhash_lsh").oracle),
        ("winnow", winnow_pairs_oracle("TRUE")),
    ):
        # count(*) wrapper, symmetric with the Spark side's .count(): the
        # join still runs in full, but the pairs are never materialized in
        # Python — winnow emits ~12M pairs per (sf0.1)² copy and grows
        # ~M², so a fetchall() at x10 would be ~1.2G rows and OOM the
        # harness (this is exactly the quadratic growth being measured;
        # measure it, don't materialize it).
        count_sql = f"SELECT count(*) FROM ({sql})"
        con.execute(count_sql).fetchall()  # prime
        t0 = time.perf_counter()
        n = con.execute(count_sql).fetchone()[0]
        out[name] = {"sec": round(time.perf_counter() - t0, 4), "pairs": n}
    return out




# --- prefix-filter scaling: q119 vs naive q33 under a boilerplate flood ---
# The prefix join's 100 TB claim is structural immunity to boilerplate:
# naive inverted-index cost is sum(df^2) over ALL tokens, so a shared
# suffix (site chrome, license text) that lands in every document makes
# candidate generation quadratic in the corpus; df-ordered prefixes push
# exactly those tokens out of the prefix, so candidates stay at the
# natural level. This run APPENDS a fixed B-word boilerplate to every
# document and measures both shapes' candidate counts and wall time —
# plus verified-pair equality between them at every B (losslessness under
# flood, not just on clean data).

BOILER_WORDS = (0, 20, 40)


def _boiler_text(b: int) -> str:
    """B words, identical in every document (the shared-chrome shape)."""
    return " ".join(f"boilerword{i}" for i in range(b))


def run_prefix_flood(sf_dir: str, b: int) -> dict[str, dict]:
    from pyspark.sql import functions as F

    from csv_loader_spark.ops.dedup import shingled_docs
    from csv_loader_spark.queries.llm7 import (
        prefix_jaccard_candidates,
        prefix_jaccard_index,
        prefix_jaccard_pairs,
    )

    spark = get_spark("bench_scaling")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    if b:
        docs = docs.withColumn(
            "text", F.concat_ws(" ", F.col("text"), F.lit(_boiler_text(b)))
        )
    sh = shingled_docs(docs)
    out: dict[str, dict] = {}

    # naive inverted-index candidates (q33's shape)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    naive_cand = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    naive_cand.count()  # prime
    t0 = time.perf_counter()
    n_naive = naive_cand.count()
    out["naive"] = {"sec": round(time.perf_counter() - t0, 4), "cands": n_naive}

    # prefix-filtered candidates + full verified join (q119's shape)
    idx = prefix_jaccard_index(sh).persist()
    try:
        idx.count()
        cand = prefix_jaccard_candidates(idx)
        cand.count()  # prime
        t0 = time.perf_counter()
        n_pref = cand.count()
        out["prefix"] = {
            "sec": round(time.perf_counter() - t0, 4),
            "cands": n_pref,
        }
        # losslessness under flood: verified pair count must equal the
        # naive join's verified pair count (full q33 semantics)
        sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
        inter = (
            ex.alias("a")
            .join(
                ex.alias("b"),
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
        jac = F.col("n_inter").cast("double") / (
            F.col("na") + F.col("nb") - F.col("n_inter")
        )
        n_true = (
            inter.join(sa, "doc_a").join(sb, "doc_b").filter(jac >= 0.5).count()
        )
        n_fast = prefix_jaccard_pairs(idx).count()
        assert n_fast == n_true, f"pair mismatch at B={b}: {n_fast} vs {n_true}"
        out["pairs"] = n_true
    finally:
        idx.unpersist()
    return out


# --- cluster-family flood: the full q143 pipeline under boilerplate ---
# r10 claim under test: with edges routed through the prefix join
# (jaccard_dup_edges), the WHOLE dup-cluster pipeline (edges ->
# connected components -> keep-best representative) stays bounded under
# the boilerplate flood that drove the r9 naive edge join to C(n,2)
# candidates (see prefix_filter.runs_sf001: 124,750 at B=20 on 500
# docs). Components/argmax are linear in edge nodes, so total wall time
# should track the prefix join's, not the flood.


def run_cluster_flood(sf_dir: str, b: int) -> dict[str, float | int]:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from csv_loader_spark.functions import text as TXT
    from csv_loader_spark.ops.dedup import shingled_docs
    from csv_loader_spark.ops.graph import connected_components
    from csv_loader_spark.queries.llm7 import (
        prefix_jaccard_index,
        prefix_jaccard_pairs,
    )

    spark = get_spark("bench_scaling")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    if b:
        docs = docs.withColumn(
            "text", F.concat_ws(" ", F.col("text"), F.lit(_boiler_text(b)))
        )
    idx = prefix_jaccard_index(shingled_docs(docs)).persist()
    try:
        idx.count()  # prime the index (the persisted artifact, as in q119)
        t0 = time.perf_counter()
        edges = prefix_jaccard_pairs(idx).select("doc_a", "doc_b")
        n_edges = edges.count()
        t_edges = time.perf_counter()
        comp = connected_components(edges, "doc_a", "doc_b").select(
            F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
        )
        sized = comp.join(
            docs.select("doc_id", F.size(TXT.tokens("text")).alias("n_tok")),
            "doc_id",
        )
        w = W.partitionBy("cluster_id").orderBy(
            F.col("n_tok").desc(), F.col("doc_id")
        )
        n_clusters = (
            sized.withColumn("rnk", F.row_number().over(w))
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n_members"))
            .count()
        )
        t_end = time.perf_counter()
        return {
            "edges": n_edges,
            "clusters": n_clusters,
            "edges_sec": round(t_edges - t0, 4),
            "cluster_sec": round(t_end - t_edges, 4),
            "total_sec": round(t_end - t0, 4),
        }
    finally:
        idx.unpersist()


# --- probe-verify flood: q144/q146's independent verification join ---
# r12 claim under test: the meters' verify-side posting join (the last
# unguarded posting join in the tree until r12) is bounded by the
# _PROBE_VERIFY_MAX_DF corpus stop-list. Unguarded, each rejected
# arrival's candidate cost is sum(df_corpus(s)) over its shingles —
# linear in corpus size under a shared-boilerplate flood; guarded, hot
# shingles drop out and the join tracks the CONTENT overlap, not the
# chrome.


def run_probe_verify_flood(sf_dir: str, b: int) -> dict[str, float | int]:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from csv_loader_spark.ops.dedup import (
        band_signature_index,
        fingerprint_index,
        ingest_verdicts,
        shingled_docs,
    )
    from csv_loader_spark.queries.llm8 import _PROBE_VERIFY_MAX_DF

    spark = get_spark("bench_scaling")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "source", "text"
    )
    if b:
        docs = docs.withColumn(
            "text", F.concat_ws(" ", F.col("text"), F.lit(_boiler_text(b)))
        )
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    arrivals = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", "text"
    )
    nc = (
        ingest_verdicts(
            arrivals, fingerprint_index(corpus), band_signature_index(corpus)
        )
        .filter(F.col("verdict") == "near_corpus")
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    sh = shingled_docs(docs.select("doc_id", "text")).localCheckpoint(eager=True)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    ex_a = ex.join(nc, "doc_id", "left_semi").select(
        F.col("doc_id").alias("doc_a"), "s"
    )
    ex_c_raw = ex.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("doc_c"), "s"
    )
    ex_c_guard = (
        ex.filter(F.col("doc_id") % 2 == 0)
        .withColumn("df", F.count(F.lit(1)).over(W.partitionBy("s")))
        .filter(F.col("df") <= _PROBE_VERIFY_MAX_DF)
        .select(F.col("doc_id").alias("doc_c"), "s")
    )
    n_rejected = nc.count()
    t0 = time.perf_counter()
    cands_guarded = ex_a.join(ex_c_guard, "s").count()
    t_guard = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    cands_unguarded = ex_a.join(ex_c_raw, "s").count()
    t_raw = round(time.perf_counter() - t0, 4)
    return {
        "max_df": _PROBE_VERIFY_MAX_DF,
        "n_rejected": n_rejected,
        "cands_unguarded": cands_unguarded,
        "unguarded_sec": t_raw,
        "cands_guarded": cands_guarded,
        "guarded_sec": t_guard,
    }


def main() -> None:
    """``--relational-only`` / ``--dedup-only`` run one section (the
    relational curve takes ~12 min at x100; the dedup curve's winnow x10
    counts ~1.2G pairs) — the driver-recorded SCALING.json merges both."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = set(sys.argv[1:])
    # each --X-only flag selects its section; passing any section flag
    # suppresses the sections not selected (no flags = rel + dedup)
    section_flags = {
        "--relational-only", "--dedup-only", "--prefix-only", "--cluster-only",
        "--probe-verify-only",
    }
    chosen = section_flags & args
    do_rel = not chosen or "--relational-only" in chosen
    do_dedup = not chosen or "--dedup-only" in chosen
    do_prefix = "--prefix-only" in args
    do_cluster = "--cluster-only" in args
    do_probe = "--probe-verify-only" in args
    results = {}
    for m in MULTIPLIERS if do_rel else ():
        s = run_spark(sf_dir, m)
        d = run_duckdb(sf_dir, m)
        s["decontam"] = run_spark_decontam(sf_dir, m)
        d["decontam"] = run_duckdb_decontam(sf_dir, m)
        results[str(m)] = {
            "spark": s,
            "duckdb": d,
            "spark_total": round(sum(s.values()), 4),
            "duckdb_total": round(sum(d.values()), 4),
            "ratio": round(sum(s.values()) / max(sum(d.values()), 1e-9), 2),
        }
        print(
            f"# x{m}: spark={results[str(m)]['spark_total']}s "
            f"duckdb={results[str(m)]['duckdb_total']}s "
            f"ratio={results[str(m)]['ratio']}",
            file=sys.stderr,
        )
    dedup = {}
    for m in DEDUP_MULTIPLIERS if do_dedup else ():
        s = run_spark_dedup(sf_dir, m)
        d = run_duckdb_dedup(sf_dir, m)
        assert all(s[k]["pairs"] == d[k]["pairs"] for k in s), (
            f"pair-count mismatch at x{m}: {s} vs {d}"
        )
        dedup[str(m)] = {"spark": s, "duckdb": d}
        print(
            f"# dedup x{m}: minhash spark={s['minhash']['sec']}s "
            f"duckdb={d['minhash']['sec']}s pairs={s['minhash']['pairs']}; "
            f"winnow spark={s['winnow']['sec']}s "
            f"duckdb={d['winnow']['sec']}s pairs={s['winnow']['pairs']}",
            file=sys.stderr,
        )
    prefix = {}
    for b in BOILER_WORDS if do_prefix else ():
        r = run_prefix_flood(sf_dir, b)
        prefix[str(b)] = r
        print(
            f"# prefix B={b}: naive cands={r['naive']['cands']} "
            f"({r['naive']['sec']}s) vs prefix cands={r['prefix']['cands']} "
            f"({r['prefix']['sec']}s); verified pairs={r['pairs']} (equal)",
            file=sys.stderr,
        )
    cluster = {}
    for b in BOILER_WORDS if do_cluster else ():
        r = run_cluster_flood(sf_dir, b)
        cluster[str(b)] = r
        print(
            f"# cluster B={b}: edges={r['edges']} ({r['edges_sec']}s) "
            f"clusters={r['clusters']} (+{r['cluster_sec']}s) "
            f"total={r['total_sec']}s",
            file=sys.stderr,
        )
    probe = {}
    for b in BOILER_WORDS if do_probe else ():
        r = run_probe_verify_flood(sf_dir, b)
        probe[str(b)] = r
        print(
            f"# probe-verify B={b}: rejected={r['n_rejected']} "
            f"cands unguarded={r['cands_unguarded']} ({r['unguarded_sec']}s) "
            f"vs guarded={r['cands_guarded']} ({r['guarded_sec']}s) "
            f"at max_df={r['max_df']}",
            file=sys.stderr,
        )
    print(
        json.dumps(
            {
                "metric": "scaling_curve",
                "sf_dir": sf_dir,
                "results": results,
                "dedup_results": dedup,
                "prefix_results": prefix,
                "cluster_results": cluster,
                "probe_results": probe,
            }
        )
    )


if __name__ == "__main__":
    main()
