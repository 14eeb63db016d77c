"""Train a byte-pair-encoding merge table with Spark DataFrame
aggregations and freeze it as a literal module (the train_pq_codebooks /
train_ivf_centroids recipe applied to tokenization).

BPE (Sennrich et al., ACL 2016): start from characters, repeatedly merge
the most frequent adjacent symbol pair. The training loop is inherently
iterative (each merge changes the pair statistics), so it runs OFFLINE —
one distributed aggregation per merge over the distinct-word frame — and
the resulting MERGE TABLE is frozen as literals that both the Spark query
and the DuckDB oracle apply identically (q139).

Distributed shape per iteration: the corpus collapses to its distinct
words with counts (Heaps-law small), each word held as a space-joined
symbol string; adjacent-pair counting is one explode + weighted groupBy;
the argmax is a 1-row TakeOrdered (count desc, pair asc — deterministic
tie-break); the merge applies as a literal string replace, map-only.
Words, not raw text, carry the statistics — the corpus is touched ONCE.

Usage: python tools/train_bpe.py [sf_dir] [n_merges]
Writes csv_loader_spark/functions/bpe_merges.py.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from csv_loader_spark.functions import text as TXT
from csv_loader_spark.io.tables import load_table
from csv_loader_spark.session import get_spark

OUT = os.path.join(REPO, "csv_loader_spark", "functions", "bpe_merges.py")


def train(sf_dir: str, n_merges: int) -> list[tuple[str, str, int]]:
    spark = get_spark("train_bpe")
    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(TXT.tokens("text")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # the word frame is reused every iter
    )
    # each iteration re-encodes from the SHARED application helper
    # (functions/text.py bpe_encode) with the merges chosen so far —
    # training literally runs the application code, so the two can
    # never drift (r9 review; the encoding rationale lives on
    # TXT.bpe_symbols' docstring)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = (
            words.select("n", TXT.bpe_subwords("w", merges).alias("s"))
            .select(
                "n",
                F.explode(
                    F.expr(
                        "transform(slice(s, 1, size(s) - 1),"
                        " (x, i) -> struct(x AS a, element_at(s, i + 2) AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        a, b, cnt = pairs[0]["a"], pairs[0]["b"], pairs[0]["cnt"]
        merges.append((a, b, int(cnt)))
    return merges


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else 24
    merges = train(sf_dir, n_merges)
    with open(OUT, "w") as f:
        f.write(
            '"""BPE merge table — GENERATED by tools/train_bpe.py\n'
            f"(character-level byte-pair encoding, {len(merges)} merges, "
            f"trained on {sf_dir}\nover the distinct-word frame; argmax "
            "tie-break = (count desc, pair asc)).\nFrozen as literals so "
            "the Spark query and the DuckDB oracle apply the\nidentical "
            'merge sequence; retrain by re-running the tool."""\n\n'
            "# MERGES[k] = (left_symbol, right_symbol, training_count)\n"
            "MERGES: list[tuple[str, str, int]] = [\n"
        )
        for a, b, cnt in merges:
            f.write(f"    ({a!r}, {b!r}, {cnt}),\n")
        f.write("]\n")
    print(f"wrote {OUT} ({len(merges)} merges): {[(a, b) for a, b, _ in merges][:8]}…")


if __name__ == "__main__":
    main()
