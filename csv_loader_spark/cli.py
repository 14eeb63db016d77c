"""CLI entry point — reference-parity surface (CsvLoader.java:31-70, op 1).

The reference:  java -jar csv-loader.jar -f pings.csv [-u URL]
Here:           python -m csv_loader_spark -f pings.csv [-u URL] [options]

Same contract: -f required and must exist; -u defaults to the reference's
default endpoint (CsvLoader.java:45 — NB the reference's own help text
:40 shows a stale URL; the code default is authoritative); sourceId is a
random 64-bit id per load (:63). Extensions beyond the reference: --stream
(incremental directory ingestion with checkpoint), --kinesis, --dry-run
(parse + metrics only), --batch-size / --retry-interval knobs.
"""

from __future__ import annotations

import argparse
import os
import random
import sys

DEFAULT_URL = "http://localhost:4567/locationUpdate"  # CsvLoader.java:45


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="csv_loader_spark",
        description="Load a vehicle-ping CSV and POST protobuf envelopes.",
        epilog=(
            "Wire-format note: envelopes are spec-correct protobuf, verified "
            "byte-for-byte against the official google.protobuf runtime "
            "(tests/test_envelope_wire.py) for the layout "
            "VehicleMessageEnvelope{1: sourceId, 2: messages}, "
            "VehicleMessage{1: vehicleId, 2: locations}, VehicleLocation{1: "
            "lat, 2: lon, 3: timestamp} — field numbers in declaration order "
            "of the reference's builder calls, the protobuf convention. The "
            "upstream io.opentraffic ExchangeFormat .proto is not vendored in "
            "the reference tree (unfetchable from this build sandbox, see "
            "SCALE.md), so if your receiver's .proto numbers fields "
            "differently, re-map the three field-number constants in "
            "sinks/envelope.py and re-run the wire tests."
        ),
    )
    p.add_argument("-f", "--file", required=True, help="input CSV (.csv/.gz/.zip) or directory")
    p.add_argument("-u", "--url", default=DEFAULT_URL, help=f"sink URL (default {DEFAULT_URL})")
    p.add_argument("--kinesis", metavar="STREAM", help="send to a Kinesis stream instead of HTTP")
    p.add_argument("--stream", action="store_true", help="incremental (Structured Streaming) mode over a directory")
    p.add_argument("--checkpoint", help="checkpoint dir for --stream")
    p.add_argument("--dry-run", action="store_true", help="parse + metrics only, no send")
    p.add_argument("--batch-size", type=int, default=10_001, help="rows per envelope (reference: 10,001)")
    p.add_argument("--retry-interval", type=float, default=5.0, help="seconds between transport retries (reference: 5)")
    p.add_argument("--max-retries", type=int, default=None, help="cap transport retries (default: forever, like the reference)")
    p.add_argument(
        "--exact-metrics",
        action="store_true",
        help="--stream only: reference-parity exact distinct-vehicle counts "
        "(unbounded driver sets, like CsvLoader.java:105-106); default is "
        "bounded approx_count_distinct",
    )
    return p


def build_curate_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="csv_loader_spark curate",
        description=(
            "Run the admission DAG (blocklist -> eval decontamination -> "
            "exact+near dedup -> passage dedup -> per-source quota -> "
            "split) over a documents parquet and write kept/ (partitioned "
            "by split) and manifest/ under --output. q127 and q132 run "
            "the same code under the oracle gate; see ops/curate.py."
        ),
    )
    p.add_argument("--input", required=True, help="documents parquet (doc_id, source, text)")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument(
        "--block",
        action="append",
        default=[],
        metavar="DOMAIN",
        help="blocklisted domain (repeatable, lowercase)",
    )
    p.add_argument(
        "--corpus",
        help="already-accepted documents parquet to dedup AGAINST (its "
        "fingerprint/band indexes are built from it); omitted = "
        "within-input dedup only",
    )
    p.add_argument(
        "--verify-members",
        action="store_true",
        help="Jaccard-verified near-dup rule (precision 1.0) for the "
        "corpus probe instead of band membership; requires --corpus",
    )
    p.add_argument(
        "--eval",
        dest="eval_path",
        help="held-out evaluation parquet (doc_id, text); candidates "
        "sharing a word 4-gram with it are rejected as contaminated "
        "(q85/q132's decontamination rule)",
    )
    p.add_argument(
        "--no-dedup",
        action="store_true",
        help="skip the doc-level exact+near dedup stage (e.g. when dedup "
        "runs at passage granularity instead)",
    )
    p.add_argument(
        "--passage-dedup",
        action="store_true",
        help="reject docs whose passages are majority-duplicated within "
        "the surviving set (q115/q132's passage rule)",
    )
    p.add_argument("--quota-cap", type=int, default=30, help="max admitted docs per source")
    return p


def curate_main(argv: list[str]) -> int:
    import json

    args = build_curate_parser().parse_args(argv)
    if not os.path.exists(args.input):
        print(f"input not found: {args.input}", file=sys.stderr)
        return 1
    if args.eval_path and not os.path.exists(args.eval_path):
        print(f"eval set not found: {args.eval_path}", file=sys.stderr)
        return 1
    if args.verify_members and not args.corpus:
        print(
            "--verify-members requires --corpus (without a snapshot the "
            "verified rule has nothing to confirm against and the verdicts "
            "would equal the membership tier's)",
            file=sys.stderr,
        )
        return 2
    from csv_loader_spark.ops.curate import run_curate

    counts = run_curate(
        args.input,
        args.output,
        blocklist=tuple(d.lower() for d in args.block),
        eval_path=args.eval_path,
        dedup=not args.no_dedup,
        passage_dedup=args.passage_dedup,
        corpus_path=args.corpus,
        verify_members=args.verify_members,
        quota_cap=args.quota_cap,
    )
    print(json.dumps({"output": args.output, "verdicts": counts}))
    return 0


def build_monitor_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="csv_loader_spark monitor",
        description=(
            "Run the q200 monitoring dashboard over an events table: per "
            "event_type gap-repair census (q171), latest smoothed hourly "
            "rate (q172), CUSUM changepoint + direction (q187), PSI drift "
            "vs the first week (q190) and activity drawdown (q198) — each "
            "leg is the oracle-gated operator the query surface proves."
        ),
    )
    p.add_argument(
        "--sf-dir",
        required=True,
        help="directory containing events.parquet (a testdata sf dir or "
        "any layout load_table understands)",
    )
    p.add_argument("--out", help="write the dashboard rows as JSON lines here")
    return p


def monitor_main(argv: list[str]) -> int:
    import json

    args = build_monitor_parser().parse_args(argv)
    if not os.path.exists(os.path.join(args.sf_dir, "events.parquet")):
        print(f"events.parquet not found under: {args.sf_dir}", file=sys.stderr)
        return 1
    from csv_loader_spark.queries.analytics2 import q200_monitoring_capstone
    from csv_loader_spark.session import get_spark

    spark = get_spark("csv_loader_monitor")
    rows = [r.asDict() for r in q200_monitoring_capstone(spark, args.sf_dir).collect()]
    rows.sort(key=lambda r: r["event_type"])
    lines = "\n".join(json.dumps(r) for r in rows)
    if args.out:
        with open(args.out, "w") as f:
            f.write(lines + "\n")
    print(lines)
    return 0


def build_audio_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="csv_loader_spark audio",
        description=(
            "Ingest an audio lake (directory of WAV files) through the "
            "`wavdir` source and land per-asset features (duration / RMS "
            "/ zero-crossings / peak, parsed FROM THE BYTES — the q206 "
            "stage) as parquet. --stream consumes the directory "
            "incrementally with a checkpoint (availableNow): re-running "
            "picks up only files added since the last run."
        ),
    )
    p.add_argument("--in", dest="in_dir", required=True, help="WAV directory")
    p.add_argument("--out", required=True, help="output parquet path")
    p.add_argument(
        "--stream",
        action="store_true",
        help="incremental file-discovery mode (checkpointed, availableNow)",
    )
    p.add_argument(
        "--checkpoint",
        help="stream checkpoint dir (default: <out>_checkpoint)",
    )
    p.add_argument(
        "--rejects",
        help="also write malformed files (parse_ok=false rows) here",
    )
    return p


def audio_main(argv: list[str]) -> int:
    args = build_audio_parser().parse_args(argv)
    if not args.stream and not os.path.isdir(args.in_dir):
        print(f"audio lake not found: {args.in_dir}", file=sys.stderr)
        return 1
    from csv_loader_spark.io import wav_source
    from csv_loader_spark.ops.multimodal import audio_features
    from csv_loader_spark.session import get_spark

    spark = get_spark("csv_loader_audio")
    wav_source.register(spark)
    if args.stream:
        if not os.path.isdir(args.in_dir):
            # legal under the wavdir allow_empty contract (a lake that
            # hasn't produced yet), but say so — a typo'd path would
            # otherwise look like a successful empty run
            print(
                f"note: audio lake {args.in_dir} does not exist yet; "
                "treating as empty (stream mode discovers files on "
                "later runs)",
                file=sys.stderr,
            )
        ckpt = args.checkpoint or args.out.rstrip("/") + "_checkpoint"
        stream = spark.readStream.format("wavdir").load(args.in_dir)
        feats = audio_features(
            stream.filter("parse_ok").select("doc_id", "payload")
        )
        q = (
            feats.writeStream.format("parquet")
            .outputMode("append")
            .option("path", args.out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # An empty or missing lake is a legal stream run (the wavdir
        # reader's allow_empty contract: zero batches, nothing landed) —
        # the sink path then either doesn't exist or holds only
        # _spark_metadata, and reading it as parquet raises instead of
        # counting 0. Report the empty outcome in the same format.
        try:
            n = spark.read.parquet(args.out).count()
        except Exception:
            n = 0
        print(f"audio features landed (stream): {args.out} ({n} assets total)")
        return 0
    df = spark.read.format("wavdir").load(args.in_dir)
    ok = df.filter("parse_ok")
    audio_features(ok.select("doc_id", "payload")).write.mode(
        "overwrite"
    ).parquet(args.out)
    n_ok = spark.read.parquet(args.out).count()
    n_bad = df.filter("NOT parse_ok").count()
    if args.rejects:
        df.filter("NOT parse_ok").select(
            "path", "doc_id", "parse_ok"
        ).write.mode("overwrite").parquet(args.rejects)
    print(
        f"audio features landed: {args.out} ({n_ok} assets, "
        f"{n_bad} rejected)"
    )
    return 0


def build_sql_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="csv_loader_spark sql",
        description=(
            "Ad-hoc SQL gateway over a parquet table directory: registers "
            "every benchmark table present (region nation customer supplier "
            "part orders lineitem events documents embeddings) as a temp "
            "view and runs your SQL — or any registered named query — "
            "printing rows or landing parquet."
        ),
    )
    p.add_argument(
        "--data", required=True, help="table directory (sf dir of parquet)"
    )
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--query", help="SQL text over the registered views")
    g.add_argument("--sql-file", help="read the SQL from this file")
    g.add_argument(
        "--name", help="run a registered named query (e.g. q01_pricing_summary)"
    )
    p.add_argument(
        "--out", help="write the result as parquet here instead of printing"
    )
    p.add_argument(
        "--limit", type=int, default=20, help="max rows to print (default 20)"
    )
    p.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan instead of executing",
    )
    return p


def sql_main(argv: list[str]) -> int:
    args = build_sql_parser().parse_args(argv)
    if not os.path.isdir(args.data):
        print(f"table directory not found: {args.data}", file=sys.stderr)
        return 1
    if args.sql_file and not os.path.exists(args.sql_file):
        print(f"sql file not found: {args.sql_file}", file=sys.stderr)
        return 1

    from csv_loader_spark.io.tables import TABLES, register_views
    from csv_loader_spark.session import get_spark

    spark = get_spark("csv_loader_sql")
    if args.name:
        from csv_loader_spark.queries.registry import all_specs

        specs = all_specs()
        if args.name not in specs:
            print(
                f"unknown query: {args.name} "
                f"({len(specs)} registered; see SURVEY.md)",
                file=sys.stderr,
            )
            return 1
        df = specs[args.name].fn(spark, args.data)
    else:
        present = [
            t
            for t in TABLES
            if os.path.exists(os.path.join(args.data, f"{t}.parquet"))
        ]
        if not present:
            print(
                f"no benchmark tables under {args.data}", file=sys.stderr
            )
            return 1
        register_views(spark, args.data, *present)
        sql = args.query
        if args.sql_file:
            with open(args.sql_file) as fh:
                sql = fh.read()
        try:
            df = spark.sql(sql)
        except Exception as e:  # AnalysisException/ParseException
            # message-and-return convention (CsvLoader.java:59-61 shape)
            print(f"sql error: {str(e).splitlines()[0]}", file=sys.stderr)
            return 1
    if args.explain:
        print(df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        ))
        return 0
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(f"result landed: {args.out} ({n} rows)")
        return 0
    rows = df.limit(args.limit + 1).collect()
    cols = df.columns
    print("\t".join(cols))
    for r in rows[: args.limit]:
        print("\t".join("NULL" if v is None else str(v) for v in r))
    if len(rows) > args.limit:
        print("... (more rows; raise --limit or use --out)")
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv[:1] == ["curate"]:
        return curate_main(argv[1:])
    if argv[:1] == ["monitor"]:
        return monitor_main(argv[1:])
    if argv[:1] == ["audio"]:
        return audio_main(argv[1:])
    if argv[:1] == ["sql"]:
        return sql_main(argv[1:])
    args = build_parser().parse_args(argv)
    if not os.path.exists(args.file):
        # reference behavior: message + return, no stack trace (:59-61)
        print(f"file not found: {args.file}", file=sys.stderr)
        return 1

    from csv_loader_spark.io.pings import distinct_vehicle_counts, read_pings
    from csv_loader_spark.session import get_spark

    spark = get_spark("csv_loader_cli")
    source_id = random.getrandbits(63)  # per-load session id (op 12, :63)
    retry = {"retry_interval": args.retry_interval, "max_retries": args.max_retries}

    if args.stream:
        from csv_loader_spark.streaming.pings import stream_pings, write_stream_http

        ckpt = args.checkpoint or os.path.join(
            args.file.rstrip("/") + "_checkpoint"
        )
        pings = stream_pings(spark, args.file)
        query, _metrics = write_stream_http(
            pings,
            args.url,
            source_id,
            ckpt,
            batch_size=args.batch_size,
            **retry,
            metrics="exact" if args.exact_metrics else "approx",
            available_now=True,
        )
        query.awaitTermination()
        return 0

    pings = read_pings(spark, args.file)
    if args.dry_run:
        row = distinct_vehicle_counts(pings).collect()[0]
    elif args.kinesis:
        from csv_loader_spark.sinks.kinesis import write_kinesis

        row = write_kinesis(pings, args.kinesis, **retry)
    else:
        from csv_loader_spark.sinks.http import write_http

        row = write_http(pings, args.url, source_id, batch_size=args.batch_size, **retry)
    # reference progress-line format (CsvLoader.java:165)
    print(
        "%.2fM records loaded, %d unique vehicles (%d unique ids)"
        % (row["n_records"] / 1e6, row["n_vehicles"], row["n_ids"])
    )
    return 0


if __name__ == "__main__":  # pragma: no cover - exercised via main() in tests
    sys.exit(main())
