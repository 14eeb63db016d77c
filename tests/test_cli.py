"""CLI parity: -f/-u contract, missing-file message, end-to-end POST, dry-run
metrics line in the reference's format."""

import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from conftest import DIRTY_ROWS, NARROW_ROWS, write_narrow_csv

from csv_loader_spark.cli import main
from csv_loader_spark.sinks.envelope import decode_envelope


class _Recorder(BaseHTTPRequestHandler):
    payloads: list[bytes] = []

    def do_POST(self):  # noqa: N802
        body = self.rfile.read(int(self.headers["Content-Length"]))
        type(self).payloads.append(body)
        self.send_response(200)
        self.end_headers()

    def log_message(self, *a):
        pass


@pytest.fixture()
def http_server():
    _Recorder.payloads = []
    srv = HTTPServer(("127.0.0.1", 0), _Recorder)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}/locationUpdate", _Recorder
    srv.shutdown()


def test_missing_file_is_error_not_traceback(capsys):
    assert main(["-f", "/nonexistent/x.csv"]) == 1
    assert "file not found" in capsys.readouterr().err


def test_missing_f_flag_exits():
    with pytest.raises(SystemExit):
        main([])


def test_end_to_end_post_and_progress_line(spark, tmp_path, http_server, capsys):
    url, rec = http_server
    path = str(tmp_path / "pings.csv")
    write_narrow_csv(path)
    assert main(["-f", path, "-u", url, "--max-retries", "2"]) == 0
    out = capsys.readouterr().out
    # reference progress-line format (CsvLoader.java:165)
    assert f"0.00M records loaded, {len(NARROW_ROWS)} unique vehicles" in out
    sent = sorted(
        vid for p in rec.payloads for vid, _ in decode_envelope(p).messages
    )
    assert sent == sorted(vid for _, (vid, *_ ) in NARROW_ROWS)


@pytest.mark.parametrize(
    "lines", [[], DIRTY_ROWS], ids=["empty_file", "every_row_rejected"]
)
def test_no_valid_rows_prints_zero_line_and_posts_nothing(
    spark, tmp_path, http_server, capsys, lines
):
    url, rec = http_server
    path = tmp_path / "pings.csv"
    path.write_text("".join(line + "\n" for line in lines))
    assert main(["-f", str(path), "-u", url, "--max-retries", "2"]) == 0
    out = capsys.readouterr().out
    assert "0.00M records loaded, 0 unique vehicles (0 unique ids)" in out
    assert rec.payloads == []


def test_dry_run_sends_nothing(spark, tmp_path, http_server, capsys):
    url, rec = http_server
    path = str(tmp_path / "pings.csv")
    write_narrow_csv(path)
    assert main(["-f", path, "-u", url, "--dry-run"]) == 0
    assert rec.payloads == []
    assert "unique vehicles" in capsys.readouterr().out


_TOO_SMALL = "--batch-size: must be at least 1"
_BAD_INTERVAL = "--retry-interval: must be a finite number >= 0"
_BAD_RETRIES = "--max-retries: must be at least 0"
_NO_STREAM_MODE = "--stream cannot be combined"


@pytest.mark.parametrize(
    "stream, flags, message",
    [
        (False, ["--batch-size", "0"], _TOO_SMALL),
        (False, ["--batch-size", "-1"], _TOO_SMALL),
        (True, ["--batch-size", "0"], _TOO_SMALL),
        (True, ["--batch-size", "-1"], _TOO_SMALL),
        (True, ["--dry-run"], _NO_STREAM_MODE),
        (True, ["--kinesis", "s"], _NO_STREAM_MODE),
        (False, ["--retry-interval", "-1"], _BAD_INTERVAL),
        (False, ["--retry-interval", "nan"], _BAD_INTERVAL),
        (True, ["--retry-interval", "-0.5"], _BAD_INTERVAL),
        (False, ["--max-retries", "-1"], _BAD_RETRIES),
        (True, ["--max-retries", "-1"], _BAD_RETRIES),
    ],
    ids=["batch_size_0", "batch_size_-1", "stream_batch_size_0",
         "stream_batch_size_-1", "stream_dry_run", "stream_kinesis",
         "retry_interval_-1", "retry_interval_nan",
         "stream_retry_interval_-0.5", "max_retries_-1",
         "stream_max_retries_-1"],
)
def test_usage_errors_exit_2_and_post_nothing(
    tmp_path, http_server, capsys, stream, flags, message
):
    """A --batch-size below 1, a negative or NaN --retry-interval, a
    negative --max-retries, and --stream with a flag it has no mode for
    (it posts to --url), are usage errors before any row is read."""
    url, rec = http_server
    src = tmp_path / "incoming"
    src.mkdir()
    write_narrow_csv(str(src / "pings.csv"))
    if stream:
        source = ["-f", str(src), "--stream", "--checkpoint", str(tmp_path / "ckpt")]
    else:
        source = ["-f", str(src / "pings.csv")]
    with pytest.raises(SystemExit) as exit_:
        main([*source, "-u", url, "--max-retries", "2", *flags])
    assert exit_.value.code == 2
    assert message in capsys.readouterr().err
    assert rec.payloads == []


def test_stream_posts_once_per_checkpoint(spark, tmp_path, http_server):
    """--stream drains the directory through the same sink as the batch
    branch; a second run over the same checkpoint has nothing new to post."""
    url, rec = http_server
    src = tmp_path / "incoming"
    src.mkdir()
    write_narrow_csv(str(src / "pings.csv"))
    argv = ["-f", str(src), "--stream", "-u", url,
            "--checkpoint", str(tmp_path / "ckpt"), "--max-retries", "2"]
    assert main(argv) == 0
    sent = sorted(
        vid for p in rec.payloads for vid, _ in decode_envelope(p).messages
    )
    assert sent == sorted(vid for _, (vid, *_ ) in NARROW_ROWS)

    rec.payloads = []
    assert main(argv) == 0
    assert rec.payloads == []


def test_kinesis_honours_retry_flags(spark, tmp_path, monkeypatch):
    """--kinesis passes --retry-interval and --max-retries to the sink: with
    --max-retries 1, a stream that fails three attempts fails the load after
    two."""
    from types import SimpleNamespace

    from csv_loader_spark.sinks import kinesis

    log = str(tmp_path / "attempts.log")

    def put_records(StreamName, Records):  # noqa: N803 - boto3's names
        # runs in an executor worker: count the attempts in a file; the
        # first three fail, so ignored flags show as a success, not a hang
        with open(log, "a") as f:
            f.write("put\n")
        with open(log) as f:
            if len(f.readlines()) <= 3:
                raise ConnectionError("endpoint unreachable")
        return {"FailedRecordCount": 0, "Records": [{} for _ in Records]}

    client = SimpleNamespace(put_records=put_records)
    monkeypatch.setattr(
        kinesis, "_default_client_factory", lambda region: lambda: client
    )
    path = str(tmp_path / "pings.csv")
    write_narrow_csv(path)
    argv = ["-f", path, "--kinesis", "s",
            "--retry-interval", "0", "--max-retries", "1"]
    with pytest.raises(Exception, match="still failing after 1 retries"):
        main(argv)
    with open(log) as f:
        assert len(f.read().splitlines()) == 2


def test_curate_subcommand_end_to_end(tmp_path, capsys):
    """`python -m csv_loader_spark curate`: the admission DAG over a real
    documents parquet — blocked/dedup/quota/split all fire, kept/ is
    split-partitioned, the manifest covers every input doc exactly once,
    and the run is deterministic."""
    import json

    from csv_loader_spark.cli import main
    from csv_loader_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    rows = [
        (1, "s", "an original first document about columnar storage"),
        (2, "s", "an original first document about columnar storage"),  # exact dup
        (3, "s", "spam content see http://bad.example/landing page now"),
        (4, "t", "a second standalone text on adaptive query planning"),
        (5, "t", "yet another unrelated piece describing vectorized execution"),
        (6, "t", "more unique content about shuffle partitioning strategies"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, source string, text string").write.parquet(src)
    out = str(tmp_path / "out")

    rc = main(["curate", "--input", src, "--output", out,
               "--block", "bad.example", "--quota-cap", "2"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    verdicts = summary["verdicts"]
    assert verdicts["blocked"] == 1
    assert verdicts["exact_batch"] == 1
    assert verdicts.get("quota_rejected", 0) == 1  # 3 t-source docs, cap 2
    assert verdicts["admitted"] == 3

    import os as _os

    kept = spark.read.parquet(_os.path.join(out, "kept"))
    assert kept.count() == 3
    assert {r["split"] for r in kept.select("split").distinct().collect()} <= {
        "train", "valid", "test"
    }
    manifest = spark.read.parquet(_os.path.join(out, "manifest"))
    assert manifest.count() == len(rows)
    assert manifest.select("doc_id").distinct().count() == len(rows)

    # determinism: a second run reproduces the identical decisions
    out2 = str(tmp_path / "out2")
    rc = main(["curate", "--input", src, "--output", out2,
               "--block", "bad.example", "--quota-cap", "2"])
    assert rc == 0
    m2 = spark.read.parquet(_os.path.join(out2, "manifest"))
    assert {(r["doc_id"], r["verdict"]) for r in m2.collect()} == {
        (r["doc_id"], r["verdict"]) for r in manifest.collect()
    }

    # missing input: message + rc 1, reference's error contract
    assert main(["curate", "--input", str(tmp_path / "nope"), "--output", out]) == 1


def test_curate_against_corpus_snapshot(tmp_path, capsys):
    """--corpus: arrivals that duplicate (exactly or nearly) an
    already-accepted snapshot are rejected against its indexes."""
    import json
    import os as _os

    from csv_loader_spark.cli import main
    from csv_loader_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    corpus_rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river "
            "bank every sunny morning in spring"),
    ]
    corpus_path = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(corpus_rows, "doc_id long, text string").write.parquet(
        corpus_path
    )
    arrivals = [
        (10, "s", corpus_rows[0][1]),                       # exact vs corpus
        (11, "s", corpus_rows[0][1].replace("spring", "autumn")),  # near
        (12, "s", "a wholly novel text about join reordering"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        arrivals, "doc_id long, source string, text string"
    ).write.parquet(src)
    out = str(tmp_path / "out")
    rc = main(["curate", "--input", src, "--output", out, "--corpus", corpus_path])
    assert rc == 0
    verdicts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["verdicts"]
    assert verdicts == {"exact_corpus": 1, "near_corpus": 1, "admitted": 1}
    kept = spark.read.parquet(_os.path.join(out, "kept"))
    assert [r["doc_id"] for r in kept.collect()] == [12]


def test_curate_verify_members_requires_corpus(tmp_path, capsys):
    """--verify-members without --corpus would be a silent no-op (the
    verified rule has no snapshot to confirm against) — the CLI refuses
    loudly; with --corpus it runs and still rejects the true near-dup."""
    import json
    import os as _os

    from csv_loader_spark.cli import main
    from csv_loader_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    corpus_text = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "every sunny morning in spring"
    )
    corpus_path = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [(0, corpus_text)], "doc_id long, text string"
    ).write.parquet(corpus_path)
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (11, "s", corpus_text.replace("spring", "autumn")),  # true near dup
            (12, "s", "a wholly novel text about join reordering"),
        ],
        "doc_id long, source string, text string",
    ).write.parquet(src)
    out = str(tmp_path / "out")

    assert main(["curate", "--input", src, "--output", out, "--verify-members"]) == 2
    assert "requires --corpus" in capsys.readouterr().err

    rc = main(["curate", "--input", src, "--output", out,
               "--corpus", corpus_path, "--verify-members"])
    assert rc == 0
    verdicts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["verdicts"]
    assert verdicts == {"near_corpus": 1, "admitted": 1}
    kept = spark.read.parquet(_os.path.join(out, "kept"))
    assert [r["doc_id"] for r in kept.collect()] == [12]


def test_curate_cli_capstone_equals_q132_oracle(tmp_path, capsys):
    """CAPSTONE (r11 advice #5): drive `python -m csv_loader_spark curate`
    over the sf0.01 documents table with q132's exact rule parameters
    (its blocklist, its eval split, passage-granularity dedup, its quota
    cap) and assert the kept manifest equals q132's oracle-gated answer
    row-for-row against the DuckDB oracle itself — the CLI surface is
    gate-backed on real data, not just unit-tested on synthetic rows."""
    import duckdb
    from pyspark.sql import functions as F

    from csv_loader_spark.cli import main
    from csv_loader_spark.io.tables import load_table
    from csv_loader_spark.queries.llm7 import _BLOCKLIST, _QUOTA, injected_url_text
    from csv_loader_spark.queries.llm8 import _q132_oracle
    from csv_loader_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    sf_dir = "/root/testdata/sf0.01"
    d = load_table(spark, sf_dir, "documents")
    inj = d.select("doc_id", "source", injected_url_text().alias("text"))
    src = str(tmp_path / "candidates.parquet")
    ev = str(tmp_path / "eval.parquet")
    # q132's candidate/eval split: doc_id % 10 == 0 is the held-out set
    # (a reference input, never blocklist-filtered)
    inj.filter(F.col("doc_id") % 10 != 0).write.parquet(src)
    inj.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text").write.parquet(ev)
    out = str(tmp_path / "out")
    args = [
        "curate", "--input", src, "--output", out, "--eval", ev,
        "--no-dedup", "--passage-dedup", "--quota-cap", str(_QUOTA),
    ]
    for dom in _BLOCKLIST:
        args += ["--block", dom]
    assert main(args) == 0

    import os as _os

    kept = spark.read.parquet(_os.path.join(out, "kept"))
    got = {
        (r["doc_id"], r["source"], r["split"], r["n_tok"])
        for r in kept.select("doc_id", "source", "split", "n_tok").collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = set(map(tuple, con.execute(_q132_oracle()).fetchall()))
    assert got == want and len(got) > 0
    # the manifest still covers every candidate exactly once
    manifest = spark.read.parquet(_os.path.join(out, "manifest"))
    n_cand = spark.read.parquet(src).count()
    assert manifest.count() == n_cand
    assert manifest.select("doc_id").distinct().count() == n_cand


def test_monitor_subcommand_end_to_end(tmp_path, capsys):
    """`python -m csv_loader_spark monitor` over the sf0.001 events table:
    one JSON line per event_type with every dashboard column, equal to
    the q200 operator's own answer."""
    import json

    from csv_loader_spark.cli import main

    out_path = tmp_path / "dash.jsonl"
    rc = main(
        ["monitor", "--sf-dir", "/root/testdata/sf0.001", "--out", str(out_path)]
    )
    assert rc == 0
    rows = [json.loads(line) for line in out_path.read_text().splitlines()]
    assert len(rows) == 5
    cols = {
        "event_type", "n_gap_hours", "last_smoothed", "cp_hr", "direction",
        "psi", "peak_rate", "max_drawdown",
    }
    for r in rows:
        assert set(r) == cols
    assert [r["event_type"] for r in rows] == sorted(r["event_type"] for r in rows)


def test_monitor_subcommand_missing_events_dir(tmp_path, capsys):
    from csv_loader_spark.cli import main

    rc = main(["monitor", "--sf-dir", str(tmp_path)])
    assert rc == 1
    assert "events.parquet not found" in capsys.readouterr().err


def test_audio_subcommand_batch_and_stream(tmp_path, spark):
    """`python -m csv_loader_spark audio`: batch mode lands the q206
    feature columns with rejects captured; --stream mode over the same
    checkpoint processes only newly-added files on the second run and
    the final streamed features equal the batch answer."""
    from csv_loader_spark.cli import main
    from csv_loader_spark.ops.multimodal import _synth_wav_bytes

    lake = tmp_path / "lake"
    lake.mkdir()
    for doc_id in (1, 2):
        (lake / f"{doc_id}.wav").write_bytes(_synth_wav_bytes(doc_id))
    (lake / "bad.wav").write_bytes(b"RIFFxxxxWAVEgarbage")

    out = str(tmp_path / "feats")
    rej = str(tmp_path / "rejects")
    assert main(["audio", "--in", str(lake), "--out", out, "--rejects", rej]) == 0
    feats = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in feats.select("doc_id").collect()) == [1, 2]
    assert set(feats.columns) >= {
        "doc_id", "sr", "n_samples", "duration_ms", "rms", "zero_crossings",
        "peak",
    }
    assert spark.read.parquet(rej).count() == 1

    sout = str(tmp_path / "sfeats")
    assert main(["audio", "--in", str(lake), "--out", sout, "--stream"]) == 0
    (lake / "3.wav").write_bytes(_synth_wav_bytes(3))
    assert main(["audio", "--in", str(lake), "--out", sout, "--stream"]) == 0
    got = sorted(r["doc_id"] for r in spark.read.parquet(sout).select("doc_id").collect())
    assert got == [1, 2, 3]  # exactly-once across the two runs


def test_audio_subcommand_missing_dir(tmp_path):
    from csv_loader_spark.cli import main

    assert main(["audio", "--in", str(tmp_path / "nope"), "--out", "x"]) == 1


def test_audio_stream_empty_lake(tmp_path, spark, capsys):
    """--stream on a missing/empty lake is a legal zero-batch run (the
    wavdir allow_empty contract): exit 0 and report 0 assets instead of
    crashing on the absent/metadata-only parquet sink (r13 ADVICE)."""
    from csv_loader_spark.cli import main

    out = str(tmp_path / "feats")
    rc = main(
        ["audio", "--in", str(tmp_path / "not_yet"), "--out", out, "--stream"]
    )
    captured = capsys.readouterr()
    assert rc == 0
    assert "0 assets total" in captured.out
    assert "does not exist yet" in captured.err


def test_sql_subcommand_adhoc_and_named(tmp_path, spark, capsys):
    """`python -m csv_loader_spark sql`: ad-hoc SQL over the registered
    views prints rows; --name runs a registered query; --out lands
    parquet; the error paths follow the message-and-return convention."""
    sf = "/root/testdata/sf0.001"
    # ad-hoc SQL, printed
    rc = main(
        ["sql", "--data", sf, "--query",
         "SELECT count(*) AS n FROM documents"]
    )
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "n"
    assert int(out[1]) > 0

    # named registered query, landed as parquet
    dest = str(tmp_path / "q01")
    rc = main(["sql", "--data", sf, "--name", "q01_pricing_summary",
               "--out", dest])
    assert rc == 0
    assert "result landed" in capsys.readouterr().out
    assert spark.read.parquet(dest).count() > 0

    # limit + more-rows marker
    rc = main(["sql", "--data", sf, "--query",
               "SELECT doc_id FROM documents ORDER BY doc_id",
               "--limit", "3"])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 5  # header + 3 rows + marker
    assert out[-1].startswith("...")


def test_sql_subcommand_error_paths(tmp_path, spark, capsys):
    from csv_loader_spark.cli import main as cli_main

    rc = cli_main(["sql", "--data", str(tmp_path / "nope"),
                   "--query", "SELECT 1"])
    assert rc == 1
    assert "table directory not found" in capsys.readouterr().err

    sf = "/root/testdata/sf0.001"
    rc = cli_main(["sql", "--data", sf, "--query",
                   "SELECT FROM WHERE banana"])
    assert rc == 1
    assert "sql error" in capsys.readouterr().err

    rc = cli_main(["sql", "--data", sf, "--name", "q999_nope"])
    assert rc == 1
    assert "unknown query" in capsys.readouterr().err

    rc = cli_main(["sql", "--data", sf, "--sql-file",
                   str(tmp_path / "missing.sql")])
    assert rc == 1
    assert "sql file not found" in capsys.readouterr().err


def test_get_spark_returns_the_active_session_unchanged(spark):
    """A second get_spark call hands back the running session as it
    stands: its own arguments apply only to a session it creates."""
    from csv_loader_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        again = get_spark("another_app", shuffle_partitions=3)
        assert again.conf.get(key) == "7"
        assert again.sparkContext is spark.sparkContext
    finally:
        spark.conf.set(key, before)


def test_repeated_cli_main_logs_no_existing_session_warning(tmp_path):
    """cli.main in a process that already has a session (perfbench calls
    it once per pass) re-applies no conf, so Spark logs no 'Using an
    existing Spark session' WARN. Runs in a fresh process: the WARN is
    the JVM's, on the JVM's own stderr."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = str(tmp_path / "pings.csv")
    write_narrow_csv(path)
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from csv_loader_spark.cli import main\n"
        f"assert main(['-f', {path!r}, '--dry-run']) == 0\n"
        f"assert main(['-f', {path!r}, '--dry-run']) == 0\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.count(f"{len(NARROW_ROWS)} unique vehicles") == 2
    assert "Using an existing Spark session" not in proc.stderr
