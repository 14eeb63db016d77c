"""The driver JVM's class-data-sharing archive (csv_loader_spark/cds.py).

The lifecycle tests run no JVM: a recorder is a ``Recording`` whose temp
file the test writes (or a small Python process that writes it when its
stdin closes, as the driver JVM does). One subprocess test then records and
maps a real archive in a private cache.
"""

from __future__ import annotations

import atexit
import json
import os
import re
import shutil
import subprocess
import sys
import textwrap

import pytest

from csv_loader_spark import cds

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARCHIVE = cds.DYNAMIC_ARCHIVE_MAGIC + b"\0" * 64


@pytest.fixture
def spark_home(tmp_path, monkeypatch):
    """A Spark layout with one jar and a stock conf directory (templates),
    and a private cache; SPARK_CONF_DIR unset."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "a.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return str(home)


def _cache(tmp_path) -> str:
    return str(tmp_path / "cache" / "csv_loader_spark")


def _dead_pid() -> int:
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    return proc.pid


def _record(spark_home) -> cds.Recording:
    launch = cds.plan_launch("local[2]", "1g", spark_home)
    assert launch is not None and launch.recording is not None
    return launch.recording


def test_first_start_records_to_a_private_temp_file(spark_home, tmp_path):
    launch = cds.plan_launch("local[2]", "1g", spark_home)
    rec = launch.recording
    cache = _cache(tmp_path)
    assert launch.java_options.split() == [
        f"-XX:ArchiveClassesAtExit={rec.tmp}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
    ]
    assert rec.tmp == f"{rec.final}.{os.getpid()}.tmp"
    assert os.path.dirname(rec.final) == cache
    # the stock conf directory holds only templates: swapped for an empty one
    assert launch.conf_dir == os.path.join(cache, "conf")
    assert os.listdir(launch.conf_dir) == []
    with open(os.path.join(cache, cds.LOCK_NAME)) as fh:
        assert fh.read() == str(os.getpid())
    # while this process records, another start gets no options at all
    assert cds.plan_launch("local[2]", "1g", spark_home) is None
    rec.finish(None)


@pytest.mark.parametrize(
    "returncode, content",
    [
        (1, ARCHIVE),  # JVM failed
        (-9, ARCHIVE),  # JVM killed
        (None, ARCHIVE),  # session never came up
        (0, None),  # no file written
        (0, b""),  # empty
        (0, cds.DYNAMIC_ARCHIVE_MAGIC[:2]),  # shorter than the magic
        (0, b"\xa2\xab\x0b\xf0" + b"\0" * 64),  # a static archive's magic
    ],
    ids=["exit1", "killed", "no-session", "missing", "empty", "short", "wrong-magic"],
)
def test_incomplete_recording_is_never_published(spark_home, tmp_path, returncode, content):
    rec = _record(spark_home)
    if content is not None:
        with open(rec.tmp, "wb") as fh:
            fh.write(content)
    assert rec.finish(returncode) is False
    assert not os.path.exists(rec.final)
    assert not os.path.exists(rec.tmp)
    assert not os.path.exists(os.path.join(_cache(tmp_path), cds.LOCK_NAME))


def test_clean_recording_is_published_and_used(spark_home, tmp_path):
    cache = _cache(tmp_path)
    older = os.path.join(cache, "spark-0000000000000000.jsa")  # another fingerprint
    rec = _record(spark_home)
    with open(older, "wb") as fh:
        fh.write(ARCHIVE)
    with open(rec.tmp, "wb") as fh:
        fh.write(ARCHIVE)
    assert rec.finish(0) is True
    assert sorted(os.listdir(cache)) == ["conf", os.path.basename(rec.final)]
    launch = cds.plan_launch("local[2]", "1g", spark_home)
    assert launch.recording is None
    assert launch.java_options.split() == [
        f"-XX:SharedArchiveFile={rec.final}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
    ]
    # another heap size is another fingerprint: it records its own archive
    other = cds.plan_launch("local[2]", "2g", spark_home)
    assert other.recording is not None and other.recording.final != rec.final
    other.recording.finish(None)


def test_stale_lock_and_temp_files_are_removed(spark_home, tmp_path):
    cache = _cache(tmp_path)
    os.makedirs(cache)
    dead = _dead_pid()
    with open(os.path.join(cache, cds.LOCK_NAME), "w") as fh:
        fh.write(str(dead))
    stale = os.path.join(cache, f"spark-0000000000000000.jsa.{dead}.tmp")
    live = os.path.join(cache, f"spark-0000000000000000.jsa.{os.getpid()}.tmp")
    for path in (stale, live):
        with open(path, "wb") as fh:
            fh.write(ARCHIVE[:10])
    rec = _record(spark_home)  # the dead pid's lock no longer blocks recording
    assert not os.path.exists(stale)
    assert os.path.exists(live)
    with open(os.path.join(cache, cds.LOCK_NAME)) as fh:
        assert fh.read() == str(os.getpid())
    rec.finish(None)


def test_live_recorder_blocks_recording(spark_home, tmp_path):
    cache = _cache(tmp_path)
    os.makedirs(cache)
    sleeper = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        with open(os.path.join(cache, cds.LOCK_NAME), "w") as fh:
            fh.write(str(sleeper.pid))
        assert cds.plan_launch("local[2]", "1g", spark_home) is None
    finally:
        sleeper.kill()
        sleeper.wait()
    assert cds.plan_launch("local[2]", "1g", spark_home).recording is not None


@pytest.mark.parametrize("case", ["conf-file", "cluster-master", "cache-unwritable"])
def test_no_archive_options_where_one_cannot_be_used(spark_home, tmp_path, case):
    master = "local[2]"
    if case == "conf-file":
        with open(os.path.join(spark_home, "conf", "spark-defaults.conf"), "w") as fh:
            fh.write("spark.foo bar\n")
    elif case == "cluster-master":
        master = "spark://host:7077"
    else:  # the cache root is a regular file, so nothing can be created under it
        (tmp_path / "cache").write_text("")
    assert cds.plan_launch(master, "1g", spark_home) is None
    if case != "cache-unwritable":
        assert not os.path.exists(_cache(tmp_path))


def test_conf_dir_outside_spark_home_counts(spark_home, tmp_path, monkeypatch):
    conf = tmp_path / "myconf"
    conf.mkdir()
    (conf / "log4j2.properties").write_text("rootLogger.level = info\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert cds.plan_launch("local[2]", "1g", spark_home) is None
    (conf / "log4j2.properties").unlink()
    # an empty conf directory stays on the class path as it is
    launch = cds.plan_launch("local[2]", "1g", spark_home)
    assert launch.conf_dir is None and launch.recording is not None
    launch.recording.finish(None)


_FAKE_JVM = textwrap.dedent(
    """
    import sys
    sys.stdin.read()  # like the driver JVM: run until stdin closes
    with open(sys.argv[1], "wb") as fh:  # then write the archive at exit
        fh.write(bytes.fromhex(sys.argv[2]))
    sys.exit(int(sys.argv[3]))
    """
)


@pytest.mark.parametrize("code, published", [(0, True), (3, False)])
def test_exit_handler_closes_stdin_and_publishes_after_clean_exit(spark_home, code, published):
    rec = _record(spark_home)
    proc = subprocess.Popen(
        [sys.executable, "-c", _FAKE_JVM, rec.tmp, ARCHIVE.hex(), str(code)],
        stdin=subprocess.PIPE,
    )
    handler = rec.watch(proc)
    atexit.unregister(handler)
    assert not os.path.exists(rec.tmp)  # nothing written until stdin closes
    handler()
    assert proc.returncode == code
    assert os.path.exists(rec.final) is published
    assert not os.path.exists(rec.tmp)


_PROBE = textwrap.dedent(
    """
    import json, os, subprocess, sys
    sys.path.insert(0, sys.argv[1])
    from csv_loader_spark.session import get_spark
    spark = get_spark("cds_probe")
    jvm = spark._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    pid = jvm.java.lang.ProcessHandle.current().pid()
    info = subprocess.run([sys.argv[2], str(pid), "VM.info"], capture_output=True, text=True).stdout
    print(json.dumps({
        "count": spark.range(3).count(),
        "args": [a for a in args if "cds" in a or "Archive" in a],
        "mapped": [l for l in info.splitlines() if "CDS archive(s) mapped at" in l],
        "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    }))
    """
)


def _probe(env) -> dict:
    jcmd = os.path.join(os.path.dirname(cds.java_executable()), "jcmd")
    res = subprocess.run(
        [sys.executable, "-c", _PROBE, REPO, jcmd],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


def _mapped_sizes(line: str) -> tuple[int, int]:
    """``CDS archive(s) mapped at: [a-b-c), size N``: the base archive
    spans a-b, a dynamic archive b-c; N is their total size."""
    m = re.search(r"\[0x([0-9a-f]+)-0x([0-9a-f]+)-0x([0-9a-f]+)\), size (\d+)", line)
    a, b, c = (int(g, 16) for g in m.groups()[:3])
    assert int(m.group(4)) == c - a
    return b - a, c - b


def test_driver_jvm_records_then_maps_the_archive(tmp_path):
    java = cds.java_executable()
    if java is None or not os.path.isfile(os.path.join(os.path.dirname(java), "jcmd")):
        pytest.skip("needs a JDK with jcmd")
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS")}
    env.update(XDG_CACHE_HOME=str(tmp_path), SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    cache = os.path.join(tmp_path, "csv_loader_spark")
    try:
        # a conf directory holding a non-template file: started as without CDS
        conf = tmp_path / "conf"
        conf.mkdir()
        (conf / "notes.txt").write_text("read by nothing\n")
        plain = _probe(dict(env, SPARK_CONF_DIR=str(conf)))
        assert plain["count"] == 3 and plain["args"] == []
        assert plain["conf_dir"] == str(conf)
        assert not os.path.exists(cache)

        first = _probe(env)  # records; publishes once its JVM has exited
        assert first["count"] == 3
        assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in first["args"])
        assert _mapped_sizes(first["mapped"][0])[1] == 0  # only the JDK's base archive
        archives = [n for n in os.listdir(cache) if n.endswith(".jsa")]
        assert len(archives) == 1 and sorted(os.listdir(cache)) == sorted(["conf", *archives])

        second = _probe(env)
        assert second["count"] == 3
        assert f"-XX:SharedArchiveFile={os.path.join(cache, archives[0])}" in second["args"]
        assert _mapped_sizes(second["mapped"][0])[1] > 0
    finally:
        shutil.rmtree(cache, ignore_errors=True)
