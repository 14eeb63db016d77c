"""A reusable class-data-sharing (AppCDS) archive for the local driver JVM.

Most of a fresh process's ``get_spark`` is JVM cold start: loading and
verifying classes from Spark's ~290 jars and running their static
initializers. A JDK dynamic AppCDS archive holds those classes already
parsed, so a JVM that maps it starts in about half the time (a fresh
process's ``get_spark``, perfbench ``setup_s``: median 8.46 → 4.42 s on 4
cores, JDK 17, Spark 4.1.2).

Lifecycle, all under ``$XDG_CACHE_HOME/csv_loader_spark`` (else
``~/.cache/csv_loader_spark``):

- The archive is named by a fingerprint of what the JVM checks when it maps
  one: the Java runtime, the class path (the conf directory and the Spark
  jar set with sizes and mtimes) and the driver memory. An upgrade
  therefore records a new archive instead of silently starting without one.
- If ``spark-<fingerprint>.jsa`` exists, the JVM starts from it
  (``-XX:SharedArchiveFile``).
- Otherwise one process at a time records one: it holds ``record.lock``
  (created with ``O_EXCL``, naming its pid) and its JVM writes
  ``-XX:ArchiveClassesAtExit`` to a per-process temp file. Only after that
  JVM exits with status 0, and only if the file starts with the
  dynamic-archive magic, is it moved into place with ``os.replace``: a
  truncated archive at the published path crashes every JVM that maps it
  (SIGBUS), while a missing, foreign or mismatched one is refused cleanly.
  Publishing deletes the archives of other fingerprints; a JVM that already
  mapped one keeps its mapping.
- Other processes start without an archive while a recording runs. The lock
  and temp file of a pid that no longer runs are removed at the next start,
  so a recorder that is killed never publishes and blocks nothing.

The JVM can neither record nor use an archive while a non-empty directory
is on its class path, and Spark puts its conf directory first. A conf
directory that holds only ``*.template`` files (a Spark distribution's
stock ``conf/``) is read by nothing, so it is swapped for an empty one in
the cache; a conf directory holding any other file, a non-local master, or
a cache that cannot be written leaves the launch exactly as without this
module.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import struct
import threading
from dataclasses import dataclass

#: First four bytes of a HotSpot dynamic archive (CDS_DYNAMIC_ARCHIVE_MAGIC,
#: native byte order); the static base archive has 0xf00baba2.
DYNAMIC_ARCHIVE_MAGIC = struct.pack("=I", 0xF00BABA8)

#: Without these the recording JVM's exit prints hundreds of "Skipping …
#: Signed JAR" lines to the user's terminal.
QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"

#: How long interpreter exit waits for a recording JVM to write its archive
#: (about 144 MB in 11-14 s on 4 cores) before killing it and discarding it.
EXIT_WAIT_S = 120.0

LOCK_NAME = "record.lock"


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "csv_loader_spark")


def java_executable() -> str | None:
    """The java that spark-submit's launcher runs (bin/spark-class)."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _stamp(path: str) -> str:
    st = os.stat(path)
    return f"{path}:{st.st_size}:{st.st_mtime_ns}"


def fingerprint(java: str, jars_dir: str, conf_dir: str, driver_memory: str) -> str:
    """Hash of what decides whether a JVM can map an archive: the runtime,
    the class path (conf directory and jars) and the heap size."""
    parts = [_stamp(java), f"conf={conf_dir}", f"driver.memory={driver_memory}"]
    runtime_image = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules")
    if os.path.isfile(runtime_image):
        parts.append(_stamp(runtime_image))
    parts += sorted(_stamp(p) for p in glob.glob(os.path.join(jars_dir, "*.jar")))
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        return True
    return True


def _lock_is_stale(lock: str) -> bool:
    """True unless the lock names a running pid."""
    try:
        with open(lock) as fh:
            text = fh.read().strip()
    except FileNotFoundError:
        return False
    return not (text.isdigit() and _pid_alive(int(text)))


def remove_stale(cache: str) -> None:
    """Delete the lock and temp archives left by processes that are gone."""
    lock = os.path.join(cache, LOCK_NAME)
    stale = [lock] if _lock_is_stale(lock) else []
    for tmp in glob.glob(os.path.join(cache, "spark-*.jsa.*.tmp")):
        pid = tmp.rsplit(".", 2)[-2]
        if pid.isdigit() and not _pid_alive(int(pid)):
            stale.append(tmp)
    for path in stale:
        with contextlib.suppress(OSError):  # gone already, or a read-only cache
            os.unlink(path)


@dataclass
class Recording:
    """One process's claim on recording the archive: the lock it holds, the
    temp file its JVM writes at exit, and the path to publish it at."""

    cache: str
    tmp: str
    final: str

    def finish(self, returncode: int | None) -> bool:
        """Publish the temp archive if the recording JVM exited cleanly and
        wrote a dynamic archive, else delete it; release the lock either
        way. True if published."""
        published = False
        try:
            with open(self.tmp, "rb") as fh:
                magic = fh.read(len(DYNAMIC_ARCHIVE_MAGIC))
        except FileNotFoundError:
            magic = b""
        if returncode == 0 and magic == DYNAMIC_ARCHIVE_MAGIC:
            os.replace(self.tmp, self.final)
            published = True
            for other in glob.glob(os.path.join(self.cache, "spark-*.jsa")):
                if other != self.final:
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(other)
        else:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(self.tmp)
        with contextlib.suppress(FileNotFoundError):
            os.unlink(os.path.join(self.cache, LOCK_NAME))
        return published

    def watch(self, proc):
        """Finish when the JVM ``proc`` (a ``subprocess.Popen``) exits, and
        return the exit handler registered with ``atexit``.

        A daemon thread waits for the JVM, so the archive is published as
        soon as it exits, e.g. after ``proc.stdin.close()``. The driver JVM
        exits only when its stdin closes, so at interpreter exit the handler
        closes it and waits up to EXIT_WAIT_S for the archive to be written;
        past that it kills the JVM, and the archive is discarded.
        """
        watcher = threading.Thread(
            target=lambda: self.finish(proc.wait()), name="cds-recording", daemon=True
        )
        watcher.start()

        def close_and_wait() -> None:
            with contextlib.suppress(OSError, ValueError):
                proc.stdin.close()
            watcher.join(EXIT_WAIT_S)
            if watcher.is_alive():
                proc.kill()
                watcher.join(10)

        atexit.register(close_and_wait)
        return close_and_wait


@dataclass
class Launch:
    """How to start the driver JVM: extra java options, the SPARK_CONF_DIR
    to set (or None), and the recording this process owns (or None)."""

    java_options: str
    conf_dir: str | None
    recording: Recording | None


def plan_launch(master: str, driver_memory: str, spark_home: str) -> Launch | None:
    """The launch for a new local driver JVM, or None to start it as if
    this module did not exist."""
    if not (master == "local" or master.startswith("local[")):
        return None
    java = java_executable()
    jars = os.path.join(spark_home, "jars")
    cache = cache_dir()
    # spark-submit splits java options on whitespace and quotes
    if java is None or not os.path.isdir(jars) or any(c in cache for c in " \t\n'\"\\"):
        return None
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    names = os.listdir(conf) if os.path.isdir(conf) else []  # pip pyspark has none
    if not all(n.endswith(".template") for n in names):
        return None
    swap_conf = os.path.join(cache, "conf") if names else None
    try:
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
    except OSError:
        return None
    remove_stale(cache)
    fp = fingerprint(java, jars, swap_conf or conf, driver_memory)
    final = os.path.join(cache, f"spark-{fp}.jsa")
    if os.path.isfile(final):
        return Launch(f"-XX:SharedArchiveFile={final} {QUIET}", swap_conf, None)
    try:
        fd = os.open(os.path.join(cache, LOCK_NAME), os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
    except OSError:  # another process is recording, or the cache is read-only
        return None
    with os.fdopen(fd, "w") as fh:
        fh.write(str(os.getpid()))
    tmp = f"{final}.{os.getpid()}.tmp"
    return Launch(f"-XX:ArchiveClassesAtExit={tmp} {QUIET}", swap_conf, Recording(cache, tmp, final))
