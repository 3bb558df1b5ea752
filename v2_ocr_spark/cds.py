"""A class-data-sharing archive for the driver JVM.

A fresh session spends about half of its start-up loading and verifying
the same ~20k Spark classes from jars. ``get_or_create`` launches the
driver JVM with a dynamic AppCDS archive of those classes (JEP 350,
JDK 13+) mapped in, so they come ready-parsed from one shared file.

* The archive depends only on the JDK and the Spark jars, not on this
  code. It lives in a per-user cache (``cache_dir()``) under a key of
  the java binary and its version, the realpath of ``SPARK_HOME``, the
  sorted names and sizes of its jars, and the driver heap (which decides
  compressed oops). A stale key costs only the gain: ``-Xshare:auto``
  validates the classpath itself and falls back silently.
* When no archive exists for the key, one is built once, synchronously:
  a child process opens a session with the same builder plus
  ``-XX:ArchiveClassesAtExit``, runs a short training pass (``_train``),
  stops its JVM, and the archive is renamed into place. A file lock
  lets one of several concurrent builders build. A failed build leaves a
  ``<key>.failed`` marker (with the tail of its output) and later
  sessions start without CDS instead of rebuilding.
* A dump refuses a non-empty directory on the classpath, and Spark puts
  the conf directory there. So the dump and every use point
  ``SPARK_CONF_DIR`` at one empty directory in the cache, for the
  gateway launch only. That is done only when the installed conf
  directory (and any ``HADOOP_CONF_DIR``/``YARN_CONF_DIR``) holds
  nothing but ``*.template`` files; otherwise CDS is off, so a user's
  ``spark-defaults.conf`` is never hidden.
* Only a call that launches the JVM takes part. With a gateway already
  running nothing changes; under ``spark-submit`` (the JVM exists before
  Python starts) and in ``local-cluster`` executor JVMs (their own
  classpath) there is no archive.

The outcome is recorded on the session as the runtime conf entry
``v2ocr.cds``: ``mapped``, ``fallback`` (an archive was offered and the
JVM rejected it) or ``off`` (none was offered).
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

STATE_KEY = "v2ocr.cds"
BUILD_TIMEOUT_S = 900
# what the build child runs; it gets the archive's temp path as argv[1]
TRAIN = "import sys; from v2_ocr_spark import cds; cds._train(sys.argv[1])"
# the package root, put on the build child's PYTHONPATH
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(base, "v2_ocr_spark", "cds")


def conf_dir() -> str:
    """The empty directory every dump and use puts on the classpath."""
    return os.path.join(cache_dir(), "empty-conf")


def spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return os.path.realpath(_find_spark_home())


def _java() -> str | None:
    """The java binary ``bin/spark-class`` runs."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _java_version(java: str) -> str:
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)),
                               "release")) as f:
            return f.read()
    except OSError:
        return ""


def _archive_key(home: str, heap: str) -> str | None:
    java = _java()
    if java is None:
        return None
    jars = os.path.join(home, "jars")
    try:
        listed = sorted((e.name, e.stat().st_size) for e in os.scandir(jars)
                        if e.name.endswith(".jar"))
    except OSError:
        return None
    parts = [java, _java_version(java), home, listed, heap]
    return hashlib.sha256(json.dumps(parts).encode()).hexdigest()[:20]


def _user_conf(home: str) -> bool:
    """Does any conf directory the launcher reads hold a real file?"""
    dirs = [os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf"),
            os.environ.get("HADOOP_CONF_DIR"), os.environ.get("YARN_CONF_DIR")]
    for d in filter(None, dirs):
        try:
            names = os.listdir(d)
        except OSError:
            continue
        if any(not n.endswith(".template") for n in names):
            return True
    return False


def _launch_env() -> dict[str, str | None]:
    """Environment overrides for a gateway launch (None = unset)."""
    return {"SPARK_CONF_DIR": conf_dir(), "HADOOP_CONF_DIR": None,
            "YARN_CONF_DIR": None}


def _apply(env, overrides: dict[str, str | None]) -> None:
    for k, v in overrides.items():
        if v is None:
            env.pop(k, None)
        else:
            env[k] = v


@contextlib.contextmanager
def _scoped_env(overrides: dict[str, str | None]):
    saved = {k: os.environ.get(k) for k in overrides}
    _apply(os.environ, overrides)
    try:
        yield
    finally:
        _apply(os.environ, saved)


def _safe(path: str) -> bool:
    """Can `path` ride in an option string the launcher splits on blanks,
    in an -Xlog file= spec and in a SharedArchiveFile list?"""
    return not any(c.isspace() or c in "\"'\\:,=" for c in path)


def archive_for(heap: str) -> str | None:
    """The archive this launch should offer, building it once if absent;
    None when CDS is off for this launch."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:  # spark-submit: JVM exists
        return None
    home = spark_home()
    if _user_conf(home):
        return None
    key = _archive_key(home, heap)
    d = cache_dir()
    if key is None or not _safe(d):
        return None
    path = os.path.join(d, f"{key}.jsa")
    failed = os.path.join(d, f"{key}.failed")  # written by _give_up
    if os.path.exists(path):
        return path
    if os.path.exists(failed):
        return None
    try:
        os.makedirs(conf_dir(), exist_ok=True)
        lock = open(os.path.join(d, f"{key}.lock"), "w")
    except OSError:
        return None  # no writable cache: nothing to mark either
    with lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # a concurrent builder finishes
        if not os.path.exists(path) and not os.path.exists(failed):
            _build(path)
    return path if os.path.exists(path) else None


def _give_up(path: str, why: str) -> None:
    """Drop the archive at `path` and mark its key failed."""
    with contextlib.suppress(OSError):
        os.remove(path)
    with contextlib.suppress(OSError):
        with open(f"{path[:-len('.jsa')]}.failed", "w") as f:
            f.write(why[-4000:])


def _build(path: str) -> None:
    """Dump an archive to `path` from a child session, or give up."""
    stem = path[:-len(".jsa")]
    tmp = f"{stem}.{os.getpid()}.tmp"
    env = dict(os.environ)
    _apply(env, _launch_env())
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (_ROOT, env.get("PYTHONPATH")) if p)
    t0 = time.monotonic()
    child = None
    try:
        # a session of its own: a timeout stops the child and its JVM
        child = subprocess.Popen(
            [sys.executable, "-c", TRAIN, tmp], env=env,
            stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, start_new_session=True)
        out, _ = child.communicate(timeout=BUILD_TIMEOUT_S)
        log = out.decode(errors="replace") + f"\nexit {child.returncode}"
        if child.returncode == 0 and os.path.getsize(tmp) > 0:
            # the size lets a later launch refuse a truncated archive,
            # which the JVM maps without checking and dies on
            with open(f"{stem}.json", "w") as f:
                json.dump({"bytes": os.path.getsize(tmp),
                           "build_s": round(time.monotonic() - t0, 1)}, f)
            os.replace(tmp, path)
            return
    except (OSError, subprocess.SubprocessError) as e:
        log = repr(e)
    finally:
        if child is not None and child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        with contextlib.suppress(OSError):
            os.remove(tmp)
    _give_up(path, log)


def _intact(path: str) -> bool:
    """Is the archive as long as its build wrote it?"""
    try:
        with open(f"{path[:-len('.jsa')]}.json") as f:
            return json.load(f)["bytes"] == os.path.getsize(path)
    except (OSError, ValueError, KeyError, TypeError):
        return False


def _train(archive: str) -> None:
    """Build-child entry: one session that dumps its loaded classes to
    `archive` at JVM exit, after a short pass over the paths a job
    takes (parquet read, extraction, assembly shuffle, sink commits,
    parquet write and read-back)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from v2_ocr_spark.fixtures.generate import (EPOCH, GEN, ROLES, conv_len,
                                                payload_kind)
    from v2_ocr_spark.operators.assemble import assemble
    from v2_ocr_spark.operators.extract import extract_turns
    from v2_ocr_spark.pipeline.runner import ExtractionJob
    from v2_ocr_spark.session import builder

    rows = [(f"cds{c:04d}", t, ROLES[(t - 1) % 3])
            for c in range(200) for t in range(1, conv_len(c) + 1)]
    table = pa.table({
        "conv_id": [c for c, _, _ in rows],
        "turn_idx": pa.array([t for _, t, _ in rows], pa.int32()),
        "role": [r for _, _, r in rows],
        "text": [GEN[payload_kind(c, t, r)](c, t) for c, t, r in rows],
        "tool": pa.array([None] * len(rows), pa.string()),
        "ts": pa.array([EPOCH] * len(rows), pa.timestamp("us", "UTC")),
    })
    spark = builder().config(
        "spark.driver.extraJavaOptions",
        f"-XX:ArchiveClassesAtExit={archive} -Xlog:cds=error").getOrCreate()
    gateway = SparkContext._gateway
    with tempfile.TemporaryDirectory(prefix="v2ocr-cds-") as work:
        src = os.path.join(work, "transcripts.parquet")
        pq.write_table(table, src, row_group_size=512)
        turns = spark.read.parquet(src)
        docs = os.path.join(work, "docs")
        assemble(extract_turns(turns, with_metrics=True)).write.parquet(docs)
        spark.read.parquet(docs).count()
        job = ExtractionJob(spark, src, os.path.join(work, "sink"),
                            num_partitions=4)
        job.run()
        job.run(incremental=True)
        job.read_output().count()
        spark.stop()
    # the archive is written while the JVM exits: close the gateway and
    # its stdin (the JVM exits on EOF) and wait for it
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait()


def _state(log: str) -> str:
    """``mapped`` or ``fallback`` from this launch's ``-Xlog:cds`` file.
    ``Mapped dynamic region`` is logged even when the classpath check
    rejects the archive afterwards; the rejection is a
    ``UseSharedSpaces: ... mismatch`` line."""
    try:
        with open(log, errors="replace") as f:
            text = f.read()
    except OSError:
        return "fallback"
    if "UseSharedSpaces:" in text or "Mapped dynamic region" not in text:
        return "fallback"
    return "mapped"


def get_or_create(builder: SparkSession.Builder, heap: str) -> SparkSession:
    """``builder.getOrCreate()``, with the driver JVM mapping the archive
    when this call launches it; records ``v2ocr.cds`` on a new session."""
    if SparkContext._gateway is not None:  # the JVM is already running
        return builder.getOrCreate()
    archive = archive_for(heap)
    state = "off" if archive is None else "fallback"
    spark = None
    if archive is not None and _intact(archive):
        # this launch's -Xlog:cds file, in the cache dir (a safe path);
        # the JVM creates it (an existing file would be rotated aside)
        log = os.path.join(os.path.dirname(archive),
                           f"launch-{os.getpid()}-{time.time_ns()}.log")
        try:
            spark = _launch(builder, archive, log)
            if spark is not None:
                state = _state(log)
        finally:
            with contextlib.suppress(OSError):
                os.remove(log)
    if spark is None:
        spark = builder.getOrCreate()
    spark.conf.set(STATE_KEY, state)
    return spark


def _launch(builder: SparkSession.Builder, archive: str,
            log: str) -> SparkSession | None:
    """Launch with the archive; None (and the key marked failed) when
    the JVM dies on it, so the caller launches without."""
    builder.config("spark.driver.extraJavaOptions",
                   f"-XX:SharedArchiveFile={archive} -Xshare:auto "
                   f"-Xlog:cds=info:file={log}")
    try:
        with _scoped_env(_launch_env()):
            return builder.getOrCreate()
    except PySparkRuntimeError as e:
        if e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        _give_up(archive, f"the driver JVM exited at launch: {e}")
        builder.config("spark.driver.extraJavaOptions", "")
        return None
