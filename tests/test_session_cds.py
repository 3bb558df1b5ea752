"""The driver JVM maps a build-once class-data-sharing archive (cds.py).

Every session here runs in a fresh interpreter, so the conftest session is
not reused and each ``get_spark`` launches its own JVM. The archive cache
is pointed at a tmp dir through the module's own ``cds.cache_dir``; one
archive is built for the whole module, by two concurrent sessions. The
ground truth for "mapped" is where ``-Xlog:class+load`` says the driver
JVM took ``SparkContext`` from: the top (dynamic) archive or the jar.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SF_SMALL = ROOT / "data" / "sf0.001"

# every child: the cache in `cache`, and a count of the builds it runs
PRELUDE = """\
import json, os, sys
from v2_ocr_spark import cds
cds.cache_dir = lambda: {cache!r}
builds = []
_build = cds._build
def _counted(*a):
    builds.append(a[0])
    _build(*a)
cds._build = _counted
"""

# a fresh session; reports the recorded state and the class-load source
SESSION = """\
from pyspark import SparkContext
from v2_ocr_spark.session import get_spark
spark = get_spark(app_name="cds-test", master="local[2]",
                  shuffle_partitions=2)
out = {"state": spark.conf.get("v2ocr.cds"), "builds": len(builds),
       "pid": SparkContext._gateway.proc.pid}
"""

# extract_turns on sf0.001 against transcripts_expected
EXTRACT = """\
from pyspark.sql import functions as F
from v2_ocr_spark.operators.extract import extract_turns
got = extract_turns(spark.read.parquet({sf!r} + "/transcripts.parquet"))
want = spark.read.parquet({sf!r} + "/transcripts_expected.parquet")
j = got.join(want, ["conv_id", "turn_idx"], "full_outer")
out["mismatches"] = j.where(
    F.col("extracted_text").isNull() | F.col("expected_text").isNull()
    | (F.col("extracted_text") != F.col("expected_text"))
    | (F.to_json("spans") != F.to_json("expected_spans"))).count()
out["rows"] = got.count()
"""

REPORT = "\nspark.stop()\nprint(json.dumps(out))\n"


def _child(cache: Path, body: str, logs: Path | None = None,
           wait: bool = True):
    """Run PRELUDE + body in a fresh interpreter; with `logs`, every JVM
    it starts writes its class-load log there as cl-<pid>.log."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p))
    if logs is not None:
        env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Xlog:class+load=info:file={logs}/cl-%p.log")))
    code = PRELUDE.format(cache=str(cache)) + body
    # cwd: a JVM that dies on an archive writes its hs_err file there
    proc = subprocess.Popen([sys.executable, "-c", code], env=env,
                            cwd=cache.parent, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True)
    return _result(proc) if wait else proc


def _result(proc: subprocess.Popen) -> dict:
    out, err = proc.communicate(timeout=900)
    assert proc.returncode == 0, err[-3000:]
    return json.loads(out.strip().splitlines()[-1])


def _source(logs: Path, pid: int) -> str:
    """Where the driver JVM `pid` loaded SparkContext from."""
    with open(logs / f"cl-{pid}.log") as f:
        for line in f:
            if "org.apache.spark.SparkContext source:" in line:
                return line.split("source:", 1)[1].strip()
    raise AssertionError("SparkContext was not loaded")


def _files(cache: Path, pattern: str) -> list[str]:
    return sorted(glob.glob(str(cache / pattern)))


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """Two sessions started at once on an empty cache."""
    cache = tmp_path_factory.mktemp("cds-cache")
    procs = [_child(cache, SESSION + REPORT, wait=False) for _ in range(2)]
    return cache, [_result(p) for p in procs]


def _copy(built, tmp_path: Path) -> Path:
    """A copy of the built cache. Its empty conf dir has another path, so
    the JVM would reject the copied archive as a classpath mismatch."""
    cache = tmp_path / "cache"
    shutil.copytree(built[0], cache)
    return cache


def test_absent_archive_builds_once_across_concurrent_sessions(built):
    cache, results = built
    assert sum(r["builds"] for r in results) == 1
    assert [r["state"] for r in results] == ["mapped", "mapped"]
    archives = _files(cache, "*.jsa")
    assert len(archives) == 1
    assert not _files(cache, "*.tmp") and not _files(cache, "*.failed")
    assert not _files(cache, "*.log*")
    with open(archives[0][:-len(".jsa")] + ".json") as f:
        assert json.load(f)["bytes"] == os.path.getsize(archives[0])
    assert not os.listdir(cache / "empty-conf")


def test_matching_archive_maps(built, tmp_path):
    got = _child(built[0], SESSION + REPORT, logs=tmp_path)
    assert got["builds"] == 0
    assert got["state"] == "mapped"
    assert _source(tmp_path, got["pid"]) == "shared objects file (top)"


def test_mismatched_archive_falls_back(built, tmp_path):
    # the installed conf dir on the classpath: not the one the archive
    # was dumped with, so the JVM rejects it after mapping it
    body = ("from v2_ocr_spark.cds import spark_home\n"
            "cds.conf_dir = lambda: os.path.join(spark_home(), 'conf')\n")
    got = _child(built[0], body + SESSION + EXTRACT.format(sf=str(SF_SMALL))
                 + REPORT, logs=tmp_path)
    assert got["state"] == "fallback" and got["builds"] == 0
    assert _source(tmp_path, got["pid"]).endswith(".jar")
    assert got["mismatches"] == 0 and got["rows"] > 0


def _truncate(archive: str, record: bool) -> None:
    """Halve the archive; with `record`, also as its recorded size."""
    os.chmod(archive, 0o644)
    size = os.path.getsize(archive) // 2
    with open(archive, "r+b") as f:
        f.truncate(size)
    if record:
        with open(archive[:-len(".jsa")] + ".json", "w") as f:
            json.dump({"bytes": size}, f)


def test_truncated_archive_falls_back(built, tmp_path):
    # the JVM maps a truncated archive unchecked and dies (SIGBUS); the
    # size the build recorded keeps it from being offered
    cache = _copy(built, tmp_path)
    (archive,) = _files(cache, "*.jsa")
    _truncate(archive, record=False)
    got = _child(cache, SESSION + EXTRACT.format(sf=str(SF_SMALL)) + REPORT)
    assert got["state"] == "fallback" and got["builds"] == 0
    assert got["mismatches"] == 0 and got["rows"] > 0
    assert _files(cache, "*.jsa") == [archive]
    assert not _files(cache, "*.failed")


def test_archive_the_jvm_dies_on_is_dropped(built, tmp_path):
    # a corrupt archive that passes the size check: the JVM dies at
    # launch, the session is launched again without it, and the key is
    # marked failed so no later session offers or rebuilds it
    cache = _copy(built, tmp_path)
    (archive,) = _files(cache, "*.jsa")
    _truncate(archive, record=True)
    got = _child(cache, SESSION + REPORT)
    assert got["state"] == "fallback" and got["builds"] == 0
    assert not _files(cache, "*.jsa")
    (marker,) = _files(cache, "*.failed")
    assert "exited at launch" in Path(marker).read_text()
    again = _child(cache, SESSION + REPORT)
    assert again["state"] == "off" and again["builds"] == 0


def test_failed_build_is_not_retried(tmp_path):
    cache = tmp_path / "cache"
    fail = "cds.TRAIN = 'raise SystemExit(3)'\n"
    first = _child(cache, fail + SESSION + REPORT)
    assert first["state"] == "off" and first["builds"] == 1
    (marker,) = _files(cache, "*.failed")
    assert Path(marker).read_text().endswith("exit 3")
    assert not _files(cache, "*.jsa") and not _files(cache, "*.tmp")
    again = _child(cache, SESSION + REPORT)
    assert again["state"] == "off" and again["builds"] == 0


def test_running_session_is_left_alone(tmp_path):
    cache = tmp_path / "cache"
    got = _child(cache, textwrap.dedent("""\
        from v2_ocr_spark.session import builder, get_spark
        first = builder(master="local[2]").getOrCreate()
        env = dict(os.environ)
        spark = get_spark(master="local[2]")
        out = {"same": spark is first, "builds": len(builds),
               "env": env == dict(os.environ),
               "state": spark.conf.get("v2ocr.cds", None),
               "cache": os.path.exists(cds.cache_dir())}
    """) + REPORT)
    assert got == {"same": True, "builds": 0, "env": True, "state": None,
                   "cache": False}


def test_default_master_is_the_usable_cpus(monkeypatch):
    from v2_ocr_spark.session import builder

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cpus = len(os.sched_getaffinity(0))
    opts = builder()._options
    assert opts["spark.master"] == f"local[{cpus}]"
    assert opts["spark.sql.shuffle.partitions"] == str(cpus)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert builder()._options["spark.master"] == "local[3]"
