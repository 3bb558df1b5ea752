"""The sink's own staging writer (MergeSink.stage): it leaves the files
and ``.crc`` sidecars Hadoop's local filesystem would, a checksum still
guards every read, a failed task leaves no row visible, and a retried
one leaves no duplicate."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

from v2_ocr_spark.pipeline.runner import ExtractionJob
from v2_ocr_spark.pipeline.sink import crc_sidecar

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _names(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root) for f in fs
    )


@pytest.fixture(scope="module")
def job(spark, sf_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("writer") / "sink")
    j = ExtractionJob(
        spark, f"{sf_small}/transcripts.parquet", out, num_partitions=4
    )
    j.run()
    return j


def test_every_data_file_has_its_crc_and_no_temp_is_left(job):
    names = _names(job.sink.data_dir)
    parts = [n for n in names if n.endswith(".parquet")]
    assert len(parts) >= 4
    sidecars = [
        os.path.join(os.path.dirname(n), f".{os.path.basename(n)}.crc")
        for n in parts
    ]
    assert names == sorted(parts + sidecars)
    assert os.listdir(job.sink.staging_root) == []


def test_crc_sidecar_equals_hadoops(spark, job, tmp_path):
    """Byte-equal to the sidecar Hadoop's LocalFileSystem writes for the
    same bytes: chunk edges, an empty file and a real staged file."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()
    )
    real = sorted(glob.glob(f"{job.sink.data_dir}/pid=*/part-*.parquet"))[0]
    with open(real, "rb") as f:
        payloads = [f.read()]
    payloads += [bytes(range(256)) * n for n in (0, 1, 2, 4)]
    payloads += [b"x" * n for n in (511, 512, 513, 1537)]
    for i, data in enumerate(payloads):
        path = tmp_path / f"copy{i}"
        out = fs.create(jvm.org.apache.hadoop.fs.Path(str(path)))
        out.write(bytearray(data))
        out.close()
        with open(tmp_path / f".copy{i}.crc", "rb") as f:
            assert crc_sidecar(data) == f.read(), len(data)
    sidecar = os.path.join(
        os.path.dirname(real), f".{os.path.basename(real)}.crc"
    )
    with open(sidecar, "rb") as f:
        assert f.read() == crc_sidecar(payloads[0])


def test_corrupted_data_file_fails_its_checksum(spark, sf_small, tmp_path):
    j = ExtractionJob(
        spark, f"{sf_small}/transcripts.parquet", str(tmp_path / "c"),
        num_partitions=4,
    )
    j.run()
    victim = sorted(glob.glob(f"{j.sink.data_dir}/pid=*/part-*.parquet"))[0]
    with open(victim, "r+b") as f:
        f.seek(100)
        b = f.read(1)
        f.seek(100)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="ChecksumException"):
        j.read_output().collect()


# A Python daemon that plants a writer failure: every attempt (mode
# "always") or each task's first attempt (mode "first") writes its first
# pid file, strands a temp file next to it as a killed write would, and
# raises. The mode is read from the file named by PLANT_CTL at each call.
PLANTED_DAEMON = '''
import os

from pyspark import TaskContext
from v2_ocr_spark.pipeline import sink

_real = sink._write_file


def _planted(path, table, tag):
    _real(path, table, tag)
    with open(os.environ["PLANT_CTL"]) as f:
        mode = f.read()
    attempt = TaskContext.get().attemptNumber()
    if mode == "always" or (mode == "first" and attempt == 0):
        with open(os.path.join(os.path.dirname(path),
                               f".planted.{tag}.tmp"), "wb") as f:
            f.write(b"partial")
        with open(os.environ["PLANT_CTL"] + ".log", "a") as f:
            f.write(f"{mode} {attempt}\\n")
        raise RuntimeError("planted writer failure")


sink._write_file = _planted

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
'''

DRIVER = '''
import json, os, sys

from v2_ocr_spark.pipeline.runner import ExtractionJob
from v2_ocr_spark.session import builder

inp, work, ctl = sys.argv[1:4]
spark = (
    builder(master="local[2,2]", shuffle_partitions=4)
    .config("spark.python.daemon.module", "planted_daemon")
    .getOrCreate()
)


def plant(mode):
    with open(ctl, "w") as f:
        f.write(mode)


def job(name):
    return ExtractionJob(spark, inp, os.path.join(work, name),
                         num_partitions=4)


def rows(j):
    out = j.read_output().drop("proc_us").collect()
    return sorted((r.asDict(recursive=True) for r in out),
                  key=lambda r: (r["conv_id"], r["turn_idx"]))


def temps(j):
    return [f for _, _, fs in os.walk(j.sink.data_dir) for f in fs
            if f.endswith(".tmp")]


def failures():
    with open(ctl + ".log") as f:
        lines = f.read().split()
    os.remove(ctl + ".log")
    return lines


plant("off")
clean = job("clean")
clean.run()
want = rows(clean)
report = {"rows": len(want)}

crashed = job("crashed")
plant("always")
try:
    crashed.run()
    report["crash"] = None
except Exception as exc:
    report["crash"] = "planted writer failure" in str(exc)
report["crash_failures"] = failures()
report["committed_after_crash"] = sorted(crashed.sink.committed())
try:
    crashed.read_output()
    report["readable_after_crash"] = True
except FileNotFoundError:
    report["readable_after_crash"] = False
plant("off")
report["rerun"] = crashed.run()["status"]
report["rerun_equal"] = rows(crashed) == want
report["rerun_temps"] = temps(crashed)
report["rerun_staging"] = os.listdir(crashed.sink.staging_root)

retried = job("retried")
plant("first")
report["retry"] = retried.run()["status"]
report["retry_failures"] = failures()
report["retry_equal"] = rows(retried) == want
report["retry_temps"] = temps(retried)
spark.stop()
print("REPORT " + json.dumps(report))
'''


def test_failed_and_retried_writer_tasks(sf_small, tmp_path):
    """Under local[2,2] (two attempts per task), in a session of its own
    whose Python daemon plants writer failures:

    * a failure after a task's first pid file, on every attempt, makes
      run() raise with no row of that run visible; the next run commits
      the same rows as a clean run and leaves no temp file in data/;
    * a failure on each task's first attempt only is retried, and the
      sink equals a clean run's: no row duplicated, no temp file left."""
    (tmp_path / "planted_daemon.py").write_text(PLANTED_DAEMON)
    (tmp_path / "driver.py").write_text(DRIVER)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            [str(tmp_path), REPO, os.environ.get("PYTHONPATH", "")]
        ),
        PLANT_CTL=str(tmp_path / "plant"),
        SPARK_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, str(tmp_path / "driver.py"),
         f"{sf_small}/transcripts.parquet", str(tmp_path / "work"),
         str(tmp_path / "plant")],
        env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("REPORT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    r = json.loads(lines[-1][len("REPORT "):])
    assert r["rows"] > 0
    assert r["crash"] is True
    assert r["crash_failures"] and set(r["crash_failures"][1::2]) == {"0", "1"}
    assert r["committed_after_crash"] == []
    assert r["readable_after_crash"] is False
    assert r["rerun"] == "ok" and r["rerun_equal"] is True
    assert r["rerun_temps"] == [] and r["rerun_staging"] == []
    assert r["retry"] == "ok"
    assert r["retry_failures"] and set(r["retry_failures"][1::2]) == {"0"}
    assert r["retry_equal"] is True
    assert r["retry_temps"] == []
