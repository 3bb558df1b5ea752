"""The package's one import-time side effect (v2_ocr_spark/workerhook.py).

Inside a Spark Python worker, importing the package drops every zip
finder from the importer cache, keeps them dropped across the per-task
``importlib.invalidate_caches()``, and freezes the import-time heap. In
the driver, importing the package changes neither the importer cache nor
the gc, and does not import pyspark."""

from __future__ import annotations

import json
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

from v2_ocr_spark.operators.extract import extract_turns
from v2_ocr_spark.workerhook import lighten_worker

ROOT = Path(__file__).resolve().parents[1]


def _run_fresh(code: str, tmp_path: Path) -> dict:
    """Run `code` in a fresh interpreter with a zip archive on sys.path
    (importable as `zipped`); it prints one JSON line."""
    archive = tmp_path / "zipped.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipped.py", "X = 1\n")
    prelude = (
        "import gc, json, sys, zipimport\n"
        f"sys.path.insert(0, {str(archive)!r})\n"
        f"sys.path.insert(0, {str(ROOT)!r})\n"
        "import zipped\n"
        "def zips():\n"
        "    return sorted(p for p, f in sys.path_importer_cache.items()\n"
        "                  if isinstance(f, zipimport.zipimporter))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", prelude + textwrap.dedent(code)],
        capture_output=True, text=True, check=True, cwd=tmp_path,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_driver_import_has_no_side_effect(tmp_path):
    got = _run_fresh("""
        before = dict(sys.path_importer_cache)
        import v2_ocr_spark
        print(json.dumps({
            "zips": zips(),
            "kept": all(sys.path_importer_cache.get(p) is f
                        for p, f in before.items()),
            "frozen": gc.get_freeze_count(),
            "pyspark": any(m.split(".")[0] == "pyspark" for m in sys.modules),
            "meta_path": any(getattr(f, "__module__", "") ==
                             "v2_ocr_spark.workerhook" for f in sys.meta_path),
        }))
    """, tmp_path)
    assert got["zips"], "the zip finder of the test archive must be cached"
    assert got == {"zips": got["zips"], "kept": True, "frozen": 0,
                   "pyspark": False, "meta_path": False}


def test_worker_logic_evicts_now_and_on_every_invalidation(tmp_path):
    # a stand-in task context: the hook only asks TaskContext.get()
    got = _run_fresh("""
        import importlib, types
        tc = types.ModuleType("pyspark.taskcontext")
        tc.TaskContext = type("TaskContext", (), {"get": staticmethod(object)})
        sys.modules["pyspark.taskcontext"] = tc
        assert zips()
        import v2_ocr_spark
        after_import = zips()
        # a first import walks sys.path and rebuilds the zip finder ...
        try:
            import not_a_module_anywhere  # noqa: F401
        except ImportError:
            pass
        rebuilt = zips()
        # ... and the next task's invalidation drops it again
        importlib.invalidate_caches()
        print(json.dumps({"after_import": after_import, "rebuilt": rebuilt,
                          "after_invalidate": zips(),
                          "frozen": gc.get_freeze_count() > 0}))
    """, tmp_path)
    assert got["after_import"] == [] and got["after_invalidate"] == []
    assert got["rebuilt"], "the stand-in import must rebuild a zip finder"
    assert got["frozen"]


def test_driver_call_is_a_no_op(spark):
    # pyspark is imported and a session is live, but no task is running
    import gc

    assert lighten_worker() is False
    assert gc.get_freeze_count() == 0


def test_workers_that_ran_extraction_hold_no_zip_finder(spark, transcripts):
    cores = spark.sparkContext.defaultParallelism
    assert extract_turns(transcripts.repartition(cores)).count() > 0

    def probe(batches):
        # read the state first: the task's invalidation has just run
        import gc
        import os
        import sys
        import zipimport

        import pandas as pd

        zips = [p for p, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter)]
        state = {"pid": [os.getpid()],
                 "package": ["v2_ocr_spark" in sys.modules],
                 "zips": [len(zips)], "frozen": [gc.get_freeze_count()]}
        for _ in batches:
            pass
        yield pd.DataFrame(state)

    rows = (spark.range(cores, numPartitions=cores)
            .mapInPandas(probe, "pid long, package boolean, zips int, "
                                "frozen long")
            .collect())
    reused = [r for r in rows if r.package]
    assert reused, "no probe task ran in a worker that ran extraction"
    for r in reused:
        assert r.zips == 0, r
        assert r.frozen > 0, r
