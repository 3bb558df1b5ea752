"""One benchmark workload, run in a process of its own by run.py.

Starts a fresh ``local[nproc]`` session, warms it, then runs the
workload as a closed loop from one client for the given seconds: each
pass starts only after the previous one has finished and been checked.
The timed query of every pass is the correctness check: an
order-independent checksum over every output column, compared with the
same checksum over the generator's expected rows. Writes one JSON
result file and stops the session on every path.

Layers are timed from outside, around calls to their public functions:
``session`` (get_spark), scan (``spark.read.parquet`` +
``extract.with_payload_kind``), the ``extract`` boundary
(``mapInPandas`` echo), ``kernels``, ``extract`` (``extract_turns``),
``assemble``, ``pipeline.runner`` (``ExtractionJob``) and
``pipeline.sink`` (``read_output``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tracing import Tracer, metric_sum, plan_nodes  # noqa: E402

ROW_KEYS = ["conv_id", "turn_idx"]
ROW_HASH = "xxhash64(conv_id, turn_idx, extracted_text, spans, error)"
DOC_KEYS = ["conv_id"]
DOC_HASH = "xxhash64(conv_id, document_text, total_turns)"
KINDS = ("markdown", "plain", "blocks_rtl", "html", "pdf_layout")
KERNEL_BATCH = 4096  # rows per kernel call, the session's Arrow batch
# commit_resume reads a quarter of the mix's conversations plus the
# skew conversation, so that a run holds more than one pass
COMMIT_PARTS = ["part-0", "part-skew"]
# The first passes after set-up are still warming (JIT): the first is
# 20-50% slower than the third. A purely time-bound loop fits fewer
# passes when the host is slow, so its median would fall on that first
# pass exactly then; with three passes the median leaves it out.
MIN_PASSES = 3


def now() -> float:
    return time.monotonic()


# ---------------------------------------------------------------- checks

def checksum_query(df, hash_sql: str):
    """One aggregate over every output column: row count, bit_xor and a
    sum of the high halves of a per-row hash, plus the error-row count."""
    cols, aggs = [f"{hash_sql} AS h"], [
        "count(*) AS n", "bit_xor(h) AS x", "sum(shiftright(h, 32)) AS s",
    ]
    if "error" in df.columns:
        cols.append("error")
        aggs.append("count(error) AS errors")
    return df.selectExpr(*cols).selectExpr(*aggs)


def checksum(df, hash_sql: str) -> tuple[object, dict]:
    q = checksum_query(df, hash_sql)
    r = q.collect()[0].asDict()
    r["s"] = r["s"] or 0
    return q, r


def same(got: dict, want: dict) -> bool:
    return all(got[k] == want[k] for k in ("n", "x", "s"))


def bad_rows(out_df, exp_df, keys: list[str], hash_sql: str) -> int:
    """Rows missing, extra, duplicated or different in ``out_df``."""
    a = out_df.selectExpr(*keys, f"{hash_sql} AS ha")
    b = exp_df.selectExpr(*keys, f"{hash_sql} AS hb")
    differ = (
        a.join(b, keys, "full_outer")
        .where("ha IS NULL OR hb IS NULL OR ha != hb")
        .count()
    )
    return differ + a.count() - a.select(*keys).distinct().count()


def plant_defect(df, col: str, conv_id: str):
    """Self-test hook: alter one value of one conversation's output."""
    import pyspark.sql.functions as F

    hit = F.col("conv_id") == conv_id
    if "turn_idx" in df.columns:
        hit = hit & (F.col("turn_idx") == F.lit(1))
    return df.withColumn(
        col, F.when(hit, F.concat(F.col(col), F.lit("#"))).otherwise(F.col(col))
    )


def echo(batches):
    """The boundary alone: batches cross to Python and back unchanged."""
    yield from batches


# ---------------------------------------------------------------- context

class Run:
    def __init__(self, args, spark, tracer: Tracer):
        self.a = args
        self.spark = spark
        self.tracer = tracer
        self.data = args.data
        with open(os.path.join(self.data, "meta.json")) as f:
            self.meta = json.load(f)
        self.parts = (COMMIT_PARTS if args.workload == "commit_resume"
                      else sorted(self.meta["parts"]))
        self.turns = sum(self.meta["parts"][p]["turns"] for p in self.parts)
        self.input = self.files("input")
        self.expected = self.files("expected")
        self.append = os.path.join(self.data, "append", "part-0.parquet")
        self.append_expected = os.path.join(self.data, "append_expected",
                                            "part-0.parquet")
        self.work = args.work
        self.layers: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.plant_conv = None
        if args.plant_defect:
            import pyarrow.parquet as pq

            self.plant_conv = pq.read_table(
                self.expected[0], columns=["conv_id"]).column(0)[0].as_py()

    def files(self, sub: str) -> list[str]:
        return [os.path.join(self.data, sub, f"{p}.parquet")
                for p in self.parts]

    def record(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)

    def expected_rows(self, paths: list[str]):
        return self.spark.read.parquet(*paths).selectExpr(
            "conv_id", "turn_idx", "expected_text AS extracted_text",
            "expected_spans AS spans", "CAST(NULL AS STRING) AS error",
        )

    def fail(self, matched: bool, bad: int, errors: int) -> None:
        """A checksum mismatch counts at least one bad row, even if the
        recount outside the timed pass cannot find it again."""
        self.failed += (0 if matched else max(bad, 1)) + errors


# ------------------------------------------------------ extract workloads

def extract_once(run: Run, want: dict, traced: bool) -> tuple[float, bool]:
    """One extraction pass whose timed query is the checksum. Returns
    (seconds, matched)."""
    from v2_ocr_spark.operators.extract import extract_turns

    tr = run.tracer if traced else Tracer(False)
    t0 = now()
    with tr.span("extract"):
        out = extract_turns(run.spark.read.parquet(*run.input))
        if run.plant_conv:
            out = plant_defect(out, "extracted_text", run.plant_conv)
        q, got = checksum(out, ROW_HASH)
        if traced:
            with tr.span("extract.plan_metrics"):
                nodes = plan_nodes(q)
    dt = now() - t0
    ok = same(got, want)
    run.attempted += run.turns
    bad = 0
    if not ok:
        bad = bad_rows(out, run.expected_rows(run.expected), ROW_KEYS,
                       ROW_HASH)
    run.fail(ok, bad, got["errors"])
    if traced:
        run.record("extract.s", dt)
        run.record("extract.python_total_ms",
                   metric_sum(nodes, "pythonTotalTime", "MapInPandasExec"))
        run.record("extract.turns", got["n"])
        run.record("extract.error_rows", got["errors"])
    return dt, ok


def scan_and_boundary(run: Run) -> None:
    """The layer ladder below extraction: scan + payload-kind projection,
    then the same rows through an echo ``mapInPandas``."""
    import pyspark.sql.functions as F

    from v2_ocr_spark.operators.extract import with_payload_kind

    tr = run.tracer

    def src():
        return with_payload_kind(run.spark.read.parquet(*run.input)).select(
            "conv_id", "turn_idx", "text", "payload_kind"
        )

    def consume(df):
        return df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(conv_id, turn_idx))").alias("k"),
            F.sum(F.length("text")).alias("chars"),
            F.sum(F.length("payload_kind")).alias("kinds"),
        )

    with tr.span("scan"):
        t0 = now()
        q = consume(src())
        q.collect()
        scan_s = now() - t0
        nodes = plan_nodes(q)
    run.record("scan.s", scan_s)
    run.record("scan.rows", metric_sum(nodes, "numOutputRows",
                                       "FileSourceScanExec"))
    run.record("scan.file_bytes", metric_sum(nodes, "filesSize",
                                             "FileSourceScanExec"))
    with tr.span("boundary"):
        t0 = now()
        s = src()
        q = consume(s.mapInPandas(echo, schema=s.schema))
        q.collect()
        echo_s = now() - t0
        nodes = plan_nodes(q)
    run.record("boundary.s", echo_s - scan_s)
    run.record("boundary.bytes_sent",
               metric_sum(nodes, "pythonDataSent", "MapInPandasExec"))
    run.record("boundary.bytes_received",
               metric_sum(nodes, "pythonDataReceived", "MapInPandasExec"))
    run.record("boundary.python_init_ms",
               metric_sum(nodes, "pythonInitTime", "MapInPandasExec"))


def kernel_probe(run: Run) -> None:
    """Each kernel called single-threaded in this process on every text
    of its kind, in Arrow-batch-sized calls."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from v2_ocr_spark.kernels import KERNELS

    def column(paths: list[str], name: str):
        cols = [pq.read_table(p, columns=[name]).column(0) for p in paths]
        return pa.chunked_array(
            [c for col in cols for c in col.chunks]).to_pandas()

    texts = column(run.input, "text")
    kinds = column(run.expected, "payload_kind")
    with run.tracer.span("kernels"):
        for kind in KINDS:
            sel = texts[kinds == kind].reset_index(drop=True)
            busy = 0
            with run.tracer.span(f"kernels.{kind}", turns=len(sel)):
                for lo in range(0, len(sel), KERNEL_BATCH):
                    batch = sel.iloc[lo:lo + KERNEL_BATCH]
                    t0 = time.perf_counter_ns()
                    KERNELS[kind](batch)
                    busy += time.perf_counter_ns() - t0
            run.record(f"kernels.{kind}.us_per_turn",
                       busy / 1000 / len(sel) if len(sel) else 0)
            run.record(f"kernels.{kind}.turns", len(sel))
            run.record(f"kernels.{kind}.chars", int(sel.str.len().sum()))


def warm_extract(run: Run) -> None:
    """A first extraction pass over the first input part: JVM code
    paths, the Python workers and the kernels' imports. Part of set-up."""
    from v2_ocr_spark.operators.extract import extract_turns

    q = checksum_query(
        extract_turns(run.spark.read.parquet(run.input[0])), ROW_HASH)
    q.collect()
    if run.tracer.enabled:
        run.record("boundary.python_boot_ms", metric_sum(
            plan_nodes(q), "pythonBootTime", "MapInPandasExec"))


def closed_loop(run: Run, one_pass) -> dict:
    """Passes back to back, one client, until the run's seconds are up
    and an untraced run has made MIN_PASSES passes. A traced run makes
    pairs of one untraced and one traced pass, so the tracing overhead
    is measured in the same process, and alternates which goes first so
    that JIT warm-up favours neither. A mismatch ends the loop."""
    times = {"untraced": [], "traced": []}
    end = now() + run.a.seconds
    least = 2 if run.tracer.enabled else MIN_PASSES
    i = 0
    while True:
        order = [False]
        if run.tracer.enabled:
            order = [False, True] if i % 2 == 0 else [True, False]
        for traced in order:
            if traced:
                with run.tracer.span("pass"):
                    dt, ok = one_pass(f"t{i}", True)
            else:
                dt, ok = one_pass(f"p{i}", False)
            times["traced" if traced else "untraced"].append(dt)
            if not ok:
                return times
        i += 1
        if now() >= end and i >= least:
            return times


# ---------------------------------------------------- commit_resume

def _link(paths: list[str], dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    for p in paths:
        name = f"{os.path.basename(os.path.dirname(p))}-{os.path.basename(p)}"
        os.link(p, os.path.join(dst, name))


def _dir_stats(path: str) -> tuple[int, int]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if f.endswith(".parquet")]
    return sum(os.path.getsize(f) for f in files), len(files)


class CommitPass:
    """Steps 1-2 of commit_resume: ExtractionJob.run() into a fresh sink,
    then assemble() over its output. The sink is kept until ``close``,
    so steps 3-4 (``resume``) can run on it."""

    def __init__(self, run: Run, wants: dict | None, traced: bool, tag: str):
        from v2_ocr_spark.operators.assemble import assemble
        from v2_ocr_spark.pipeline.runner import ExtractionJob

        self.run, self.wants, self.traced = run, wants, traced
        tr = run.tracer if traced else Tracer(False)
        self.dir = os.path.join(run.work, tag)
        self.in_dir = os.path.join(self.dir, "in")
        self.sink = os.path.join(self.dir, "sink")
        _link(run.input, self.in_dir)
        t0 = now()
        self.job = ExtractionJob(run.spark, self.in_dir, self.sink)
        with tr.span("runner.run"):
            first = self.job.run()
        t1 = now()
        with tr.span("assemble"):
            docs = assemble(self.job.read_output())
            if run.plant_conv:
                docs = plant_defect(docs, "document_text", run.plant_conv)
            q, got = checksum(docs, DOC_HASH)
            if traced:
                nodes = plan_nodes(q)
        t2 = now()
        self.seconds = t2 - t0
        self.ok = wants is None or same(got, wants["docs"])
        if wants is None:
            return
        run.attempted += run.turns
        bad = 0
        if not self.ok:  # before anything replaces the files it read
            bad = bad_rows(docs, run.spark.read.parquet(*run.files("docs")),
                           DOC_KEYS, DOC_HASH)
        run.fail(self.ok, bad, 0)
        if traced:
            run.record("runner.run_s", t1 - t0)
            run.record("runner.partitions_committed", len(first["committed"]))
            run.record("assemble.s", t2 - t1)
            run.record("assemble.shuffle_bytes",
                       metric_sum(nodes, "shuffleBytesWritten"))
            run.record("assemble.spill_bytes", metric_sum(nodes, "spillSize"))
            run.record("assemble.docs", got["n"])

    def resume(self, traced: bool) -> bool:
        """Steps 3-4: append new conversations, run(incremental=True),
        then check every row of the sink. Returns whether it matched."""
        from v2_ocr_spark.pipeline.runner import ExtractionJob

        run = self.run
        tr = run.tracer if traced else Tracer(False)
        _link([run.append], self.in_dir)
        t3 = now()
        with tr.span("runner.resume"):
            resumed = ExtractionJob(run.spark, self.in_dir, self.sink).run(
                incremental=True)
        t4 = now()
        with tr.span("sink.read"):
            out = self.job.read_output().select(
                *ROW_KEYS, "extracted_text", "spans", "error")
            _, got = checksum(out, ROW_HASH)
        t5 = now()
        if self.wants is None:
            return True
        ok = same(got, self.wants["final"])
        run.attempted += run.meta["append_turns"]
        bad = 0
        if not ok:
            bad = bad_rows(out, run.expected_rows(
                run.expected + [run.append_expected]), ROW_KEYS, ROW_HASH)
        run.fail(ok, bad, got["errors"])
        if traced:
            with tr.span("runner.fingerprint"):
                f0 = now()
                ExtractionJob(run.spark, self.in_dir,
                              self.sink).input_fingerprints()
                run.record("runner.fingerprint_s", now() - f0)
            commits = self.job.sink.committed()
            re_rows = sum(commits[p]["metrics"]["turns_seen"]
                          for p in resumed["committed"])
            sink_bytes, sink_files = _dir_stats(self.job.sink.data_dir)
            in_bytes, _ = _dir_stats(self.in_dir)
            run.record("runner.resume_run_s", t4 - t3)
            run.record("runner.resume_partitions", len(resumed["committed"]))
            run.record("runner.resume_rows_ratio",
                       re_rows / run.meta["append_turns"])
            run.record("resume_s", t4 - t3)
            run.record("sink.read_s", t5 - t4)
            run.record("sink.bytes", sink_bytes)
            run.record("sink.files", sink_files)
            run.record("stored_bytes_ratio", sink_bytes / in_bytes)
            run.record("extract.turns", got["n"])
            run.record("extract.error_rows", got["errors"])
        return ok

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def run_commit(run: Run, wants: dict) -> dict:
    """Steps 1-2 in the closed loop; steps 3-4 once, on the last pass's
    sink, outside the timed passes."""
    passes: list[CommitPass] = []

    def one_pass(tag: str, traced: bool) -> tuple[float, bool]:
        if passes:
            passes.pop().close()
        passes.append(CommitPass(run, wants, traced, tag))
        return passes[-1].seconds, passes[-1].ok

    try:
        times = closed_loop(run, one_pass)
        if passes[-1].ok:
            passes[-1].resume(traced=run.tracer.enabled)
        return times
    finally:
        for p in passes:
            p.close()


def warm_commit(run: Run) -> None:
    """Steps 1-2 once, unchecked, on the workload's input: extraction,
    write, shuffle and commit paths. Part of set-up."""
    CommitPass(run, None, False, "warm").close()


def expected_checksums(run: Run) -> dict:
    """Checksums of the generator's expected output, computed once per
    seed and kept next to the cached input."""
    path = os.path.join(run.data, f"expected-{run.a.workload}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    wants = {"rows": checksum(run.expected_rows(run.expected), ROW_HASH)[1]}
    if run.a.workload == "commit_resume":
        wants["docs"] = checksum(
            run.spark.read.parquet(*run.files("docs")), DOC_HASH)[1]
        wants["final"] = checksum(run.expected_rows(
            run.expected + [run.append_expected]), ROW_HASH)[1]
    with open(path + ".tmp", "w") as f:
        json.dump(wants, f)
    os.replace(path + ".tmp", path)
    return wants


# ---------------------------------------------------------------- main

PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warm_s": "s",
    "boundary.python_boot_ms": "ms",
    "scan.s": "s", "scan.rows": "count", "scan.file_bytes": "bytes",
    "boundary.s": "s", "boundary.bytes_sent": "bytes",
    "boundary.bytes_received": "bytes", "boundary.python_init_ms": "ms",
    **{f"kernels.{k}.{m}": u for k in KINDS
       for m, u in (("us_per_turn", "us"), ("turns", "count"),
                    ("chars", "count"))},
    "extract.s": "s", "extract.python_total_ms": "ms",
    "extract.turns": "count", "extract.error_rows": "count",
    "assemble.s": "s", "assemble.shuffle_bytes": "bytes",
    "assemble.spill_bytes": "bytes", "assemble.docs": "count",
    "runner.run_s": "s", "runner.partitions_committed": "count",
    "sink.bytes": "bytes", "sink.files": "count", "sink.read_s": "s",
    "runner.fingerprint_s": "s", "runner.resume_run_s": "s",
    "runner.resume_partitions": "count", "runner.resume_rows_ratio": "ratio",
    "resume_s": "s", "stored_bytes_ratio": "ratio", "error_rate": "ratio",
    "trace.turns_per_s": "turns/s", "trace.untraced_turns_per_s": "turns/s",
    "trace.overhead_pct": "%",
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("mixed_extract", "tool_extract", "commit_resume"))
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--plant-defect", action="store_true")
    ap.add_argument("--result", required=True)
    a = ap.parse_args()

    from v2_ocr_spark.session import get_spark

    tracer = Tracer(bool(a.trace))
    spark = None
    try:
        with tracer.span("session.start"):
            spark = get_spark(app_name=f"perfbench-{a.workload}",
                              master=f"local[{a.cores}]",
                              shuffle_partitions=a.cores)
            spark.sparkContext.setLogLevel("ERROR")
        started = now()
        run = Run(a, spark, tracer)
        with tracer.span("session.warm"):
            (warm_commit if a.workload == "commit_resume" else warm_extract)(run)
        warmed = now()
        run.record("session.start_s", started - a.spawned_at)
        run.record("session.warm_s", warmed - started)

        # expected checksums: outside set-up and outside every timed pass
        wants = expected_checksums(run)
        if a.workload == "commit_resume":
            times = run_commit(run, wants)
        else:
            def extract_pass(tag, traced):
                if traced:
                    scan_and_boundary(run)
                return extract_once(run, wants["rows"], traced)

            times = closed_loop(run, extract_pass)
            if a.trace:
                kernel_probe(run)

        turns = run.turns
        tps = statistics.median(turns / t for t in times["untraced"])
        metrics = {
            "turns_per_s": (tps, "turns/s"),
            "setup_s": (warmed - a.spawned_at, "s"),
        }
        if a.trace:
            run.record("error_rate", run.failed / run.attempted)
            if times["traced"]:
                ttps = statistics.median(turns / t for t in times["traced"])
                run.record("trace.turns_per_s", ttps)
                run.record("trace.untraced_turns_per_s", tps)
                run.record("trace.overhead_pct", (tps / ttps - 1) * 100)
            metrics = {
                name: (statistics.median(run.layers.get(name, [0])), unit)
                for name, unit in PER_LAYER_UNITS.items()
            }
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
            "passes": times,
            "expected": wants,
            "input": {
                "parts": run.parts, "turns": run.turns,
                "kind_mix": {k: {m: sum(run.meta["parts"][p]["kind_mix"][k][m]
                                        for p in run.parts)
                                 for m in ("turns", "text_bytes")}
                             for k in KINDS},
            },
        }
    finally:
        if spark is not None:
            spark.stop()
    if a.trace:
        result["spans"] = tracer.spans
        result["self_s"] = tracer.self_times()
    with open(a.result + ".tmp", "w") as f:
        json.dump(result, f)
    os.replace(a.result + ".tmp", a.result)


if __name__ == "__main__":
    main()
