"""The repository's benchmark command.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the seeded input of workload W (cached per seed under
``.perfbench/cache``), then runs the workload in a child process with a
session and process group of its own (workload.py); a traced run also
samples the summed RSS of the child's process tree. When the child is done, waits
for its whole tree to exit (SIGTERM, then SIGKILL after a grace period;
the same on timeout or interrupt), fails the run if any process it
started is still alive, and deletes the run's sink and Spark local
directories. Prints one JSON line describing the input, then, as the
last line of stdout, ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 1`` the metrics are the per-layer ones and the spans go
to ``.perfbench/traces/``.

Exit codes: 0 for a correct result, 1 for a printed but incorrect
result, 3 when the workload failed or left a process behind (nothing
printed), 2 for bad arguments.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

# the program under test is imported first: without it the command
# fails here, before any input is built or any result printed
import inputs
import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170.0  # the whole command, generation and clean-up included
GRACE_S = 8.0
RSS_EVERY_S = 0.25
FAMILY = {"mixed_extract": "mix", "tool_extract": "tool",
          "commit_resume": "mix"}


class Interrupted(Exception):
    pass


def _interrupt(signum, frame):
    raise Interrupted(signal.Signals(signum).name)


def _shield() -> None:
    """Let a repeated SIGTERM or Ctrl-C not cut the clean-up short; the
    clean-up itself is bounded by its grace periods."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    signal.signal(signal.SIGINT, signal.SIG_IGN)


class RssSampler(threading.Thread):
    """Peak of the summed RSS of a session's process tree."""

    def __init__(self, session: int):
        super().__init__(daemon=True)
        self.session = session
        self.peak = 0
        self.halt = threading.Event()

    def run(self) -> None:
        while not self.halt.is_set():
            pids = procs.tree(self.session, self.session) + [self.session]
            self.peak = max(self.peak, procs.rss_bytes(pids))
            self.halt.wait(RSS_EVERY_S)


def _log_tail(path: str, lines: int = 40) -> str:
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-lines:])
    except OSError:
        return ""


def run_child(a, cores: int, data: str, run_dir: str, log_path: str,
              deadline: float) -> tuple[dict | None, int]:
    """Run the workload process; returns (result or None, peak RSS)."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    result_path = os.path.join(run_dir, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_WAREHOUSE_DIR=os.path.join(run_dir, "warehouse"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        JAVA_TOOL_OPTIONS=(f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
                           " -XX:-UsePerfData"),
    )
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", a.workload, "--data", data, "--work", run_dir,
           "--seconds", repr(a.seconds), "--trace", str(a.trace),
           "--cores", str(cores), "--result", result_path,
           "--spawned-at", repr(time.monotonic())]
    if a.plant_defect:
        cmd.append("--plant-defect")
    child = None
    sampler = None
    try:
        with open(log_path, "w") as log:
            child = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                                     stdout=log, stderr=log, env=env,
                                     start_new_session=True)
        if a.trace:
            sampler = RssSampler(child.pid)
            sampler.start()
        try:
            code = child.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            print("workload timed out; stopping its processes",
                  file=sys.stderr)
            code = None
    finally:
        _shield()
        if sampler is not None:
            sampler.halt.set()
            sampler.join()
        if child is not None:
            if child.poll() is None:  # timed out or interrupted
                os.killpg(child.pid, signal.SIGTERM)
            left = procs.stop_tree(child.pid, GRACE_S)
            if left:
                raise RuntimeError(f"processes still alive: {left}")
    if code != 0 or not os.path.exists(result_path):
        print(f"workload exited with {code}; log tail:\n"
              f"{_log_tail(log_path)}", file=sys.stderr)
        return None, 0
    with open(result_path) as f:
        return json.load(f), sampler.peak if sampler else 0


def main() -> int:
    ap = argparse.ArgumentParser(description="v2_ocr_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(FAMILY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help=argparse.SUPPRESS)  # tiny inputs for the smoke tests
    ap.add_argument("--plant-defect", action="store_true",
                    help=argparse.SUPPRESS)  # self-test of the checks
    a = ap.parse_args()
    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S - 2 * GRACE_S - 10

    signal.signal(signal.SIGTERM, _interrupt)
    signal.signal(signal.SIGINT, _interrupt)
    procs.become_subreaper()
    cores = len(os.sched_getaffinity(0))
    family = FAMILY[a.workload]
    for d in ("cache", "runs", "logs", "traces"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-{os.getpid()}")
    try:
        meta = inputs.ensure(os.path.join(STATE, "cache"), family, a.seed,
                             a.scale)
        data = os.path.join(STATE, "cache",
                            f"{family}-s{a.seed}-x{a.scale:g}")
        result, peak = run_child(
            a, cores, data, run_dir,
            os.path.join(STATE, "logs", f"{a.workload}.log"), deadline)
    except Interrupted as exc:
        print(f"interrupted by {exc}", file=sys.stderr)
        return 3
    except Exception:  # noqa: BLE001 - report, clean up, print no result
        traceback.print_exc()
        return 3
    finally:
        _shield()
        procs.stop_tree(os.getpid(), GRACE_S)
        shutil.rmtree(run_dir, ignore_errors=True)
        left = procs.tree(os.getpid())
        if left:
            print(f"processes still alive after the run: {left}",
                  file=sys.stderr)
    if left or result is None:
        return 3

    trace_path = None
    if a.trace:
        result["metrics"]["peak_rss_mb"] = {
            "value": peak / 2**20, "unit": "MB"}
        trace_path = os.path.join(STATE, "traces",
                                  f"{a.workload}-s{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"meta": meta, **{k: result[k] for k in (
                "spans", "self_s", "passes", "expected")}}, f, indent=1)
    mix = result["input"]["kind_mix"]
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "cores": cores,
        "turns": result["input"]["turns"],
        "text_bytes": sum(v["text_bytes"] for v in mix.values()),
        "kind_mix": mix, "input_cache_hit": meta["cache_hit"],
        "passes": result["passes"], "trace_file": trace_path,
        "self_s": result.get("self_s"),
        "wall_s": time.monotonic() - t_start,
    }))
    print(json.dumps({k: result[k] for k in (
        "correct", "attempted", "failed", "metrics")}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
