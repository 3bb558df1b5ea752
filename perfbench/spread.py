"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --seeds 1 2 3 4 5 6 7 8 9 10 [--trace 0]
        [--workloads mixed_extract ...] [--jsonl runs.jsonl]

Runs the benchmark command once per seed and workload, workloads
interleaved, and prints for every workload and metric the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the spread: the
distance between the quartiles as a share of the median. For an
end-to-end metric it also prints the bound from BENCHMARK.json and
whether the spread stays below a third of it (``setup_s`` is held to
the median test only).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--jsonl", help="append every run's result here")
    a = ap.parse_args()

    values: dict[str, dict[str, list[float]]] = {w: {} for w in a.workloads}
    bad = 0
    for seed in a.seeds:
        for w in a.workloads:
            t0 = time.monotonic()
            p = subprocess.run(
                [*spec["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            wall = time.monotonic() - t0
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else None
            info = json.loads(lines[-2]) if len(lines) > 1 else None
            ok = p.returncode == 0 and res is not None and res["correct"]
            bad += not ok
            print(f"{w} seed={seed} exit={p.returncode} wall={wall:.1f}s "
                  f"correct={ok}", file=sys.stderr)
            if a.jsonl:
                with open(a.jsonl, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed,
                                        "exit": p.returncode, "wall_s": wall,
                                        "info": info, "result": res}) + "\n")
            if res is None:
                continue
            for name, m in res["metrics"].items():
                values[w].setdefault(name, []).append(m["value"])

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print("| workload | metric | n | median | q1 | q3 | spread | bound | ok |")
    print("|---|---|---|---|---|---|---|---|---|")
    for w, metrics in values.items():
        for name, vals in metrics.items():
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(name)
            ok = ("" if bound is None or a.trace else
                  "median only" if name == "setup_s" else
                  "yes" if spread < bound / 3 else "NO")
            print(f"| {w} | {name} | {len(vals)} | {med:.6g} | {q1:.6g} | "
                  f"{q3:.6g} | {spread:.4f} | {bound or ''} | {ok} |")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
