"""Run the benchmark on several seeds and report each end-to-end metric's
median and spread (interquartile distance as a share of the median, from
``statistics.quantiles(values, n=4)``).

    python3 perfbench/spread.py <workload> <first_seed> <runs> [out.json]

Run from the checkout root; runs are sequential. Prints one summary line
per metric and, with ``out.json``, writes every run's result there.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    workload, first, runs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    results = []
    for seed in range(first, first + runs):
        t = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )  # fmt: skip
        line = proc.stdout.strip().splitlines()[-1] if proc.returncode == 0 else "{}"
        res = json.loads(line)
        res["note"] = [n for n in proc.stderr.splitlines() if n.startswith(f"# {workload}")]
        res["seed"], res["wall_s"], res["exit"] = seed, time.time() - t, proc.returncode
        results.append(res)
        print(json.dumps(res), flush=True)
    summary = {}
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results if "metrics" in r]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else 0.0
        summary[m["name"]] = {"median": med, "spread": spread, "bound": m["bound"]}
        print(f"# {workload} {m['name']}: median {med:.4f} spread {spread:.3f} "
              f"(bound {m['bound']}, n={len(vals)})", flush=True)
    if len(sys.argv) > 4:
        with open(sys.argv[4], "w") as f:
            json.dump({"workload": workload, "runs": results, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
