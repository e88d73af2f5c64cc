"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Steps:

1. Prepare the workload's inputs for this seed in a separate process
   (``prepare.py``), cached under ``.perfbench_cache/``; skipped when cached.
2. Start the measuring process (``runner.py``) with the checkout root on
   ``PYTHONPATH``, so Spark's Python workers import the package too, and
   with Spark's scratch space under the run's own directory.
3. Print one JSON line on stdout: ``correct``, ``attempted``, ``failed``
   and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
   per-layer metrics). Everything else goes to stderr. With ``--trace 1``
   the full trace (spans, per-op first-pass times) is also written to
   ``.perfbench_cache/traces/<workload>-seed<n>.json``.

Exits non-zero, printing no result, when the package is missing, a process
fails or times out.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

#: everything, preparation included, must end within this many seconds
DEADLINE_S = 170
#: how long the processes a child leaves behind may take to exit
REAP_GRACE_S = 5


def _call(cmd: list[str], env: dict[str, str], timeout: float) -> int:
    """Run ``cmd`` in its own process group with stdout sent to our stderr,
    and return once every process of the group has ended. The runner's JVM
    and Spark's Python workers outlive the runner by a moment; on timeout
    the whole group is killed."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"# timed out after {timeout:.0f} s: {cmd[1]}", file=sys.stderr)
        code = -1
    end = time.monotonic() + REAP_GRACE_S
    while time.monotonic() < end:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return code
        time.sleep(0.05)
    with contextlib.suppress(ProcessLookupError):
        os.killpg(proc.pid, signal.SIGKILL)
    return code


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=common.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "science_datalake_spark")):
        print("# run from a checkout root: science_datalake_spark/ not found", file=sys.stderr)
        return 2
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([root, HERE])
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

    prepared = common.prepared_dir(root, a.workload, a.seed)
    if not os.path.exists(os.path.join(prepared, "ready.json")):
        cmd = [sys.executable, os.path.join(HERE, "prepare.py"), a.workload, str(a.seed), prepared]
        if _call(cmd, env, deadline - time.monotonic()) != 0:
            return 1
    os.utime(prepared)
    common.evict(root, a.workload, prepared)

    scratch = os.path.join(common.cache_root(root), "run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(scratch, d))
    env["TMPDIR"] = os.path.join(scratch, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    # every JVM, the spark-submit launcher included: temporary files in the
    # run's directory, and no perf-data file under the system temp directory
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    out = os.path.join(scratch, "result.json")
    try:
        t0 = time.time()
        cmd = [
            sys.executable, os.path.join(HERE, "runner.py"),
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--t0", repr(t0),
            "--prepared", prepared, "--scratch", scratch, "--out", out,
        ]  # fmt: skip
        if _call(cmd, env, deadline - time.monotonic()) != 0 or not os.path.exists(out):
            return 1
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    if a.trace:
        traces = os.path.join(common.cache_root(root), "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump(result, f, indent=1)
        layers = result["layers"]
        metrics = {
            k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in common.PER_LAYER.items()
        }
    else:
        metrics = {k: result["metrics"][k] for k in common.END_TO_END}
    print(
        f"# {a.workload} seed {a.seed}: {result['op_samples']} warm op samples, "
        f"set-up {result['setup_s']:.3f} s, "
        f"passes {[round(s, 3) for s in result['passes_s']]}",
        file=sys.stderr,
    )
    line = {k: result[k] for k in ("correct", "attempted", "failed")}
    line["metrics"] = metrics
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
