"""The measuring process: one closed-loop client driving the engine through
its public entry points, for one workload and seed.

Started by ``run.py`` after preparation, with the start time of the process
passed in, so ``setup_s`` counts interpreter start, imports, the JVM launch
and the session set-up. Writes its result as JSON to ``--out``; everything
printed goes to stderr.

Entry points used: ``session.get_spark``, ``catalog.bootstrap_session``,
``catalog.register_views``, the ``queries`` registry callables,
``webapp.QueryService.run`` and ``pipeline.run_pipeline``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import common
import spans as tr

PROBES = 5
# a run measures for --seconds and for at least this many samples, so each
# median is taken over enough values to drop one disturbed sample
MIN_PASSES = 3
MIN_UPDATES = 3
WARMUP_PASSES = 3


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=common.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--t0", type=float, required=True)
    p.add_argument("--prepared", required=True)
    p.add_argument("--scratch", required=True)
    p.add_argument("--out", required=True)
    return p.parse_args()


def _session_conf(a: argparse.Namespace, sf_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(a.scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if sf_dir is not None:
        # the input-sized session rules bench.py applies
        from science_datalake_spark.session import (
            SCAN_OPEN_COST_BYTES,
            suggest_aqe,
            suggest_shuffle_partitions,
        )

        conf["spark.sql.shuffle.partitions"] = str(suggest_shuffle_partitions(sf_dir))
        conf["spark.sql.files.openCostInBytes"] = str(SCAN_OPEN_COST_BYTES)
        conf["spark.sql.adaptive.enabled"] = suggest_aqe(sf_dir)
    if a.trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(a.scratch, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    return conf


def mix_warm(op_times: dict[str, list[float]]) -> float:
    """The warm wall time of one pass built from typical latencies: the sum
    over ops of each op's median timed latency. A burst of host noise
    during one op of one pass is dropped by that op's median, where the
    median of whole-pass times would keep any pass that had one."""
    return sum(statistics.median(ts) for ts in op_times.values())


class Client:
    """Session lifecycle plus per-op bookkeeping shared by both workloads."""

    def __init__(self, a: argparse.Namespace, sf_dir: str | None) -> None:
        self.a = a
        self.sf_dir = sf_dir
        self.tracer = tr.Tracer(bool(a.trace))
        self.conf = _session_conf(a, sf_dir)
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        self.spark = None

    def setup(self) -> None:
        """The session set-up, timed from the start of the process."""
        from science_datalake_spark.catalog import bootstrap_session, register_views
        from science_datalake_spark.session import get_spark

        tracer = self.tracer
        tracer.phase = "setup"
        with tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", **self.conf)
        tracer.bind(self.spark)
        if self.sf_dir is not None:
            with tracer.span("catalog.register_views"):
                bootstrap_session(self.spark, self.sf_dir)
                register_views(self.spark, self.sf_dir)
        self.setup_s = time.time() - self.a.t0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def setup_layers(self) -> dict[str, float]:
        spans = self.tracer.spans
        out = {}
        for name in ("session.get_spark", "catalog.register_views"):
            out[f"{name}_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == name)
        return out


def run_interactive(a: argparse.Namespace) -> tuple[Client, dict, dict]:
    from science_datalake_spark.queries import load_all, load_aux
    from science_datalake_spark.webapp import EXAMPLE_QUERIES, QueryService

    sf_dir = os.path.join(a.prepared, "data")
    with open(os.path.join(a.prepared, "expected.json")) as f:
        expected = json.load(f)
    client = Client(a, sf_dir)
    queries, _ = load_all()
    aux, _ = load_aux()
    registry = {**aux, **queries}
    ops = [("query", name, registry[name]) for name in common.INTERACTIVE_QUERIES]
    ops += [("console", common.console_id(t), EXAMPLE_QUERIES[t]) for t in common.CONSOLE_QUERIES]
    client.setup()
    spark, tracer = client.spark, client.tracer
    service = QueryService(spark)

    def run_op(kind: str, oid: str, payload, tag: str) -> tuple[bool, float]:
        t = time.perf_counter()
        try:
            with tracer.span("op", oid) as rec:
                if kind == "query":
                    with tracer.span("queries.build", oid, f"{tag}|{oid}|build"):
                        df = payload(spark, sf_dir)
                    with tracer.span("exec.fetch", oid, f"{tag}|{oid}|fetch"):
                        # Arrow fetch, no fallback: an Arrow error fails the op
                        pdf = df.toPandas()
                else:
                    with tracer.span("webapp.run", oid, f"{tag}|{oid}|webapp"):
                        res = service.run(payload)
            dt = time.perf_counter() - t
            if kind == "query":
                got, rows = common.digest(pdf), len(pdf)
            elif res.error:
                raise RuntimeError(res.error)
            else:
                got, rows = common.digest_rows(res.columns, res.rows), len(res.rows)
        except Exception:
            # the op boundary: report, count as failed, never retry
            print(f"# op {oid} failed", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return False, time.perf_counter() - t
        ok = got == expected.get(oid)
        if not ok:
            print(f"# op {oid}: result digest differs from the oracle", file=sys.stderr)
        if rec is not None:
            tracer.count_jobs()
            rec["rows"] = rows
            if kind == "query":
                rec["catalyst"] = tracer.catalyst(df)
            tracer.sample_heap()
        return ok, dt

    rng = random.Random(a.seed)

    def run_pass(tag: str) -> tuple[float, dict[str, float]]:
        """All ops once, in a seeded order; (wall time, time per verified op)."""
        t = time.perf_counter()
        times = {}
        for kind, oid, payload in rng.sample(ops, len(ops)):
            ok, dt = run_op(kind, oid, payload, tag)
            client.record(ok)
            if ok:
                times[oid] = dt
        return time.perf_counter() - t, times

    # cold pass: pays JIT warm-up and every session-scoped cache build
    tracer.phase = "cold"
    first_pass_s, first_pass = run_pass("cold")
    # JIT compilation keeps shortening passes for about three passes after
    # the cold one (with one warm-up pass, the last of three timed passes
    # was the fastest in 9 of 10 runs), so these run and are checked but
    # are not timed
    tracer.phase = "warmup"
    warmup = [run_pass(f"pre{i}")[0] for i in range(WARMUP_PASSES)]

    tracer.phase = "warm"
    passes: list[float] = []
    op_times: dict[str, list[float]] = {}
    cpu0 = tr.cpu_times() if a.trace else None
    t_warm = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_warm < a.seconds:
        dt, times = run_pass(f"warm{len(passes)}")
        passes.append(dt)
        for oid, t in times.items():
            op_times.setdefault(oid, []).append(t)
    cpu1 = tr.cpu_times() if a.trace else None

    samples = [t for ts in op_times.values() for t in ts]
    end_to_end = {
        "mix_warm_s": mix_warm(op_times),
        "op_samples": len(samples),
    }
    detail = {
        "first_pass_ops": first_pass,
        "warmup_passes": warmup,
        "warm_passes": passes,
        "op_median_s": {oid: statistics.median(ts) for oid, ts in op_times.items()},
        "op_p50_s": statistics.median(samples) if samples else 0.0,
    }
    layers: dict = {}
    if a.trace:
        layers = _interactive_layers(client, passes, first_pass_s, cpu0, cpu1, detail)
        layers["trace.mix_warm_s"] = end_to_end["mix_warm_s"]
    app_id = spark.sparkContext.applicationId
    spark.stop()
    if a.trace:
        layers.update(
            tr.event_log_metrics(
                client.conf["spark.eventLog.dir"],
                app_id,
                lambda g: g.startswith("warm"),
            )
        )
        for k in tr.EXEC_KEYS:
            layers[k] /= len(passes)
    return client, end_to_end, {"layers": layers, "detail": detail}


def _interactive_layers(client, passes, first_pass_s, cpu0, cpu1, detail) -> dict:
    tracer, spark = client.tracer, client.spark
    n = len(passes)
    spans = tracer.spans
    warm = [s for s in spans if s.get("phase") == "warm"]
    self_t = tr.self_times(spans, lambda s: s.get("phase") == "warm")
    ops = [s for s in warm if s["name"] == "op"]
    op_total = sum(s["end"] - s["start"] for s in ops)
    covered = sum(self_t.get(k, 0.0) for k in ("queries.build", "exec.fetch", "webapp.run"))
    grouped = [s for s in warm if s.get("group")]
    catalyst = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for s in ops:
        for k, v in (s.get("catalyst") or {}).items():
            catalyst[k] += v
    # the 1-row aggregation probe bench.py calls the per-query floor
    region = spark.read.parquet(os.path.join(client.sf_dir, "region.parquet"))
    probes = []
    for _ in range(PROBES):
        t = time.perf_counter()
        region.groupBy("r_name").count().limit(1).collect()
        probes.append(time.perf_counter() - t)
    # one-time costs (session-cache builds, first-use JIT) charged to the op
    # that paid for them in the cold pass
    warm_med = detail["op_median_s"]
    detail["cold_excess_s"] = {
        oid: t - warm_med[oid] for oid, t in detail["first_pass_ops"].items() if oid in warm_med
    }
    detail["span_self_s"] = self_t
    layers = {
        **client.setup_layers(),
        "first_pass_s": first_pass_s,
        "queries.build_s": self_t.get("queries.build", 0.0) / n,
        "queries.build_jobs": sum(s.get("jobs", 0) for s in warm if s["name"] == "queries.build")
        / n,
        "catalyst.analysis_s": catalyst["analysis"] / n,
        "catalyst.optimization_s": catalyst["optimization"] / n,
        "catalyst.planning_s": catalyst["planning"] / n,
        "exec.fetch_s": self_t.get("exec.fetch", 0.0) / n,
        "exec.jobs": sum(s.get("jobs", 0) for s in grouped) / n,
        "exec.stages": sum(s.get("stages", 0) for s in grouped) / n,
        "exec.tasks": sum(s.get("tasks", 0) for s in grouped) / n,
        "exec.result_rows": sum(s.get("rows", 0) for s in ops) / n,
        "webapp.run_s": self_t.get("webapp.run", 0.0) / n,
        "sparql.select_s": sum(
            s["end"] - s["start"] for s in ops if s["op"].startswith("sparql_")
        )
        / n,
        "floor.probe_s": statistics.median(probes),
        "session.heap_peak_mb": tracer.heap_peak_mb,
        "trace.span_coverage": covered / op_total if op_total else 0.0,
        **tr.host_fracs(cpu0, cpu1),
    }
    return layers


def _tree_bytes(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _wrap_pipeline(tracer: tr.Tracer, counts: dict) -> None:
    """Traced run only: span every function ``pipeline`` calls into."""
    import types

    from science_datalake_spark import pipeline

    def wrap(name, fn):
        def inner(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return inner

    class TracedIngest(pipeline.IncrementalJsonIngest):
        def run(self):
            with tracer.span("ingest.run"):
                res = super().run()
            if tracer.phase == "update":
                counts["ingest.files_converted"] += len(res.converted)
                counts["ingest.files_skipped"] += len(res.skipped)
            return res

    pipeline.IncrementalJsonIngest = TracedIngest
    pipeline.compact = wrap("sinks.compact", pipeline.compact)
    pipeline.write_parquet = wrap("sinks.write_parquet", pipeline.write_parquet)
    pipeline.build_unified_papers = wrap("unify.build", pipeline.build_unified_papers)
    sanity = types.ModuleType("sanity")
    sanity.__dict__.update(pipeline.sanity.__dict__)
    sanity.run_core = wrap("sanity.run_core", pipeline.sanity.run_core)
    pipeline.sanity = sanity


def run_lake(a: argparse.Namespace) -> tuple[Client, dict, dict]:
    import lakegen
    from science_datalake_spark import pipeline
    from science_datalake_spark.webapp import QueryService

    with open(os.path.join(a.prepared, "expected.json")) as f:
        golden = json.load(f)["unified_rows"]
    client = Client(a, None)
    client.setup()
    spark, tracer = client.spark, client.tracer
    counts = {"ingest.files_converted": 0, "ingest.files_skipped": 0}
    if a.trace:
        _wrap_pipeline(tracer, counts)
    service = QueryService(spark)
    src = os.path.join(a.scratch, "sources")
    work = os.path.join(a.scratch, "lake")
    dirs = {s: os.path.join(src, s) for s in lakegen.SOURCES}
    for d in dirs.values():
        os.makedirs(d)

    def drop(index: int) -> int:
        """Copy source file ``index`` of every source in; returns its bytes."""
        n = 0
        for s in lakegen.SOURCES:
            name = f"part-{index:04d}.jsonl"
            shutil.copy(os.path.join(a.prepared, "sources", s, name), dirs[s])
            n += os.path.getsize(os.path.join(dirs[s], name))
        return n

    def update(tag: str, expect: int) -> tuple[bool, float, float]:
        """One run_pipeline call plus the readback; (ok, update_s, readback_s)."""
        t = time.perf_counter()
        try:
            with tracer.span("pipeline.run", tag, tag):
                res = pipeline.run_pipeline(spark, dirs, work)
            dt = time.perf_counter() - t
            if a.trace:
                tracer.count_jobs()
            t_rb = time.perf_counter()
            with tracer.span("readback.query", tag):
                rb = service.run("SELECT COUNT(*) AS n FROM unified_papers")
            rt = time.perf_counter() - t_rb
        except Exception:
            print(f"# {tag} failed", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return False, time.perf_counter() - t, 0.0
        checks = {
            "sanity": res.ok,
            "golden": res.unified_rows == expect,
            "readback": not rb.error and rb.rows == [[res.unified_rows]],
        }
        if not all(checks.values()):
            failed = [str(c) for c in res.sanity if not c.passed]
            print(f"# {tag} check failed: {checks} {failed} rows={res.unified_rows} "
                  f"expected={expect} readback={rb.rows or rb.error}", file=sys.stderr)
        return all(checks.values()), dt, rt

    tracer.phase = "build"
    for i in range(lakegen.BASE_FILES):
        drop(i)
    index = lakegen.BASE_FILES
    ok, build_s, _ = update("build", golden[index - 1])
    client.record(ok)

    tracer.phase = "update"
    samples: list[float] = []
    new_bytes: list[int] = []
    written: list[int] = []
    readbacks: list[float] = []
    cpu0 = tr.cpu_times() if a.trace else None
    t_upd = time.perf_counter()
    first = index
    while index < len(golden) and (
        index - first < MIN_UPDATES or time.perf_counter() - t_upd < a.seconds
    ):
        new_bytes.append(drop(index))
        before = _tree_bytes(work) if a.trace else None
        ok, dt, rt = update(f"update{index}", golden[index])
        if a.trace:
            after = _tree_bytes(work)
            written.append(sum(sz for p, (sz, m) in after.items() if before.get(p) != (sz, m)))
        client.record(ok)
        if ok:
            samples.append(dt)
            readbacks.append(rt)
        index += 1
    cpu1 = tr.cpu_times() if a.trace else None

    noop_s = 0.0
    if a.trace:
        # the no-op re-run feeds only a per-layer metric
        tracer.phase = "noop"
        ok, noop_s, _ = update("noop", golden[index - 1])
        client.record(ok)

    end_to_end = {
        "mix_warm_s": mix_warm({"update": samples}) if samples else 0.0,
        "op_samples": len(samples),
    }
    detail = {"updates_s": samples, "build_s": build_s, "noop_s": noop_s}
    layers: dict = {}
    if a.trace:
        n = max(len(samples), 1)
        self_t = tr.self_times(tracer.spans, lambda s: s.get("phase") == "update")
        upd = [s for s in tracer.spans if s.get("phase") == "update" and s["name"] == "pipeline.run"]
        layers = {
            **client.setup_layers(),
            "first_pass_s": build_s,
            "ingest.run_s": self_t.get("ingest.run", 0.0) / n,
            "ingest.files_converted": counts["ingest.files_converted"] / n,
            "ingest.files_skipped": counts["ingest.files_skipped"] / n,
            "sinks.compact_s": self_t.get("sinks.compact", 0.0) / n,
            "sinks.write_parquet_s": self_t.get("sinks.write_parquet", 0.0) / n,
            "sinks.bytes_written": statistics.mean(written),
            "sinks.write_amp": sum(written) / max(sum(new_bytes), 1),
            "unify.build_s": self_t.get("unify.build", 0.0) / n,
            "sanity.run_core_s": self_t.get("sanity.run_core", 0.0) / n,
            "pipeline.jobs_per_update": sum(s.get("jobs", 0) for s in upd) / n,
            "readback.query_s": statistics.median(readbacks) if readbacks else 0.0,
            "pipeline.build_s": build_s,
            "pipeline.noop_s": noop_s,
            "trace.mix_warm_s": end_to_end["mix_warm_s"],
            **tr.host_fracs(cpu0, cpu1),
        }
        detail["span_self_s"] = self_t
        tracer.sample_heap()
        layers["session.heap_peak_mb"] = tracer.heap_peak_mb
    app_id = spark.sparkContext.applicationId
    spark.stop()
    if a.trace:
        layers.update(
            tr.event_log_metrics(
                client.conf["spark.eventLog.dir"],
                app_id,
                lambda g: g.startswith("update"),
            )
        )
        for k in tr.EXEC_KEYS:
            layers[k] /= max(len(samples), 1)
    return client, end_to_end, {"layers": layers, "detail": detail}


def main() -> None:
    a = _args()
    load1 = tr.load1() if a.trace else 0.0
    runner = run_interactive if a.workload == "interactive_sf01" else run_lake
    client, e2e, traced = runner(a)
    attempted, failed = client.attempted, client.failed
    metrics = {
        "setup_s": (client.setup_s, "s"),
        "mix_warm_s": (e2e["mix_warm_s"], "s"),
        "ok_frac": ((attempted - failed) / attempted if attempted else 0.0, "ratio"),
    }
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "op_samples": e2e["op_samples"],
        "setup_s": client.setup_s,
        "passes_s": traced["detail"].get("warm_passes") or traced["detail"].get("updates_s"),
    }
    if a.trace:
        layers = traced["layers"]
        layers["host.load1_start"] = load1
        result["layers"] = layers
        result["detail"] = traced["detail"]
        result["spans"] = [
            {k: s.get(k) for k in ("name", "op", "phase", "parent", "start", "end", "group")}
            for s in client.tracer.spans
        ]
    with open(a.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
