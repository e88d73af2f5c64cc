"""Workload definitions, cache layout and result digests shared by the
preparation and measuring processes."""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pandas as pd

#: Registry queries of the ``interactive_sf01`` mix: one cheap query per
#: family (events, SPARQL, text, dedup, similarity, corpus). Every one has a
#: DuckDB oracle that finishes in under a second at sf0.1. The unify family
#: runs on ``lake_update`` instead: its session cache costs ~10 s in the
#: cold pass, which the run budget spends on warm-up passes.
INTERACTIVE_QUERIES = (
    "events_gap_stats",
    "sparql_bgp_children",
    "text_quality_gate",
    "dedup_exact",
    "sim_cosine_topk",
    "corpus_token_mix",
)
#: ``webapp.EXAMPLE_QUERIES`` run through ``QueryService.run``: a join, an
#: aggregation and a convenience-view scan, for the TPC-H-style SQL family.
#: With the six queries above a warm pass takes about 4 s on 4 cores.
CONSOLE_QUERIES = (
    "Top 10 customers by revenue",
    "Order status by year",
    "Recent high-value orders (convenience view)",
)
INTERACTIVE_SF = 0.1

#: lake_update: papers per NDJSON file and the number of files held back as
#: deltas (more than a run can use, so the loop is bounded by time)
LAKE_PAPERS_PER_FILE = 2000
LAKE_DELTAS = 10

WORKLOADS = ("interactive_sf01", "lake_update")

#: prepared inputs kept per workload; older seeds are evicted
CACHE_KEEP = 6


def cache_root(root: str) -> str:
    return os.path.join(root, ".perfbench_cache")


def prepared_dir(root: str, workload: str, seed: int) -> str:
    """Cache directory keyed by workload, scale, seed and a hash of the
    sources that decide the prepared inputs, so an edited generator or op
    list never reuses stale inputs or expected results."""
    h = hashlib.sha256(repr((INTERACTIVE_QUERIES, CONSOLE_QUERIES, LAKE_DELTAS)).encode())
    for name in ("fixture.py", "lakegen.py", "prepare.py"):
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), name), "rb") as f:
            h.update(f.read())
    if workload == "interactive_sf01":
        key = f"sf{INTERACTIVE_SF}-seed{seed}"
    else:
        key = f"p{LAKE_PAPERS_PER_FILE}-seed{seed}"
    return os.path.join(cache_root(root), workload, f"{key}-{h.hexdigest()[:12]}")


def evict(root: str, workload: str, keep: str) -> None:
    """Drop all but the ``CACHE_KEEP`` most recently used prepared inputs."""
    parent = os.path.join(cache_root(root), workload)
    entries = sorted(
        (os.path.join(parent, d) for d in os.listdir(parent)),
        key=os.path.getmtime,
        reverse=True,
    )
    for path in entries[CACHE_KEEP:]:
        if path != keep:
            shutil.rmtree(path, ignore_errors=True)


def console_id(title: str) -> str:
    return "console." + "".join(c if c.isalnum() else "_" for c in title.lower()).strip("_")


def digest(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result under ``oracle._canon`` semantics
    (columns sorted by name, cells stringified, rows sorted)."""
    from science_datalake_spark.oracle import _canon

    canon = _canon(df)
    payload = json.dumps([list(canon.columns), canon.values.tolist()])
    return hashlib.sha256(payload.encode()).hexdigest()


def digest_rows(columns: list[str], rows: list[list[object]]) -> str:
    return digest(pd.DataFrame(rows, columns=columns))


#: end-to-end metrics printed with --trace 0 (BENCHMARK.json "end_to_end")
END_TO_END = ("setup_s", "mix_warm_s", "ok_frac")

#: per-layer metrics printed with --trace 1 (BENCHMARK.json "per_layer");
#: a layer a workload does not exercise reads 0
PER_LAYER = {
    "session.get_spark_s": "s",
    "catalog.register_views_s": "s",
    "first_pass_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.fetch_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.result_rows": "count",
    "webapp.run_s": "s",
    "sparql.select_s": "s",
    "floor.probe_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_run_s": "s",
    "exec.jvm_gc_s": "s",
    "session.heap_peak_mb": "MiB",
    "ingest.run_s": "s",
    "ingest.files_converted": "count",
    "ingest.files_skipped": "count",
    "sinks.compact_s": "s",
    "sinks.write_parquet_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.write_amp": "ratio",
    "unify.build_s": "s",
    "sanity.run_core_s": "s",
    "pipeline.jobs_per_update": "count",
    "readback.query_s": "s",
    "pipeline.build_s": "s",
    "pipeline.noop_s": "s",
    "trace.mix_warm_s": "s",
    "trace.span_coverage": "ratio",
    "host.steal_frac": "ratio",
    "host.idle_frac": "ratio",
    "host.load1_start": "load",
}
