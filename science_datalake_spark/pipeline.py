"""End-to-end pipeline orchestration — the reference's ``cmd_update``
lifecycle (datalake_cli.py:264-312: download → convert → views →
materialize) as a single-session Spark job graph.

Stages 1-3 run per source, each source's chain on its own thread, all
sources at once (the reference's per-file process pool,
convert_openalex.py:747-751):
1. ingest: NDJSON source dir → parquet shards (incremental, checkpointed);
   the rows written are observed during the shard writes
2. compact: merge NEW shards holding more than one data file (count-verified
   atomic swap); a single-file shard is already compact and stays untouched
3. read: all shards, after crash recovery of any half-swapped compaction,
   under the schema their footers declare (no inference job); the
   source's row count is summed from the same footers
Then, on the calling thread:
4. materialize: unified papers + fulltext dedup → verified parquet
5. validate: the core sanity checks, one action over the read-back table

The reference runs these as subprocesses with per-process DuckDB budgets;
here they are one SparkSession with lazy plans materialized at write
points. Each source chain is a string of small one-task jobs, so running
the chains concurrently is what keeps the local cores busy.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from science_datalake_spark import sanity
from science_datalake_spark.fulltext import unify_fulltext
from science_datalake_spark.sources.incremental import IncrementalJsonIngest
from science_datalake_spark.sources.sinks import (
    compact,
    data_file_count,
    read_parquet,
    write_parquet,
)
from science_datalake_spark.unify import build_unified_papers


def _ingest_source(
    spark: SparkSession, name: str, src: str, work_dir: str, schema: str | None
) -> tuple[DataFrame, int]:
    """Stages 1-3 for one source: (all of its shards, their row count)."""
    out = os.path.join(work_dir, "converted", name)
    ing = IncrementalJsonIngest(
        spark,
        src,
        out,
        os.path.join(work_dir, "checkpoints", f"{name}.json"),
        schema=schema,
    )
    os.makedirs(os.path.dirname(ing.checkpoint_path), exist_ok=True)
    # compact only NEW shards (re-compacting the rest would make a no-op
    # run a full rewrite) written as several files: rewriting one file
    # into one file costs a verified write and changes nothing
    for fname in ing.run().converted:
        shard = os.path.join(out, ing._shard_name(fname))
        if os.path.isdir(shard) and data_file_count(shard) > 1:
            compact(spark, shard, target_files=1)
    return ing.read_all(), ing.rows()


@dataclass
class PipelineResult:
    ingested_rows: dict[str, int] = field(default_factory=dict)
    unified_rows: int = 0
    fulltext_rows: int = 0
    sanity: list[sanity.CheckResult] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return all(c.passed for c in self.sanity)


def run_pipeline(
    spark: SparkSession,
    source_dirs: dict[str, str],
    work_dir: str,
    schemas: dict[str, str] | None = None,
) -> PipelineResult:
    """``source_dirs``: logical name → NDJSON directory for the three big
    sources ('openalex', 's2ag', 'sciscinet') plus optional 'retractions',
    'code_links', 'fulltext'. Outputs land under ``work_dir``.
    """
    schemas = schemas or {}
    result = PipelineResult()
    tables = {}

    # one thread per source; each wrapper is made here, on the calling
    # thread, so its chain's jobs carry this thread's job group and tags,
    # and each chain gets its own copy of the local properties that SQL
    # executions set while they run. Once every chain has stopped, the
    # first failure in source order re-raises below, unwrapped.
    with ThreadPoolExecutor(max_workers=len(source_dirs)) as pool:
        chains = {
            name: pool.submit(
                inheritable_thread_target(spark)(_ingest_source),
                spark, name, src, work_dir, schemas.get(name),
            )
            for name, src in source_dirs.items()
        }
    for name, chain in chains.items():
        tables[name], result.ingested_rows[name] = chain.result()
    for name, df in tables.items():
        df.createOrReplaceTempView(f"raw_{name}")

    unified = build_unified_papers(
        oa=tables["openalex"],
        s2=tables["s2ag"],
        sci=tables["sciscinet"],
        retractions=tables.get("retractions"),
        code_links=tables.get("code_links"),
    )
    unified_path = os.path.join(work_dir, "unified_papers.parquet")
    result.unified_rows = write_parquet(unified, unified_path)
    unified_readback = read_parquet(spark, unified_path)
    unified_readback.createOrReplaceTempView("unified_papers")

    if "fulltext" in tables:
        ft = unify_fulltext(tables["fulltext"])
        result.fulltext_rows = write_parquet(
            ft, os.path.join(work_dir, "fulltext_papers.parquet")
        )

    result.sanity = sanity.run_core(unified_readback)
    return result
