"""SparkSession factory with scale-oriented defaults.

Reference parallel: the reference tunes DuckDB per job (``SET threads=16``,
``memory_limit='200GB'``, ``preserve_insertion_order=false`` —
materialize_unified_papers.py:580-581, materialize_fulltext.py:74). Here the
equivalent knobs are set once on the session and the rest is delegated to
Catalyst + AQE, which re-plans shuffles/joins at runtime — the idiomatic
Spark replacement for hand-budgeted thread/memory splits.

Scale notes (100 TB / 1000 executors):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and broadcast-join demotion/promotion based on observed sizes.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
  coalesces down. On a real cluster this would be set ~2-3x total cores.
- ANSI off: DuckDB's TRY_CAST-everywhere tolerance (SURVEY §1.3) maps to
  non-ANSI casts returning NULL on failure; explicit ``try_*`` functions are
  still used in query code so plans stay correct if ANSI is re-enabled.
- zstd parquet to match the reference's storage format (convert_s2ag.py:37-70).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE sort-merge -> shuffled-hash conversion
    # (maxShuffledHashJoinLocalMapThreshold) was MEASURED AND REVERTED in
    # r15: isolated A/Bs on the sf3 banded interval join read 6.6 ->
    # 5.9 s (plan SortMergeJoin -> ShuffledHashJoin, results
    # hash-identical), but the converted join OOM'd IN-SUITE at sf3
    # ("not enough memory to build hash map", ShuffledHashJoinExec) —
    # an SHJ build cannot spill, and a cap that fits on an idle heap
    # does not fit after 19 heavy queries' caches fragment it. Guide
    # §3.1's stated risk, observed. Sort-merge spills gracefully and
    # stays the default; a join whose build side is bounded by
    # construction hints shuffle_hash itself (rangejoin strategy="keyed").
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # local testing is single-node; partition counts kept moderate so tiny
    # SF inputs don't drown in task overhead. AQE coalesces further.
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # JVM unified logging writes [gc,alloc] WARNINGS to STDOUT under heap
    # pressure (GCLocker retry warnings observed mid-bench at sf3), which
    # breaks any consumer of the process's stdout — bench.py's
    # one-JSON-line contract, the driver's BENCH parse (r12's artifact
    # recorded parsed:null for exactly this reason). Route all JVM
    # unified logging to stderr; Spark's own log4j output goes there
    # already.
    "spark.driver.extraJavaOptions": "-Xlog:all=warning:stderr",
}


def get_spark(app_name: str = "science-datalake-spark", **overrides: str) -> SparkSession:
    """Build (or reuse) the session. ``local[N]`` via $SPARK_GRAFT_CPUS."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf.update({k: str(v) for k, v in overrides.items()})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def suggest_shuffle_partitions(
    sf_dir: str,
    target_bytes: int = 32 * 1024 * 1024,
    floor: int = 8,
    cap: int = 4096,
) -> int:
    """Partition-sizing rule: shuffle partitions ∝ input volume.

    ``sum(input bytes) / target_bytes``, clamped to [floor, cap]. The
    floor keeps small-SF local runs from serializing onto one core-pair;
    the cap bounds scheduler pressure. On a real cluster the same rule is
    applied against the post-filter shuffle volume (AQE then coalesces
    further at runtime); the point is that a FIXED partition count is
    wrong at both ends — 32 partitions drown a 17 MB benchmark in empty
    tasks and would put 3 TB per partition at 100 TB."""
    return max(floor, min(cap, _dir_bytes(sf_dir) // target_bytes))


def _dir_bytes(sf_dir: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def suggest_aqe(sf_dir: str, threshold_bytes: int = 64 * 1024 * 1024) -> str:
    """AQE gate twin of the partition rule: adaptive execution exists to
    RE-PLAN multi-GB shuffles at runtime (coalesce, skew-split, join
    demotion) — but it materializes every exchange as its own scheduled
    job, which is pure overhead when the whole input is a few MB.
    Measured at sf0.1 (17 MB): AQE accounts for roughly half the job
    count of floor-class queries and 15-40% of their wall time; at sf1+
    (256 MB+) it is a wash on the heavies and earns its keep on skew.
    Below ``threshold_bytes`` of input: "false"; at or above: "true".
    On a real cluster input always clears the threshold and AQE is
    always on — this only declutters tiny local runs."""
    return "false" if _dir_bytes(sf_dir) < threshold_bytes else "true"


#: File-scan fan-out floor for small single-file tables. Spark sizes file
#: splits as min(maxPartitionBytes, max(openCostInBytes, bytesPerCore))
#: where bytesPerCore = scan_bytes / defaultParallelism — i.e. every scan
#: ALREADY self-scales toward one split per core, EXCEPT that the default
#: openCostInBytes (4 MB) floors split size, so a 6 MB documents file
#: becomes ~2 splits and a tokenization-bound query runs on 2 of 32
#: cores. Lowering the open cost to 128 KB lets small hot files fan out
#: to ~parallelism splits (bounded by their row-group layout — see
#: tools/gen_scale_fixture.py) while large files keep bytesPerCore-sized
#: splits; the 128 KB still charges something per extra file so a
#: many-tiny-files lake does not explode the task count. Used by
#: bench.py; the 4 MB default is right for real lakes of 128 MB+ files.
SCAN_OPEN_COST_BYTES = 128 * 1024


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
