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

import atexit
import contextlib
import hashlib
import os
import shlex
import shutil
import subprocess
import sys

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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
    # already. ``-Xlog:disable`` first: the JVM's default configuration
    # (all=warning on stdout) stays in force otherwise, and the ~600
    # [warning][cds] lines of a class-data archive dump (see
    # ``_class_data_archive``) were measured on stdout and stderr both.
    "spark.driver.extraJavaOptions": "-Xlog:disable -Xlog:all=warning:stderr",
}


def get_spark(app_name: str = "science-datalake-spark", **overrides: str) -> SparkSession:
    """Build (or reuse) the session. ``local[N]`` via $SPARK_GRAFT_CPUS. A
    driver JVM this launches maps a cached class-data archive of Spark's
    classes (``_class_data_archive``)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf.update({k: str(v) for k, v in overrides.items()})
    with _class_data_archive(conf):
        for k, v in conf.items():
            builder = builder.config(k, v)
        return builder.getOrCreate()


#: env vars that can put a directory on the driver's classpath, which a
#: class-data archive refuses
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
#: how long an exiting process waits for its JVM to write a new archive
_DUMP_TIMEOUT_S = 120


@contextlib.contextmanager
def _class_data_archive(conf: dict[str, str]):
    """Give a driver JVM that is about to be launched a JDK class-data
    (AppCDS) archive of the classes it loads, adding the flag to
    ``spark.driver.extraJavaOptions`` in ``conf``.

    The JVM loads ~17,000 classes at start-up and only ~1,200 come from
    the JDK's own archive; the rest are parsed and verified from Spark's
    jars, ~5.5 s of every launch. The archive is one file per key under
    ``$XDG_CACHE_HOME/science_datalake_spark/jvm/``, named
    ``<key>.<size>.jsa``; the key hashes each jar of ``$SPARK_HOME/jars``
    (name, size, ``mtime_ns``), the ``java`` binary and
    ``spark.driver.memory`` (the heap size decides compressed oops).

    - Archive present, at the size it was written at: the JVM maps it. A
      file of another size is deleted first, because JDK 17 maps a
      truncated archive and dies of SIGBUS.
    - Archive absent: the JVM records its classes and writes them to
      ``<key>.jsa.<pid>.tmp`` as it exits. An ``atexit`` hook closes the
      gateway's stdin (on which ``PythonGatewayServer`` exits), waits for
      the JVM and moves the file into place, so no process outlives this
      one.

    A JVM archives only a classpath without non-empty directories, and
    the launcher puts the conf dir on it; while the JVM is launched,
    ``SPARK_CONF_DIR`` points at an empty directory of the cache. The
    launch is left exactly as it was when a JVM is already up, when the
    conf dir holds anything but ``*.template`` files, when a variable in
    ``_CLASSPATH_ENV`` or ``spark.driver.extraClassPath`` is set, and
    when the cache directory is not writable."""
    plan = _archive_plan(conf)
    if plan is None:
        yield
        return
    prefix, empty_conf = plan
    archive = _written_archive(prefix)
    dump = None
    if archive is not None:
        flag = f"-XX:SharedArchiveFile={archive}"
    else:
        _remove_stale_dumps(prefix)
        dump = f"{prefix}.jsa.{os.getpid()}.tmp"
        flag = f"-XX:ArchiveClassesAtExit={dump}"
    opts = conf.get("spark.driver.extraJavaOptions", "")
    conf["spark.driver.extraJavaOptions"] = f"{opts} {shlex.quote(flag)}".strip()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = empty_conf
    try:
        yield
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if dump is not None:
        atexit.register(_finish_dump, SparkContext._gateway.proc, dump, prefix)


def _archive_plan(conf: dict[str, str]) -> tuple[str, str] | None:
    """``(archive path prefix, empty conf dir)`` for a JVM about to be
    launched, or None when the launch must stay as it is (see
    ``_class_data_archive``)."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    if any(os.environ.get(v) for v in _CLASSPATH_ENV) or conf.get(
        "spark.driver.extraClassPath"
    ):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and any(
        not n.endswith(".template") for n in os.listdir(conf_dir)
    ):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        return None
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "science_datalake_spark",
        "jvm",
    )
    empty_conf = os.path.join(cache, "conf")
    with contextlib.suppress(OSError):
        os.makedirs(empty_conf, exist_ok=True)
    if not os.access(cache, os.W_OK):
        print(f"# class-data archive skipped: {cache} is not writable", file=sys.stderr)
        return None
    key = _archive_key(
        os.path.join(spark_home, "jars"), java, conf.get("spark.driver.memory", "")
    )
    return os.path.join(cache, key), empty_conf


def _archive_key(jars_dir: str, java: str, driver_memory: str) -> str:
    h = hashlib.sha256()
    with os.scandir(jars_dir) as entries:
        for e in sorted(entries, key=lambda e: e.name):
            st = e.stat()
            h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    java = os.path.realpath(java)
    st = os.stat(java)
    h.update(f"{java}\0{st.st_size}\0{st.st_mtime_ns}\n{driver_memory}".encode())
    return h.hexdigest()[:32]


def _written_archive(prefix: str) -> str | None:
    """The complete ``<prefix>.<size>.jsa``, deleting any whose size is not
    the one in its name."""
    folder, key = os.path.split(prefix)
    for name in os.listdir(folder):
        parts = name.split(".")
        if len(parts) != 3 or parts[0] != key or parts[2] != "jsa":
            continue
        path = os.path.join(folder, name)
        with contextlib.suppress(FileNotFoundError):
            if str(os.path.getsize(path)) == parts[1]:
                return path
            os.remove(path)
    return None


def _remove_stale_dumps(prefix: str) -> None:
    """Delete ``<prefix>.jsa.<pid>.tmp`` files whose process has died."""
    folder, key = os.path.split(prefix)
    for name in os.listdir(folder):
        pid = name[len(key) + len(".jsa.") : -len(".tmp")]
        if not (name.startswith(f"{key}.jsa.") and name.endswith(".tmp") and pid.isdigit()):
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(folder, name))
        except PermissionError:
            pass


def _finish_dump(proc: subprocess.Popen, dump: str, prefix: str) -> None:
    """At interpreter exit: end the gateway JVM, let it write its archive
    to ``dump``, and move a complete archive into place."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        # first, as at any orderly end: a JVM that exits under a live
        # context breaks the accumulator server's connection mid-read
        sc.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=_DUMP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    if proc.returncode == 0 and os.path.isfile(dump):
        os.replace(dump, f"{prefix}.{os.path.getsize(dump)}.jsa")
    else:
        with contextlib.suppress(FileNotFoundError):
            os.remove(dump)


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
