"""Parquet sinks with verification, and shard compaction (SURVEY §2.1
S12-S14).

Reference parallels:
- tuned writes: ``COPY ... (FORMAT PARQUET, COMPRESSION zstd,
  COMPRESSION_LEVEL 3, ROW_GROUP_SIZE n)`` with per-table-shape row groups
  (10K fat text rows ... 500K narrow edges, convert_s2ag.py:37-70)
- count verification after every COPY (convert_openalex.py:819-821)
- compaction with count-verify + atomic tmp-rename + crash recovery
  (convert_openalex.py:1422-1511)

Spark-first notes: multi-part output (one file per task) IS the scalable
default — the reference's PER_THREAD_OUTPUT (S13). ``single_file=True``
coalesces to 1 task, only for small dims. Atomicity: Spark's commit
protocol stages to ``_temporary`` and renames on job commit, so the
reference's hand-rolled tmp-dance is only needed for the REPLACE step of
compaction, where we keep it (write-new → verify → swap).

Verification contract (``write_parquet``, ``compact``): an ``Observation``
counts the rows the plan hands to the writer, in the write's own job; the
written files are read back and counted, and any difference raises
``RuntimeError`` (``compact`` then does not swap). A separate ``count()``
would re-run the whole plan being written just to check it. Spark 4.1
caveat: after its first Observation a session can no longer be serialized
(``SparkSession.observationManager`` is not transient), so nothing may
carry the session into a task closure (see quality_model's LR summary).
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

#: Row-group byte targets per table shape (parquet.block.size).
ROW_GROUP_FAT_TEXT = 8 * 1024 * 1024
ROW_GROUP_DEFAULT = 128 * 1024 * 1024
#: ``compact``'s tmp (``__compact-``) and backup (``__old-``) dirs of a shard.
_ORPHAN = re.compile(r"(.+)__(?:old|compact)-[0-9a-f]+$")


def _observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter riding along its next action."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def write_parquet(
    df: DataFrame,
    path: str,
    compression: str = "zstd",
    row_group_bytes: int = ROW_GROUP_DEFAULT,
    single_file: bool = False,
) -> int:
    """Write + count verification. Returns the verified row count: the rows
    read back from the written files, which must equal the rows observed
    flowing into the write (else ``RuntimeError``)."""
    out, obs = _observe_rows(df)
    if single_file:
        out = out.coalesce(1)
    (
        out.write.mode("overwrite")
        .option("compression", compression)
        .option("parquet.block.size", str(row_group_bytes))
        .parquet(path)
    )
    written = df.sparkSession.read.parquet(path).count()
    expected = obs.get["rows"]
    if written != expected:
        raise RuntimeError(f"write verification failed: {written} != {expected}")
    return written


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    cluster_cols: Sequence[str] = (),
    compression: str = "zstd",
) -> None:
    """Hive-partitioned write with optional within-partition clustering.

    - ``partition_cols`` → directory partitioning: partition pruning makes
      selective reads skip entire directories (the reference's OpenAlex
      snapshot is date-partitioned the same way, convert_openalex.py:607-613).
    - ``cluster_cols`` → range-repartition + sortWithinPartitions before
      write: parquet row-group min/max stats then skip row groups on
      point/range lookups — the Z-ORDER/`CREATE INDEX idx_doi` analogue
      (create_unified_db.py:579-583) without an index structure.
    """
    out = df
    if cluster_cols:
        out = df.repartitionByRange(*[F.col(c) for c in cluster_cols]).sortWithinPartitions(
            *cluster_cols
        )
    (
        out.write.mode("overwrite")
        .option("compression", compression)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def data_file_count(table_dir: str) -> int:
    """Data files directly in a parquet table directory (Spark's commit
    markers and checksum files — ``_``/``.``-prefixed — excluded)."""
    return sum(1 for f in os.listdir(table_dir) if not f.startswith(("_", ".")))


def orphaned_shards(parent: str) -> list[str]:
    """Shards under ``parent`` with ``compact`` orphans beside them or in
    their place (``<shard>__old-*``/``<shard>__compact-*``)."""
    found = {m.group(1) for d in os.listdir(parent) if (m := _ORPHAN.match(d))}
    return [os.path.join(parent, b) for b in sorted(found)]


def recover_shard(shard_dir: str) -> None:
    """Crash recovery for ``compact``'s swap (the reference's recovery
    path, convert_openalex.py:1536-1552): restore a missing ``shard_dir``
    from its orphan, then delete the remaining ``__old-*``/``__compact-*``
    orphans. Raises ``FileNotFoundError`` if the shard is missing and no
    orphan can take its place.

    Crash windows: a crash between the two swap renames leaves NO
    shard_dir — the data survives only in ``__old-*`` (the original) or
    ``__compact-*`` (the verified copy). Recovery must therefore rename an
    orphan back into place BEFORE deleting orphans; unconditionally
    deleting them first would destroy the only copies."""
    parent = os.path.dirname(shard_dir.rstrip("/")) or "."
    base = os.path.basename(shard_dir.rstrip("/"))
    # tmp/backup names must NOT start with '.' — Spark's hidden-path filter
    # refuses to read dot-prefixed directories even as the read root
    orphans = [
        s
        for s in sorted(os.listdir(parent))
        if s.startswith(f"{base}__old-") or s.startswith(f"{base}__compact-")
    ]
    if not os.path.exists(shard_dir):
        # prefer the original (__old-*) — it is always complete; a
        # __compact-* orphan may predate its count verification
        candidates = [s for s in orphans if s.startswith(f"{base}__old-")] or orphans
        if not candidates:
            raise FileNotFoundError(
                f"{shard_dir} missing and no __old-/__compact- orphan to recover"
            )
        os.rename(os.path.join(parent, candidates[0]), shard_dir)
        orphans.remove(candidates[0])
    for stale in orphans:
        shutil.rmtree(os.path.join(parent, stale), ignore_errors=True)


def compact(
    spark: SparkSession,
    shard_dir: str,
    target_files: int = 1,
    compression: str = "zstd",
) -> int:
    """Merge a shard directory in place: write compacted copy (rows
    observed on the way) → verify the read-back count → atomic swap;
    orphaned tmp dirs from a crash are recovered or removed first
    (``recover_shard``). Refuses to swap on count mismatch."""
    recover_shard(shard_dir)
    parent = os.path.dirname(shard_dir.rstrip("/"))
    base = os.path.basename(shard_dir.rstrip("/"))
    # observed AFTER the shuffle: the counter sits in the write stage,
    # whose task results are applied once per partition
    out, obs = _observe_rows(spark.read.parquet(shard_dir).repartition(target_files))
    tmp = os.path.join(parent, f"{base}__compact-{uuid.uuid4().hex[:8]}")
    (
        out.write.mode("overwrite")
        .option("compression", compression)
        .parquet(tmp)
    )
    actual = spark.read.parquet(tmp).count()
    expected = obs.get["rows"]
    if actual != expected:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"compaction verification failed: {actual} != {expected}")
    backup = os.path.join(parent, f"{base}__old-{uuid.uuid4().hex[:8]}")
    os.rename(shard_dir, backup)
    os.rename(tmp, shard_dir)
    shutil.rmtree(backup, ignore_errors=True)
    return actual


def upsert_parquet(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_col: str | None = None,
) -> int:
    """Keyed MERGE into a Parquet table: incoming rows REPLACE existing
    rows with the same key, new keys insert, untouched rows survive —
    the incremental-refresh primitive (re-materialize only this month's
    unified_papers slice instead of rebuilding the table; the
    reference's answer is a full rebuild, materialize_unified_papers.py).
    Returns the post-merge row count of the rewritten scope.

    Two scopes, one contract:
    - ``partition_col`` given (the table is/becomes Hive-partitioned by
      it): only the partitions PRESENT IN ``df`` are read, merged, and
      swapped — O(touched partitions), not O(table). Each partition
      directory swaps atomically (write-new → verify → rename); the
      table is consistent per partition, the batch is not one global
      transaction (document-level truth: Parquet has no table log; for
      cross-partition transactionality use a table format with a commit
      log). CONTRACT: keys must be partition-stable — a key's
      ``partition_col`` value must never change between upserts. Only
      the batch's own partitions are read, so a key that migrates
      partitions leaves its old row alive in the previous partition
      (duplicate key across partitions). Migrating keys need the
      whole-table path (``partition_col=None``) or a delete-first step;
      this is not detectable here without reading every partition,
      which would defeat the O(touched) scope.
    - no ``partition_col``: whole-table merge with the compact() swap
      discipline (count-verified, rename-atomic, crash-recoverable via
      the same __old- orphan rule).

    Incoming keys must be unique (asserted — duplicate incoming keys
    make "replace" ambiguous). Keys may not include nulls on the merge
    path (anti-join semantics would silently keep both rows).
    """
    keys = list(keys)
    if df.select(*keys).distinct().count() != df.count():
        raise ValueError("upsert batch has duplicate keys")
    if partition_col is not None and partition_col not in df.columns:
        raise ValueError(f"partition_col {partition_col!r} not in batch")

    writer_cols = df.columns

    def write_dir(frame: DataFrame, target: str) -> None:
        w = frame.select(*writer_cols).write.mode("overwrite")
        w.parquet(target)

    if not os.path.exists(path):
        if partition_col is None:
            write_dir(df, path)
            return df.count()
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
        return df.count()

    if partition_col is None:
        existing = spark.read.parquet(path)
        kept = existing.join(df.select(*keys), on=keys, how="left_anti")
        merged = kept.unionByName(df.select(*existing.columns))
        tmp = f"{path}__compact-{uuid.uuid4().hex[:8]}"
        write_dir(merged, tmp)
        merged_count = spark.read.parquet(tmp).count()
        expected = kept.count() + df.count()
        if merged_count != expected:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"upsert verification failed: {merged_count} != {expected}"
            )
        backup = f"{path}__old-{uuid.uuid4().hex[:8]}"
        os.rename(path, backup)
        os.rename(tmp, path)
        shutil.rmtree(backup, ignore_errors=True)
        return merged_count

    # partition-scoped: merge + swap each touched partition directory.
    # Partition values must be filesystem-safe scalars (ints, clean
    # strings) — this sink does not Hive-escape exotic values.
    parts = [
        r[0] for r in df.select(partition_col).distinct().collect()
    ]  # bounded: the batch's own partition count
    total = 0
    merge_keys = [k for k in keys if k != partition_col]
    data_cols = [c for c in writer_cols if c != partition_col]
    for p in sorted(parts):
        part_dir = os.path.join(path, f"{partition_col}={p}")
        incoming = df.filter(F.col(partition_col) == p).select(*data_cols)
        incoming_count = incoming.count()
        exists = os.path.exists(part_dir)
        if exists:
            # read the partition DIRECTORY directly: a fresh file
            # listing per swap (the root-table index would go stale as
            # the loop renames sibling partitions)
            current = spark.read.parquet(part_dir).select(*data_cols)
            kept = current.join(
                incoming.select(*merge_keys), on=merge_keys, how="left_anti"
            )
            merged = kept.unionByName(incoming)
            expected = kept.count() + incoming_count
        else:
            merged = incoming
            expected = incoming_count
        # tmp lives OUTSIDE the table root (sibling, like compact's):
        # inside it, root readers would trip partition discovery, and
        # dot-prefixed dirs cannot be read back even as a read root
        tmp = f"{path}__upsertpart-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(tmp)
        n = spark.read.parquet(tmp).count()
        if n != expected:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"upsert verification failed for {partition_col}={p}: "
                f"{n} != {expected}"
            )
        if exists:
            backup = f"{path}__old-{uuid.uuid4().hex[:8]}"
            os.rename(part_dir, backup)
            os.rename(tmp, part_dir)
            shutil.rmtree(backup, ignore_errors=True)
        else:
            os.rename(tmp, part_dir)
        total += n
    return total
