"""Checkpointed incremental ingest (SURVEY §2.1 S15).

Re-expresses the reference's JSON-checkpoint bookkeeping
(convert_openalex.py:616-660,776-787,1299-1346): a checkpoint maps each
source file to (size, mtime); only new/changed files are converted on the
next run; each converted file becomes one output shard so a partial run is
resumable at file granularity.

Spark-first note: for streams of files the idiomatic form is the
Structured Streaming file source, whose checkpoint dir subsumes this
bookkeeping. This batch variant exists because the
reference's pipelines are batch re-runs over a growing snapshot directory,
and because it gives compaction (sinks.compact) a defined shard layout.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class IngestResult:
    converted: list[str]
    skipped: list[str]
    #: rows written to this run's new shards, observed during their writes
    rows_written: int


class IncrementalJsonIngest:
    """NDJSON directory → parquet shard directory, file-incremental.

    Row counts cost no extra scan: ``run`` observes the rows flowing into
    each shard write (one job per converted file, plus one schema-inference
    job when no schema is declared), and ``rows`` sums the shards' parquet
    footers."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        output_dir: str,
        checkpoint_path: str,
        schema: StructType | None = None,
        pattern: str = r".*\.(json|jsonl|ndjson)(\.gz)?$",
    ) -> None:
        self.spark = spark
        self.source_dir = source_dir
        self.output_dir = output_dir
        self.checkpoint_path = checkpoint_path
        self.schema = schema
        self.pattern = re.compile(pattern)

    # -- checkpoint bookkeeping ------------------------------------------
    def _load_checkpoint(self) -> dict[str, dict]:
        if os.path.exists(self.checkpoint_path):
            with open(self.checkpoint_path) as f:
                return json.load(f)
        return {}

    def _save_checkpoint(self, state: dict[str, dict]) -> None:
        tmp = self.checkpoint_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=2, sort_keys=True)
        os.replace(tmp, self.checkpoint_path)

    def _signature(self, path: str) -> dict:
        st = os.stat(path)
        return {"size": st.st_size, "mtime": st.st_mtime}

    def _shard_name(self, filename: str) -> str:
        return re.sub(r"[^A-Za-z0-9_.-]", "_", filename) + ".parquet"

    # -- the run ----------------------------------------------------------
    def run(self) -> IngestResult:
        """Convert new/changed files; skip unchanged (size+mtime match)."""
        from science_datalake_spark.sources.json_source import read_ndjson
        from science_datalake_spark.sources.sinks import _observe_rows

        state = self._load_checkpoint()
        converted: list[str] = []
        skipped: list[str] = []
        rows = 0
        os.makedirs(self.output_dir, exist_ok=True)
        for fname in sorted(os.listdir(self.source_dir)):
            if not self.pattern.match(fname):
                continue
            path = os.path.join(self.source_dir, fname)
            sig = self._signature(path)
            if state.get(fname) == sig:
                skipped.append(fname)
                continue
            df = read_ndjson(self.spark, path, schema=self.schema)
            if not df.schema.fields:
                # empty file / no inferable columns → nothing to convert,
                # but checkpoint it so it isn't re-examined every run
                state[fname] = sig
                self._save_checkpoint(state)
                skipped.append(fname)
                continue
            shard = os.path.join(self.output_dir, self._shard_name(fname))
            out, obs = _observe_rows(df)
            out.write.mode("overwrite").option("compression", "zstd").parquet(shard)
            rows += obs.get["rows"]
            state[fname] = sig
            self._save_checkpoint(state)  # per-file, resumable mid-run
            converted.append(fname)
        return IngestResult(converted=converted, skipped=skipped, rows_written=rows)

    def _shards(self) -> list[str]:
        """The shard directories ``read_all`` reads. A crash in
        ``sinks.compact``'s swap can leave a converted shard only in
        ``__old-*``/``__compact-*`` orphans; those shards are recovered
        first (``sinks.recover_shard`` raises if one cannot be)."""
        from science_datalake_spark.sources.sinks import orphaned_shards, recover_shard

        for shard in orphaned_shards(self.output_dir):
            recover_shard(shard)
        return [
            os.path.join(self.output_dir, d)
            for d in sorted(os.listdir(self.output_dir))
            if d.endswith(".parquet")
        ]

    def read_all(self) -> DataFrame:
        """All shards as one DataFrame (schema union across shards; shards
        whose footers agree are read under that schema, with no inference
        job). With no shard yet (no source file, or only files with no
        inferable column) it is an empty frame of the declared schema, if
        any."""
        from science_datalake_spark.sources.sinks import read_parquet

        shards = self._shards()
        if not shards:
            return self.spark.createDataFrame([], self.schema or StructType())
        return read_parquet(self.spark, shards, merge_schema=True)

    def rows(self) -> int:
        """``read_all().count()`` from the shards' parquet footers, without
        a Spark job."""
        from science_datalake_spark.sources.sinks import footer_rows

        return footer_rows(self._shards())
