"""End-to-end pipeline: NDJSON sources → incremental ingest → compaction →
unification → sanity — the reference's cmd_update lifecycle in one run."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest

from science_datalake_spark import pipeline
from science_datalake_spark.pipeline import run_pipeline
from science_datalake_spark.sources.sinks import data_file_count
from tests import fixtures


def _dump_ndjson(df, path, n_files=2):
    """Write a DataFrame as NDJSON files (simulating raw source dumps)."""
    rows = [json.loads(r) for r in df.toJSON().collect()]
    path.mkdir(parents=True)
    per = max(1, len(rows) // n_files + 1)
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        with open(path / f"part-{i}.jsonl", "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")


def test_full_pipeline(spark, tmp_path):
    _dump_ndjson(fixtures.works_b(spark), tmp_path / "src" / "openalex")
    _dump_ndjson(fixtures.papers_a(spark), tmp_path / "src" / "s2ag")
    _dump_ndjson(fixtures.metrics_c(spark), tmp_path / "src" / "sciscinet")
    _dump_ndjson(fixtures.retractions(spark), tmp_path / "src" / "retractions")
    _dump_ndjson(fixtures.code_links(spark), tmp_path / "src" / "code_links")
    _dump_ndjson(fixtures.fulltext_src(spark), tmp_path / "src" / "fulltext")

    result = run_pipeline(
        spark,
        {
            "openalex": str(tmp_path / "src" / "openalex"),
            "s2ag": str(tmp_path / "src" / "s2ag"),
            "sciscinet": str(tmp_path / "src" / "sciscinet"),
            "retractions": str(tmp_path / "src" / "retractions"),
            "code_links": str(tmp_path / "src" / "code_links"),
            "fulltext": str(tmp_path / "src" / "fulltext"),
        },
        str(tmp_path / "lake"),
    )
    assert result.ingested_rows["openalex"] == 351
    assert result.ingested_rows["s2ag"] == 301
    # same golden count as the in-memory unify test — the NDJSON roundtrip
    # (JSON nulls, nested structs) must not change semantics
    assert result.unified_rows == 221
    assert result.fulltext_rows == 60
    for c in result.sanity:
        print(c)
    assert result.ok, [str(c) for c in result.sanity if not c.passed]

    # the view layer is queryable afterwards (the reference's query surface)
    n = spark.sql(
        "SELECT count(*) AS n FROM unified_papers WHERE has_retraction"
    ).first()["n"]
    assert n == 1

    # idempotent re-run: checkpoint skips everything, counts unchanged
    result2 = run_pipeline(
        spark,
        {
            "openalex": str(tmp_path / "src" / "openalex"),
            "s2ag": str(tmp_path / "src" / "s2ag"),
            "sciscinet": str(tmp_path / "src" / "sciscinet"),
        },
        str(tmp_path / "lake"),
    )
    assert result2.unified_rows == 221


def test_cli_update_subcommand(spark, tmp_path, capsys):
    """`science-datalake-spark update` — the reference's headline CLI
    lifecycle — wires run_pipeline end-to-end: per-source staging report,
    count-verified materialization, sanity gate driving the exit code."""
    from science_datalake_spark.cli import main

    _dump_ndjson(fixtures.works_b(spark), tmp_path / "cli_src" / "openalex")
    _dump_ndjson(fixtures.papers_a(spark), tmp_path / "cli_src" / "s2ag")
    _dump_ndjson(fixtures.metrics_c(spark), tmp_path / "cli_src" / "sciscinet")

    rc = main(
        [
            "update",
            "--work-dir", str(tmp_path / "cli_lake"),
            "--openalex", str(tmp_path / "cli_src" / "openalex"),
            "--s2ag", str(tmp_path / "cli_src" / "s2ag"),
            "--sciscinet", str(tmp_path / "cli_src" / "sciscinet"),
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0, out
    assert "unified_papers: 221 rows" in out
    assert "sanity FAIL" not in out
    assert (tmp_path / "cli_lake" / "unified_papers.parquet").exists()


_SOURCES = {
    "openalex": fixtures.works_b,
    "s2ag": fixtures.papers_a,
    "sciscinet": fixtures.metrics_c,
}


def _incremental_lake(spark, tmp_path):
    """Each source split in two NDJSON files; only part-0 is in place and
    converted. Returns (source dirs, lake dir, base run result)."""
    dirs = {}
    for name, make in _SOURCES.items():
        _dump_ndjson(make(spark), tmp_path / "staged" / name)
        dirs[name] = str(tmp_path / "src" / name)
        os.makedirs(dirs[name])
        shutil.copy(tmp_path / "staged" / name / "part-0.jsonl", dirs[name])
    lake = str(tmp_path / "lake")
    return dirs, lake, run_pipeline(spark, dirs, lake)


def _drop_part1(tmp_path, dirs):
    for name, d in dirs.items():
        shutil.copy(tmp_path / "staged" / name / "part-1.jsonl", d)


def _file_stats(root):
    stats = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            stats[os.path.join(d, f)] = (st.st_ino, st.st_mtime_ns)
    return stats


def test_incremental_update_grows_and_keeps_old_shards(spark, tmp_path, monkeypatch):
    """A second NDJSON file per source, then a re-run: counts grow to the
    full-data goldens, single-file shards are never compacted (nor
    rewritten by the re-run), and a new shard written as several files is
    compacted to one."""
    compacted = []
    real_compact = pipeline.compact

    def recording_compact(spark_, shard, **kw):
        before = data_file_count(shard)
        n = real_compact(spark_, shard, **kw)
        compacted.append((os.path.basename(shard), before, data_file_count(shard)))
        return n

    monkeypatch.setattr(pipeline, "compact", recording_compact)
    dirs, lake, base = _incremental_lake(spark, tmp_path)
    assert base.ingested_rows == {"openalex": 176, "s2ag": 151, "sciscinet": 126}
    assert base.unified_rows == 176 and base.ok
    old_shards = [os.path.join(lake, "converted", name, "part-0.jsonl.parquet") for name in dirs]
    assert [data_file_count(d) for d in old_shards] == [1, 1, 1]
    assert compacted == []
    old = {d: _file_stats(d) for d in old_shards}

    _drop_part1(tmp_path, dirs)
    # small read splits: every new NDJSON file converts to a multi-file shard
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8k")
    try:
        result = run_pipeline(spark, dirs, lake)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")

    assert result.ingested_rows == {"openalex": 351, "s2ag": 301, "sciscinet": 251}
    assert result.unified_rows == 221
    assert result.ok, [str(c) for c in result.sanity if not c.passed]
    assert len(compacted) == 3
    assert all(name == "part-1.jsonl.parquet" and before > 1 and after == 1
               for name, before, after in compacted), compacted
    for d in old_shards:
        assert _file_stats(d) == old[d], f"{d} rewritten"


#: Spark jobs of one incremental update below (3 sources, one new
#: single-file shard each), measured at 15: per source the new file's
#: NDJSON schema inference and its shard write (6); then the unify write
#: with its read-back count and the one sanity action, run by AQE as 9
#: stage jobs. No parquet read infers a schema: the shards, the read-back
#: and the unified view declare theirs from footers. Row counts cost no
#: job: the shard writes are observed and ``ingested_rows`` is summed
#: from parquet footers.
UPDATE_JOB_BUDGET = 15
#: The three new shards alone take 6 jobs (inference + write each). Fewer
#: means some source chain ran outside the caller's job group — e.g. a
#: worker thread that did not inherit it — and the budget is not checked.
UPDATE_JOB_FLOOR = 6


def test_incremental_update_job_budget(spark, tmp_path):
    """An extra hidden action on the write path (a recount, a re-run
    compaction, a per-check scan) shows up here as a failure."""
    dirs, lake, _ = _incremental_lake(spark, tmp_path)
    _drop_part1(tmp_path, dirs)
    sc = spark.sparkContext
    group = f"pipeline-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one incremental run_pipeline update")
    try:
        result = run_pipeline(spark, dirs, lake)
    finally:
        sc.setJobGroup(None, None)
    assert result.unified_rows == 221 and result.ok
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert UPDATE_JOB_FLOOR <= jobs <= UPDATE_JOB_BUDGET, jobs


def test_missing_source_dir_raises_its_error(spark, tmp_path):
    """A source chain's failure on its worker thread reaches the caller as
    that chain's own exception, not wrapped and not swallowed, and the
    other chains still finish their ingest."""
    dirs = {}
    for name, make in _SOURCES.items():
        dirs[name] = str(tmp_path / "src" / name)
        _dump_ndjson(make(spark), tmp_path / "src" / name)
    dirs["s2ag"] = str(tmp_path / "src" / "no-such-dir")
    lake = tmp_path / "lake"
    with pytest.raises(FileNotFoundError) as err:
        run_pipeline(spark, dirs, str(lake))
    assert err.value.filename == dirs["s2ag"]
    assert sorted(os.listdir(lake / "checkpoints")) == ["openalex.json", "sciscinet.json"]
