"""Ingest layer tests: NDJSON reads, sinks with verification, compaction,
incremental checkpointing."""

from __future__ import annotations

import gzip
import json
import os

import pyspark.sql.functions as F
import pytest

from science_datalake_spark.sources.incremental import IncrementalJsonIngest
from science_datalake_spark.sources.json_source import inline_table, read_ndjson
from science_datalake_spark.sources.sinks import compact, data_file_count, write_parquet


def _write_ndjson(path, records, gz=False):
    opener = gzip.open if gz else open
    with opener(path, "wt") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def test_ndjson_inferred_and_declared(spark, tmp_path):
    p = str(tmp_path / "a.json.gz")
    _write_ndjson(p, [{"id": 1, "t": "x"}, {"id": 2, "t": "y", "extra": True}], gz=True)
    inferred = read_ndjson(spark, p)
    assert inferred.count() == 2 and "extra" in inferred.columns
    declared = read_ndjson(spark, p, schema="id LONG, t STRING")
    assert declared.select("id", "t").count() == 2


def test_ndjson_permissive_corrupt(spark, tmp_path):
    p = str(tmp_path / "bad.json")
    with open(p, "w") as f:
        f.write('{"id": 1}\nNOT JSON AT ALL\n{"id": 3}\n')
    df = read_ndjson(spark, p, schema="id LONG, _corrupt_record STRING")
    rows = df.collect()
    assert len(rows) == 3
    assert sum(1 for r in rows if r["_corrupt_record"] is not None) == 1


def test_inline_table(spark):
    df = inline_table(spark, [("s2ag", 2019), ("openalex", 2024)], "source STRING, until INT")
    assert df.count() == 2


def test_write_verify_and_compact(spark, tmp_path):
    out = str(tmp_path / "t.parquet")
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    n = write_parquet(df.repartition(8), out)
    assert n == 1000
    n_files = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_files >= 2
    assert compact(spark, out, target_files=1) == 1000
    assert len([f for f in os.listdir(out) if f.endswith(".parquet")]) == 1
    assert spark.read.parquet(out).count() == 1000


def test_ensure_columns_pads_drifted_shards(spark, tmp_path):
    """Declared extraction over shards with drifted schemas: the old shard
    lacks columns the extraction references; ensure_columns pads them as
    typed nulls so the same SELECT runs over every shard vintage
    (reference ensure_source_columns, convert_openalex.py:591-604)."""
    from science_datalake_spark.sources.json_source import ensure_columns

    old_shard = tmp_path / "old.jsonl"
    new_shard = tmp_path / "new.jsonl"
    _write_ndjson(str(old_shard), [{"id": 1, "title": "a"}])
    _write_ndjson(str(new_shard), [{"id": 2, "title": "b", "doi": "10.1/x", "fwci": 1.5}])

    required = "doi STRING, fwci DOUBLE, abstract STRING"
    parts = []
    for shard in (old_shard, new_shard):
        df = ensure_columns(read_ndjson(spark, str(shard)), required)
        parts.append(df.select("id", "title", "doi", "fwci", "abstract"))
    unioned = parts[0].unionByName(parts[1])
    rows = {r["id"]: r for r in unioned.collect()}
    assert rows[1]["doi"] is None and rows[1]["fwci"] is None
    assert rows[2]["doi"] == "10.1/x" and rows[2]["fwci"] == 1.5
    assert dict(unioned.dtypes)["fwci"] == "double"
    # existing columns are never overwritten (case-insensitive match)
    again = ensure_columns(unioned, "DOI STRING, id BIGINT")
    assert again.columns == unioned.columns


def test_compact_recovers_from_crash_between_renames(spark, tmp_path):
    """Crash window: shard renamed away but compacted tmp not yet renamed
    in — data exists ONLY in the __old-*/__compact-* orphans. compact()
    must restore before cleaning up (ADVICE r1: unconditional rmtree first
    = permanent data loss)."""
    import shutil

    out = str(tmp_path / "t.parquet")
    df = spark.range(500).withColumn("k", F.col("id") % 3)
    write_parquet(df.repartition(4), out)

    # simulate the post-first-rename crash: shard_dir gone, original in
    # __old-, a verified compacted copy in __compact-
    old = str(tmp_path / "t.parquet__old-deadbeef")
    tmp = str(tmp_path / "t.parquet__compact-cafebabe")
    shutil.copytree(out, tmp)
    os.rename(out, old)
    assert not os.path.exists(out)

    assert compact(spark, out, target_files=1) == 500
    assert spark.read.parquet(out).count() == 500
    leftovers = [f for f in os.listdir(tmp_path) if "__old-" in f or "__compact-" in f]
    assert leftovers == []

    # crash even earlier: only the __compact- copy survives
    tmp2 = str(tmp_path / "t.parquet__compact-feedface")
    shutil.copytree(out, tmp2)
    shutil.rmtree(out)
    assert compact(spark, out, target_files=1) == 500
    assert spark.read.parquet(out).count() == 500


def _skew_readback(monkeypatch, path_marker: str) -> None:
    """Make every parquet read whose path contains ``path_marker`` return
    one row fewer than the files hold — a corrupt write as the read-back
    sees it."""
    from pyspark.sql.readwriter import DataFrameReader

    real = DataFrameReader.parquet

    def skewed(self, *paths, **kw):
        df = real(self, *paths, **kw)
        if any(path_marker in str(p) for p in paths):
            return df.limit(max(df.count() - 1, 0))
        return df

    monkeypatch.setattr(DataFrameReader, "parquet", skewed)


def test_write_parquet_raises_when_readback_differs(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "w.parquet")
    df = spark.range(300).withColumn("k", F.col("id") % 5)
    _skew_readback(monkeypatch, "w.parquet")
    with pytest.raises(RuntimeError, match="write verification failed: 299 != 300"):
        write_parquet(df.filter(F.col("k") >= 0), out)
    # single_file's coalesce must not hide the observed count either
    with pytest.raises(RuntimeError, match="299 != 300"):
        write_parquet(df, out, single_file=True)
    monkeypatch.undo()
    assert write_parquet(df, out, single_file=True) == 300


def test_compact_refuses_swap_when_readback_differs(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "c.parquet")
    write_parquet(spark.range(400).repartition(4), out)
    before = sorted(os.listdir(out))
    _skew_readback(monkeypatch, "__compact-")
    with pytest.raises(RuntimeError, match="compaction verification failed: 399 != 400"):
        compact(spark, out, target_files=1)
    monkeypatch.undo()
    # no swap: the shard keeps its original files, and no tmp is left
    assert sorted(os.listdir(out)) == before
    assert [d for d in os.listdir(tmp_path) if "__" in d] == []
    assert spark.read.parquet(out).count() == 400


def test_recover_shard_raises_without_orphan(tmp_path):
    from science_datalake_spark.sources.sinks import recover_shard

    with pytest.raises(FileNotFoundError, match="no __old-/__compact- orphan"):
        recover_shard(str(tmp_path / "gone.parquet"))


def test_read_all_recovers_shard_orphaned_by_compaction_crash(spark, tmp_path):
    """A crash between compact()'s two renames leaves a converted file's
    rows only in ``<shard>__old-*`` while the checkpoint already marks the
    file converted: later runs skip the file, so read_all must restore the
    shard instead of listing only ``*.parquet`` and dropping its rows."""
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    _write_ndjson(str(src / "f1.jsonl"), [{"id": i} for i in range(5)])
    _write_ndjson(str(src / "f2.jsonl"), [{"id": i} for i in range(5, 8)])
    out = tmp_path / "out"
    ing = IncrementalJsonIngest(
        spark, str(src), str(out), str(tmp_path / "ckpt.json"), schema="id LONG"
    )
    ing.run()
    shard = out / "f1.jsonl.parquet"
    shutil.copytree(shard, out / "f1.jsonl.parquet__compact-0badf00d")
    os.rename(shard, out / "f1.jsonl.parquet__old-deadbeef")

    assert ing.run().converted == []  # the checkpoint already has f1
    assert ing.rows() == 8  # footers of the recovered shards
    assert ing.read_all().count() == 8
    assert sorted(os.listdir(out)) == ["f1.jsonl.parquet", "f2.jsonl.parquet"]


def test_incremental_ingest_checkpoint(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_ndjson(str(src / "f1.jsonl"), [{"id": i} for i in range(5)])
    _write_ndjson(str(src / "f2.jsonl"), [{"id": i} for i in range(3)])
    ing = IncrementalJsonIngest(
        spark,
        str(src),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt.json"),
        schema="id LONG",
    )
    r1 = ing.run()
    assert sorted(r1.converted) == ["f1.jsonl", "f2.jsonl"] and r1.rows_written == 8
    # unchanged → everything skipped
    r2 = ing.run()
    assert r2.converted == [] and sorted(r2.skipped) == ["f1.jsonl", "f2.jsonl"]
    # new + modified file → only those convert
    _write_ndjson(str(src / "f3.jsonl"), [{"id": 100}])
    _write_ndjson(str(src / "f1.jsonl"), [{"id": i} for i in range(6)])
    r3 = ing.run()
    assert sorted(r3.converted) == ["f1.jsonl", "f3.jsonl"]
    assert ing.read_all().count() == 6 + 3 + 1


def _ingest(spark, tmp_path, files: dict[str, str]) -> IncrementalJsonIngest:
    """Schema-inferring ingest over a fresh source dir holding ``files``
    (name → NDJSON text)."""
    src = tmp_path / "src"
    src.mkdir()
    for name, text in files.items():
        (src / name).write_text(text)
    return IncrementalJsonIngest(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ckpt.json")
    )


def _lines(records) -> str:
    return "".join(json.dumps(r) + "\n" for r in records)


#: 600 rows, ~30 KB: several read splits under an 8 KB maxPartitionBytes
_WIDE = _lines({"id": i, "t": "x" * 40} for i in range(600))
_MALFORMED = '{"id": 1}\nNOT JSON AT ALL\n{"id": 3}\n'


def _run_small_splits(spark, ing):
    """``ing.run()`` with small read splits: each file converts to a
    multi-file shard."""
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8k")
    try:
        return ing.run()
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


@pytest.mark.parametrize("case", ["multi_file_shard", "malformed_line"])
def test_observed_rows_written_match_shard_readback(spark, tmp_path, case):
    """``rows_written`` is observed on the shard write, not re-read: it
    must equal what the written shard reads back as."""
    if case == "multi_file_shard":
        ing = _ingest(spark, tmp_path, {"f.jsonl": _WIDE})
        res, expected = _run_small_splits(spark, ing), 600
    else:
        ing = _ingest(spark, tmp_path, {"f.jsonl": _MALFORMED})
        res, expected = ing.run(), 3
    shard = os.path.join(ing.output_dir, "f.jsonl.parquet")
    back = spark.read.parquet(shard)
    if case == "multi_file_shard":
        assert data_file_count(shard) > 1
    else:  # PERMISSIVE: the bad line is a row with only _corrupt_record set
        assert back.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    assert res.rows_written == back.count() == expected


@pytest.mark.parametrize("case", ["compacted", "merged_schemas", "only_file_empty"])
def test_footer_rows_match_read_all_count(spark, tmp_path, case):
    """``rows()`` sums parquet footers instead of scanning; it must agree
    with a scan of ``read_all()`` (orphan recovery: see
    test_read_all_recovers_shard_orphaned_by_compaction_crash)."""
    if case == "compacted":
        ing = _ingest(spark, tmp_path, {"f.jsonl": _WIDE})
        _run_small_splits(spark, ing)
        shard = os.path.join(ing.output_dir, "f.jsonl.parquet")
        assert data_file_count(shard) > 1
        compact(spark, shard, target_files=1)
        assert data_file_count(shard) == 1
        expected = 600
    elif case == "merged_schemas":
        ing = _ingest(spark, tmp_path, {
            "a.jsonl": _lines([{"id": 1, "title": "x"}, {"id": 2, "title": "y"}]),
            "b.jsonl": _lines([{"id": 3, "fwci": 1.5}]),
        })
        ing.run()
        assert {"title", "fwci"} <= set(ing.read_all().columns)
        expected = 3
    else:  # no inferable column: checkpointed, but no shard is written
        ing = _ingest(spark, tmp_path, {"f.jsonl": ""})
        assert ing.run().skipped == ["f.jsonl"]
        assert os.listdir(ing.output_dir) == []
        expected = 0
    assert ing.rows() == ing.read_all().count() == expected


@pytest.mark.parametrize(
    "sql,ok",
    [
        ("SELECT * FROM region", True),
        ("WITH x AS (SELECT 1 AS a) SELECT * FROM x", True),
        ("DROP TABLE region", False),
        ("SELECT * FROM region; DELETE FROM region", False),
        ("INSERT INTO region VALUES (9, 'X')", False),
        ("vacuum", False),
    ],
)
def test_sql_guard(sql, ok):
    from science_datalake_spark.cli import UnsafeSQLError, guard_sql

    if ok:
        guarded = guard_sql(sql)
        assert guarded.lower().startswith(("select", "with"))
        assert "limit" in guarded.lower()
    else:
        with pytest.raises(UnsafeSQLError):
            guard_sql(sql)


def test_sql_guard_preserves_existing_limit():
    from science_datalake_spark.cli import guard_sql

    assert guard_sql("SELECT * FROM region LIMIT 3").lower().count("limit") == 1


def test_config_discovery(tmp_path, monkeypatch):
    from science_datalake_spark.config import find_datalake_root, load_config

    root = tmp_path / "lake"
    nested = root / "a" / "b"
    nested.mkdir(parents=True)
    (root / "datalake.json").write_text('{"name": "test-lake"}')
    assert find_datalake_root(str(nested)) == str(root)
    assert load_config(str(root))["name"] == "test-lake"
    # no marker anywhere → env var fallback
    other = tmp_path / "elsewhere"
    other.mkdir()
    monkeypatch.setenv("SCIENCE_DATALAKE_ROOT", str(other))
    assert find_datalake_root("/") == str(other)
