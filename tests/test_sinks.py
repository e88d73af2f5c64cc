"""Keyed upsert sink: whole-table merge-and-swap, incoming-key
validation, and partition-scoped rewrite that leaves untouched
partitions byte-identical. Footer-declared reads: the schema
``read_parquet`` declares is the one Spark's inference gives, and the
layouts the footers cannot settle fall back to that inference."""

from __future__ import annotations

import pytest

from science_datalake_spark.catalog import TESTDATA_TABLES


def test_upsert_whole_table(spark, tmp_path):
    from science_datalake_spark.sources.sinks import upsert_parquet

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k LONG, v STRING"
    )
    assert upsert_parquet(spark, base, path, ["k"]) == 3
    batch = spark.createDataFrame([(2, "B"), (4, "d")], "k LONG, v STRING")
    assert upsert_parquet(spark, batch, path, ["k"]) == 4
    got = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}


def test_upsert_rejects_duplicate_incoming_keys(spark, tmp_path):
    from science_datalake_spark.sources.sinks import upsert_parquet

    path = str(tmp_path / "tbl")
    dup = spark.createDataFrame([(1, "x"), (1, "y")], "k LONG, v STRING")
    with pytest.raises(ValueError, match="duplicate keys"):
        upsert_parquet(spark, dup, path, ["k"])


def test_upsert_partition_scoped_rewrites_only_touched(spark, tmp_path):
    import os

    from science_datalake_spark.sources.sinks import upsert_parquet

    path = str(tmp_path / "ptbl")
    base = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (3, 20, "c"), (4, 30, "d")],
        "k LONG, day INT, v STRING",
    )
    upsert_parquet(spark, base, path, ["k"], partition_col="day")

    untouched = os.path.join(path, "day=20")
    before = {
        f: os.path.getmtime(os.path.join(untouched, f))
        for f in os.listdir(untouched)
    }

    batch = spark.createDataFrame(
        [(2, 10, "B"), (5, 10, "e"), (6, 40, "f")], "k LONG, day INT, v STRING"
    )
    upsert_parquet(spark, batch, path, ["k"], partition_col="day")

    got = {
        (r["k"], r["day"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (1, 10, "a"),
        (2, 10, "B"),
        (3, 20, "c"),
        (4, 30, "d"),
        (5, 10, "e"),
        (6, 40, "f"),
    }
    after = {
        f: os.path.getmtime(os.path.join(untouched, f))
        for f in os.listdir(untouched)
    }
    assert after == before, "untouched partition was rewritten"
    # no tmp/backup litter
    parent = str(tmp_path)
    assert not [
        d for d in os.listdir(parent) if "__upsertpart-" in d or "__old-" in d
    ]


# -- footer-declared reads ---------------------------------------------------


def _declared_equals_inferred(spark, path):
    """``read_parquet`` must read ``path`` under exactly the schema Spark's
    own inference gives. Returns the footer-declared schema (None: the
    read fell back to inference) and the inferred one."""
    from science_datalake_spark.sources.sinks import footer_schema, read_parquet

    inferred = spark.read.parquet(path).schema
    assert read_parquet(spark, path).schema == inferred
    return footer_schema(spark, [path]), inferred


@pytest.mark.parametrize("name", TESTDATA_TABLES)
def test_footer_schema_matches_inference_on_testdata(spark, sf_oracle, name):
    import os

    declared, inferred = _declared_equals_inferred(
        spark, os.path.join(sf_oracle, f"{name}.parquet")
    )
    assert declared == inferred


def _arrow_events(tmp_path, ts_type, values, **write_kw):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "events.parquet")
    tbl = pa.table({
        "event_id": pa.array(range(len(values)), pa.int64()),
        "ts": pa.array(values, ts_type),
    })
    pq.write_table(tbl, path, **write_kw)
    return path


@pytest.mark.parametrize("shape", ["ntz", "tz", "int64"])
def test_footer_schema_matches_inference_on_ts_shapes(spark, tmp_path, shape):
    import pyarrow as pa

    ts_type = {
        "ntz": pa.timestamp("us"),
        "tz": pa.timestamp("us", tz="UTC"),
        "int64": pa.int64(),
    }[shape]
    path = _arrow_events(tmp_path, ts_type, [1_700_000_000_000_000, 2])
    declared, inferred = _declared_equals_inferred(spark, path)
    assert declared == inferred
    assert dict(
        (f.name, f.dataType.simpleString()) for f in declared.fields
    )["ts"] == {"ntz": "timestamp_ntz", "tz": "timestamp", "int64": "bigint"}[shape]


def test_footer_schema_nanos_is_bigint_under_nanos_as_long(spark, tmp_path):
    """TIMESTAMP(NANOS) is declared only under nanosAsLong (as bigint, as
    Spark reads it then); without the conf it falls back, and Spark's
    inference keeps refusing the type."""
    import pyarrow as pa

    from science_datalake_spark.sources.sinks import footer_schema

    path = _arrow_events(
        tmp_path, pa.timestamp("ns"), [1_700_000_000_000_000_000], version="2.6"
    )
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(conf)
    assert footer_schema(spark, [path]) is None
    spark.conf.set(conf, "true")
    try:
        declared, inferred = _declared_equals_inferred(spark, path)
    finally:
        spark.conf.unset(conf)
    assert declared == inferred
    assert declared["ts"].dataType.simpleString() == "bigint"


def test_footer_schema_int96(spark, tmp_path):
    """A Spark-written INT96 column is declared from the schema Spark
    stored in the footer (TIMESTAMP; the Arrow mapping would say NTZ); a
    non-Spark INT96 or nanos file falls back to Spark's inference."""
    import pyarrow as pa
    import pyspark.sql.functions as F

    spark_dir = str(tmp_path / "spark_int96")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.range(3).select(
            "id", F.timestamp_seconds(F.col("id") + 1_700_000_000).alias("ts")
        ).write.parquet(spark_dir)
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    declared, inferred = _declared_equals_inferred(spark, spark_dir)
    assert declared is not None
    assert inferred["ts"].dataType.simpleString() == "timestamp"

    arrow_dir = tmp_path / "arrow_int96"
    arrow_dir.mkdir()
    path = _arrow_events(
        arrow_dir, pa.timestamp("us"), [1_700_000_000_000_000],
        use_deprecated_int96_timestamps=True,
    )
    declared, inferred = _declared_equals_inferred(spark, path)
    assert declared is None
    assert inferred["ts"].dataType.simpleString() == "timestamp"


def test_footer_schema_partitioned_layout_falls_back(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "events.parquet"
    for day in ("2024-01-01", "2024-01-02"):
        (root / f"day={day}").mkdir(parents=True)
        pq.write_table(
            pa.table({"event_id": pa.array([1], pa.int64())}),
            str(root / f"day={day}" / "part-0.parquet"),
        )
    declared, inferred = _declared_equals_inferred(spark, str(root))
    assert declared is None
    assert inferred.fieldNames() == ["event_id", "day"]


def test_footer_schema_spark_non_nullable_columns(spark, tmp_path):
    """Spark stores non-nullable fields in its footer schema; a read
    declared with it reads them as Spark's inference does (nullable)."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "nn")
    df = spark.range(4).select(
        F.col("id"),
        F.lit("x").alias("s"),
        F.array(F.col("id")).alias("arr"),
        F.struct(F.col("id").alias("q")).alias("st"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
    )
    assert not df.schema["id"].nullable
    df.write.parquet(path)
    declared, inferred = _declared_equals_inferred(spark, path)
    assert not declared["id"].nullable
    assert all(f.nullable for f in inferred.fields)


def test_footer_schema_heterogeneous_shards_merge(spark, tmp_path):
    """Shards whose footers disagree are not declared: ``merge_schema``
    keeps Spark's union, the plain read keeps Spark's one-file schema."""
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    spark.createDataFrame([(1, "x")], "id LONG, title STRING").write.parquet(a)
    spark.createDataFrame([(2, 1.5)], "id LONG, fwci DOUBLE").write.parquet(b)
    from science_datalake_spark.sources.sinks import footer_schema, read_parquet

    assert footer_schema(spark, [a, b]) is None
    merged = read_parquet(spark, [a, b], merge_schema=True)
    assert merged.schema == spark.read.option("mergeSchema", "true").parquet(a, b).schema
    assert set(merged.columns) == {"id", "title", "fwci"}
    assert read_parquet(spark, [a, b]).schema == spark.read.parquet(a, b).schema
