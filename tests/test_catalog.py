"""Catalog namespaces: persistent views in a database (the reference's
schema-namespace model) + temp-view bootstrap."""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F

from science_datalake_spark.catalog import register_views


def test_temp_views_and_convenience(spark, sf_oracle):
    out = register_views(spark, sf_oracle)
    assert "lineitem" in out and "documents" in out
    assert spark.sql("SELECT count(*) FROM recent_orders").first()[0] > 0
    assert spark.sql("SELECT count(*) FROM documents_en").first()[0] == 218


def _write_events(tmp_path, name, ts_type, ts_values):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "event_id": pa.array(list(range(1, len(ts_values) + 1)), pa.int64()),
            "ts": pa.array(ts_values, ts_type),
            "user_id": pa.array([7] * len(ts_values), pa.int64()),
        }
    )
    d = tmp_path / name
    d.mkdir()
    pq.write_table(tbl, str(d / "events.parquet"), version="2.6")
    return str(d)


def test_events_ts_micros_ntz_normalized(spark, sf_oracle):
    # The driver testdata ships ts as timestamp[us] without UTC adjustment
    # (read as TIMESTAMP_NTZ). table() must hand back TIMESTAMP so
    # unix_micros-shaped expressions (sessionize, as-of) resolve.
    from science_datalake_spark.catalog import _events_ts_kind, table

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    import os

    assert _events_ts_kind(os.path.join(sf_oracle, "events.parquet")) == "ntz"
    df = table(spark, sf_oracle, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.select(F.unix_micros("ts")).first()[0] is not None
    # the micros shape must NOT flip the session-wide nanos legacy conf
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"
    )


def test_events_ts_nanos_normalized(spark, tmp_path):
    import pyarrow as pa

    from science_datalake_spark.catalog import _events_ts_kind, table

    d = _write_events(
        tmp_path,
        "nanos_sf",
        pa.timestamp("ns"),
        [1_700_000_000_000_000_000, 1_700_000_001_500_000_000],
    )
    assert _events_ts_kind(d + "/events.parquet") == "nanos"
    df = table(spark, d, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r[0] for r in df.select(F.unix_micros("ts")).orderBy("event_id").collect()]
    assert got == [1_700_000_000_000_000, 1_700_000_001_500_000]
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")


def test_events_ts_tz_passthrough(spark, tmp_path):
    import pyarrow as pa

    from science_datalake_spark.catalog import _events_ts_kind, table

    d = _write_events(
        tmp_path,
        "tz_sf",
        pa.timestamp("us", tz="UTC"),
        [1_700_000_000_000_000, 1_700_000_001_500_000],
    )
    assert _events_ts_kind(d + "/events.parquet") == "tz"
    df = table(spark, d, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r[0] for r in df.select(F.unix_micros("ts")).orderBy("event_id").collect()]
    assert got == [1_700_000_000_000_000, 1_700_000_001_500_000]


def test_nanos_conf_scoped_to_events(spark, sf_oracle, tmp_path):
    # Reading micros-shaped events must leave a non-events nanos read in
    # the same session at vanilla behavior (it raises, not bigint).
    import pyarrow as pa
    import pytest

    from science_datalake_spark.catalog import table

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    table(spark, sf_oracle, "events").limit(1).collect()
    d = _write_events(tmp_path, "other_sf", pa.timestamp("ns"), [1, 2])
    with pytest.raises(Exception):
        spark.read.parquet(d + "/events.parquet").collect()


def test_events_ts_kind_probes_partitioned_layout(spark, tmp_path):
    """A partitioned events directory (part files nested under key=value
    subdirs) must still classify from the first footer found."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from science_datalake_spark.catalog import _events_ts_kind

    d = tmp_path / "events.parquet" / "day=2024-01-01"
    d.mkdir(parents=True)
    tbl = pa.table({"ts": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns"))})
    pq.write_table(tbl, str(d / "part-0.parquet"), version="2.6")
    assert _events_ts_kind(str(tmp_path / "events.parquet")) == "nanos"
    assert _events_ts_kind(str(tmp_path)) == "nanos"  # walks one level up too


def test_events_ts_kind_unreachable_remote_uri_is_unknown():
    """A remote URI whose filesystem pyarrow can't reach must classify as
    'unknown' (table() then takes the defensive nanosAsLong read path),
    not 'absent' (which would skip nanos handling and fail the read)."""
    from science_datalake_spark.catalog import _events_ts_kind

    assert _events_ts_kind("hdfs://namenode:9000/lake/events.parquet") == "unknown"


def test_bootstrap_session_closes_fresh_session_nanos_caveat(spark, tmp_path):
    """A fresh session over nanos-shaped events: bootstrap_session probes
    the footer and sets nanosAsLong up front, and table() then reads the
    nanos events in that session as the right TIMESTAMPs."""
    import pyarrow as pa

    from science_datalake_spark.catalog import bootstrap_session, table

    d = _write_events(
        tmp_path,
        "nanos_fresh_sf",
        pa.timestamp("ns"),
        [1_700_000_000_000_000_000, 1_700_000_001_500_000_000],
    )
    # newSession shares the SparkContext but has a FRESH SQLConf — the
    # fresh-session shape the caveat described
    fresh = spark.newSession()
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"
    assert bootstrap_session(fresh, d) is fresh
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    events = table(fresh, d, "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    got = [
        r[0]
        for r in events.orderBy("event_id").selectExpr("unix_micros(ts)").collect()
    ]
    assert got == [1_700_000_000_000_000, 1_700_000_001_500_000]


def test_plain_int64_ts_stays_bigint(spark, tmp_path):
    """An events file whose ts is a PLAIN int64 (no timestamp logical
    type) classifies 'absent' and must pass through untouched — the
    nanos DIV-1000 normalization on it would misscale epoch-micros."""
    import pyarrow as pa

    from science_datalake_spark.catalog import _events_ts_kind, table

    d = _write_events(tmp_path, "int64_sf", pa.int64(), [1_700_000_000_000_000, 1_700_000_001_500_000])
    assert _events_ts_kind(d + "/events.parquet") == "absent"
    df = table(spark, d, "events")
    assert dict(df.dtypes)["ts"] == "bigint"
    assert [r[0] for r in df.select("ts").orderBy("event_id").collect()] == [
        1_700_000_000_000_000,
        1_700_000_001_500_000,
    ]


def test_unknown_ts_kind_int64_raises_unless_declared(spark, tmp_path, monkeypatch):
    """'unknown' (unprobeable footer) + int64 ts is AMBIGUOUS — nanos vs
    plain epoch-micros differ 1000x — so table() must refuse to guess:
    descriptive error naming the declaration env var; with the shape
    declared, each declaration behaves like its footer-proved twin."""
    import pyarrow as pa
    import pytest

    import science_datalake_spark.catalog as cat
    from science_datalake_spark import cache

    nanos_dir = _write_events(
        tmp_path, "unk_nanos_sf", pa.timestamp("ns"), [1_700_000_000_000_000_000]
    )
    monkeypatch.setattr(cat, "_events_ts_kind", lambda path: "unknown")
    cache.clear()
    with pytest.raises(ValueError, match=cat.EVENTS_TS_KIND_ENV):
        cat.table(spark, nanos_dir, "events")

    monkeypatch.setenv(cat.EVENTS_TS_KIND_ENV, "nanos")
    cache.clear()
    df = cat.table(spark, nanos_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.select(F.unix_micros("ts")).first()[0] == 1_700_000_000_000_000

    # a plain-int64 micros file under declared 'absent' stays bigint
    plain_dir = _write_events(
        tmp_path, "unk_plain_sf", pa.int64(), [1_700_000_000_000_000]
    )
    monkeypatch.setenv(cat.EVENTS_TS_KIND_ENV, "absent")
    cache.clear()
    df2 = cat.table(spark, plain_dir, "events")
    assert dict(df2.dtypes)["ts"] == "bigint"
    assert df2.select("ts").first()[0] == 1_700_000_000_000_000

    # a typo'd declaration fails loud, naming the bad value
    monkeypatch.setenv(cat.EVENTS_TS_KIND_ENV, "nano")
    cache.clear()
    with pytest.raises(ValueError, match="not a recognized"):
        cat.table(spark, nanos_dir, "events")

    cache.clear()
    # don't leak the nanos conf into later tests (sibling-test discipline)
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")


def _copy_testdata(src, dst):
    import shutil

    dst.mkdir()
    for name in os.listdir(src):
        shutil.copy(os.path.join(src, name), dst / name)
    return str(dst)


def test_register_views_starts_no_spark_job(spark, sf_oracle, tmp_path):
    """Every table's schema is declared from its footer (the reference's
    views-only catalog reads no data to register a view). A fresh copy
    keeps the plan and footer caches cold."""
    d = _copy_testdata(sf_oracle, tmp_path / "sf")
    sc = spark.sparkContext
    group = f"register-views-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "register_views over a fresh testdata copy")
    try:
        out = register_views(spark, d)
    finally:
        sc.setJobGroup(None, None)
    assert len(out) == 10
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert spark.sql("SELECT count(*) FROM orders").first()[0] == 15000


def test_table_cache_follows_rewritten_file(spark, sf_oracle, tmp_path):
    """Rewriting a table's file in place replaces its cached plan: the
    next table() has the new schema and the new rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import science_datalake_spark.catalog as cat

    d = _copy_testdata(sf_oracle, tmp_path / "sf")
    before = cat.table(spark, d, "orders")
    assert cat.table(spark, d, "orders") is before
    assert before.count() == 15000

    path = os.path.join(d, "orders.parquet")
    old = pq.read_table(path).slice(0, 7)
    pq.write_table(old.append_column("note", pa.array(["new"] * 7)), path)
    after = cat.table(spark, d, "orders")
    assert after is not before
    assert after.columns == before.columns + ["note"]
    assert after.count() == 7
    assert {r["note"] for r in after.select("note").collect()} == {"new"}
    # the new plan replaced the stale entry: the next call hits it
    assert cat.table(spark, d, "orders") is after


def test_events_ts_kind_unreadable_local_footer_raises(spark, tmp_path):
    """A local footer that cannot be read is an error, not 'absent' (which
    would skip the nanos handling the file may need). A lake without an
    events table is still 'absent', and bootstrap_session accepts it."""
    import pyarrow as pa
    import pytest

    from science_datalake_spark.catalog import _events_ts_kind, bootstrap_session

    assert _events_ts_kind(str(tmp_path / "events.parquet")) == "absent"
    assert bootstrap_session(spark, str(tmp_path)) is spark
    d = _write_events(tmp_path, "trunc_sf", pa.timestamp("ns"), [1, 2])
    path = d + "/events.parquet"
    with open(path, "rb") as f:
        head = f.read(64)
    with open(path, "wb") as f:
        f.write(head)
    with pytest.raises(pa.ArrowInvalid):
        _events_ts_kind(path)


def test_events_ts_spark_int96_is_tz(spark, tmp_path):
    """Spark's INT96 timestamps read as TIMESTAMP: they classify 'tz'
    (pyarrow reports them in nanoseconds, which is not the nanos shape),
    and table() passes them through."""
    from science_datalake_spark.catalog import _events_ts_kind, table

    d = tmp_path / "int96_sf"
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.range(2).select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(F.col("id") + 1_700_000_000).alias("ts"),
        ).write.parquet(str(d / "events.parquet"))
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    assert _events_ts_kind(str(d / "events.parquet")) == "tz"
    df = table(spark, str(d), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r[0] for r in df.select(F.unix_seconds("ts")).orderBy("event_id").collect()]
    assert got == [1_700_000_000, 1_700_000_001]
