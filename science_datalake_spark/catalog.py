"""Catalog layer: Parquet-backed views, the Spark analogue of the reference's
views-only DuckDB catalog.

Reference parallel: ``scripts/create_unified_db.py`` builds a 268 KB DuckDB
file holding 159 ``CREATE VIEW x AS SELECT ... FROM read_parquet(glob)``
definitions over ~1.3 TB of Parquet (create_unified_db.py:63-92,340-344) —
data is never copied, and registering a view reads no data. Here the same
contract is ``register_views``: every table is a temp view over a Parquet
read whose schema is declared from the table's footers on the driver
(``sinks.read_parquet``), so registration starts no Spark job; layouts the
footers cannot settle (remote, partitioned, disagreeing files) fall back
to Spark's inference. Derived/convenience views are plain ``CREATE OR
REPLACE TEMPORARY VIEW`` on top. Views are lazy logical plans, so
Catalyst pushes filters/column pruning through them into the Parquet scan
exactly like DuckDB does through its view definitions.

Scale notes: a Parquet read of a directory lists its files on the driver
(in parallel above Spark's partition-discovery threshold); at 100 TB the
views would point at Hive-partitioned / Delta paths and partition pruning
stays free. Nothing in this module materializes data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from science_datalake_spark.cache import cached
from science_datalake_spark.sources.sinks import read_footer, read_parquet, table_signature

#: Tables the driver testdata provides (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def bootstrap_session(spark: SparkSession, sf_dir: str) -> SparkSession:
    """Set the session confs a fresh session needs before it reads the
    tables under ``sf_dir``: probe the events footer once and set
    ``spark.sql.legacy.parquet.nanosAsLong`` when the file is
    TIMESTAMP(NANOS)-shaped (or cannot be probed — harmless for other
    shapes). ``table()`` sets the same conf lazily on its own read; the
    entry points call this up front so every read in the session, not
    only those through ``table()``, sees the conf. Returns ``spark`` for
    chaining."""
    path = os.path.join(sf_dir, "events.parquet")
    if _events_ts_kind(path) in ("nanos", "unknown"):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def register_views(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TESTDATA_TABLES,
) -> dict[str, DataFrame]:
    """Register one temp view per Parquet table under ``sf_dir``, plus the
    convenience views over them.

    Mirrors create_unified_db.py:332-344's auto-discovery: only files that
    exist are registered; missing tables are skipped silently so the same
    bootstrap works across scale factors.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    _register_convenience_views(spark, set(out))
    return out


def _register_convenience_views(spark: SparkSession, present: set[str]) -> None:
    """Filtered convenience views, as the reference defines ``recent_papers``,
    ``us_institutions``, ``high_impact_papers`` (create_unified_db.py:281-319).
    """
    if "orders" in present:
        spark.sql(
            """
            CREATE OR REPLACE TEMPORARY VIEW recent_orders AS
            SELECT * FROM orders WHERE o_orderdate >= DATE '1997-01-01'
            """
        )
    if "lineitem" in present:
        spark.sql(
            """
            CREATE OR REPLACE TEMPORARY VIEW shipped_lineitem AS
            SELECT * FROM lineitem WHERE l_linestatus = 'F'
            """
        )
    if "documents" in present:
        spark.sql(
            """
            CREATE OR REPLACE TEMPORARY VIEW documents_en AS
            SELECT * FROM documents WHERE lang = 'en'
            """
        )


#: operator declaration of events.ts's physical shape for stores whose
#: Parquet footer the driver cannot probe (values: nanos | ntz | tz | absent)
EVENTS_TS_KIND_ENV = "SPARK_GRAFT_EVENTS_TS_KIND"


def _events_ts_kind(path: str) -> str:
    """Classify the physical type of ``events.ts`` from the Parquet footer.

    Driver-side metadata-only read (one footer, no data pages — cheap even
    at 100 TB). Generators have shipped this column as three shapes across
    rounds: TIMESTAMP(NANOS) (``'nanos'``), TIMESTAMP(MICROS) without UTC
    adjustment — read by Spark as TIMESTAMP_NTZ (``'ntz'``) — and
    UTC-adjusted micros (``'tz'``). ``'absent'`` = no such column / not a
    timestamp; callers then leave the frame untouched. ``'unknown'`` = the
    footer could not be probed (a remote URI whose filesystem pyarrow
    cannot reach from the driver); ``table()`` then reads tolerantly and —
    if the column comes back as ambiguous int64 — refuses to guess between
    nanos and epoch-micros (a 1000× misscale either way) unless the
    operator declares the shape via ``EVENTS_TS_KIND_ENV``. A missing
    local table is ``'absent'``; a local footer that cannot be read
    raises pyarrow's error. Local footers are read
    once per file version (``sinks.read_footer``), so ``bootstrap_session``
    and ``table()`` share one read.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from urllib.parse import urlparse

    def classify(schema) -> str:
        if "ts" not in schema.names:
            return "absent"
        t = schema.field("ts").type
        if not pa.types.is_timestamp(t):
            return "absent"
        if t.unit == "ns":
            return "nanos"
        return "tz" if t.tz is not None else "ntz"

    scheme = urlparse(path).scheme
    if scheme not in ("", "file"):
        # object-store / HDFS URI: probe through the Arrow filesystem API.
        # If the filesystem is unreachable from the driver (connector not
        # installed, credentials missing), report 'unknown' so table()
        # takes the defensive read path instead of failing on a nanos file.
        try:
            from pyarrow import fs as pafs

            filesystem, fs_path = pafs.FileSystem.from_uri(path)
            info = filesystem.get_file_info(fs_path)
            probe = fs_path
            if info.type == pafs.FileType.Directory:
                sel = pafs.FileSelector(fs_path, recursive=True)
                parts = sorted(
                    f.path
                    for f in filesystem.get_file_info(sel)
                    if f.is_file and f.path.endswith(".parquet")
                )
                if not parts:
                    return "absent"
                probe = parts[0]
            schema = pq.read_schema(probe, filesystem=filesystem)
        except (OSError, pa.ArrowInvalid, pa.ArrowNotImplementedError):
            # OSError: connector library or host unreachable (libhdfs,
            # credentials); Invalid / NotImplemented: a scheme this
            # pyarrow build does not know or was built without
            return "unknown"
        return classify(schema)

    if not os.path.exists(path):
        return "absent"
    probe = path
    if os.path.isdir(path):
        # recurse: a partitioned layout nests part files under key=value
        # subdirectories, and missing the footer there would silently skip
        # the nanos-conf path that those files may need
        probe = None
        for root, dirs, files in os.walk(path):
            dirs.sort()
            hit = sorted(f for f in files if f.endswith(".parquet"))
            if hit:
                probe = os.path.join(root, hit[0])
                break
        if probe is None:
            return "absent"
    md = read_footer(probe)
    columns = (md.schema.column(i) for i in range(md.num_columns))
    if any(c.path == "ts" and c.physical_type == "INT96" for c in columns):
        # INT96, Spark's legacy timestamp encoding, reads as TIMESTAMP
        # although pyarrow reports it in nanoseconds
        return "tz"
    return classify(md.schema.to_arrow_schema())


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Direct DataFrame accessor (no view registration needed).

    The logical plan (not the data) is memoized per (session, dir, table)
    in the session-cache registry (``cache.cached``) and checked against
    the table's data-file ``(size, mtime_ns)`` signature on every call:
    repeated queries skip file listing and footer reads — the same role
    the reference's persistent view catalog plays
    (create_unified_db.py:63-92) — and a rewritten file replaces the
    entry. The schema is declared from the footers
    (``sinks.read_parquet``), so building the plan starts no Spark job.

    ``events.ts`` is normalized to TIMESTAMP whatever the file's physical
    shape (see ``_events_ts_kind``), so downstream timestamp math
    (``unix_micros`` in sessionization, as-of joins) never sees NTZ or raw
    nanos. The schema-evolution-tolerant read (SURVEY §1.3: TRY_CAST-
    everywhere tolerance): nanos files are read as long via the legacy conf
    — set ONLY when the footer proves that shape, so ordinary sessions
    never carry the global mutation — then integer-divided (``DIV``; a
    double roundtrip would lose sub-microsecond precision on epoch-nanos).
    NTZ micros are cast to TIMESTAMP under the session's UTC zone, which
    preserves the wall-clock value bit-for-bit.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    return cached(
        spark,
        "catalog.table",
        (sf_dir, name),
        table_signature(path),
        lambda: _read_table(spark, path, name),
        cap=64,
    )


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    kind = _events_ts_kind(path) if name == "events" else "absent"
    if kind == "unknown":
        # unprobeable remote footer: the operator may declare the shape
        # explicitly instead of the engine guessing (see the bigint
        # branch below for why guessing is unsafe)
        override = os.environ.get(EVENTS_TS_KIND_ENV, "").strip().lower()
        if override in ("nanos", "ntz", "tz", "absent"):
            kind = override
        elif override:
            # a typo'd declaration must not silently fall through to the
            # ambiguity error that tells the operator to set the very
            # variable they believe they already set
            raise ValueError(
                f"{EVENTS_TS_KIND_ENV}={override!r} is not a recognized "
                "events.ts shape; use one of: nanos, ntz, tz, absent"
            )
    if kind in ("nanos", "unknown"):
        # the conf is needed to even READ a nanos file (Spark errors on
        # TIMESTAMP(NANOS) otherwise); it only changes how NANOS columns
        # decode, so micros/ntz files read under it come out identical
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, path)
    if name == "events":
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint" and kind == "nanos":
            # only a footer-proved (or operator-declared) nanos column is
            # epoch-nanos; a PLAIN int64 ts ('absent' kind) stays bigint —
            # normalizing it would silently misscale epoch-micros by 1000
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif dt == "bigint" and kind == "unknown":
            # ambiguous: an int64 ts under an unprobeable footer is either
            # TIMESTAMP(NANOS) (needs DIV 1000) or plain epoch-micros
            # (must NOT be divided) — guessing either way silently
            # misscales one of them 1000x, so fail loud with remediation
            raise ValueError(
                f"events.ts at {path} reads as int64 but the Parquet footer "
                "could not be probed from the driver, so the physical shape "
                "(TIMESTAMP(NANOS) vs plain epoch-micros int64) is unknown. "
                f"Declare it via {EVENTS_TS_KIND_ENV}=nanos (normalize) or "
                f"{EVENTS_TS_KIND_ENV}=absent (leave as bigint)."
            )
        elif dt == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
