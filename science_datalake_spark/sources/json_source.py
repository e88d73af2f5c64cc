"""JSON/NDJSON readers — the Spark re-expression of the reference's DuckDB
read_json calls (SURVEY §2.1 S3/S4, §1.3 schema system).

- declared-schema read ≈ ``read_json(files, columns={...})``
  (convert_fulltext.py:290-304): explicit StructType, corrupt rows land in
  ``_corrupt_record`` instead of failing the job.
- inferred read ≈ ``read_json_auto(ignore_errors=true, union_by_name=true)``
  (convert_openalex.py:798-809): PERMISSIVE mode + Spark's schema union
  across files.

The parquet side of the same union (``read_parquet(glob,
union_by_name=true)``, convert_openalex.py:1456-1464) is
``sinks.read_parquet(merge_schema=True)``: shards whose footers agree are
read under that one declared schema, heterogeneous shards with
mergeSchema. NDJSON keeps Spark's inference on purpose: a declared source
shape would drop every field the declaration does not name.

Scale: Spark's JSON source splits gzip members per file and distributes
file lists across executors — the reference's ProcessPoolExecutor per-file
fan-out (convert_openalex.py:747-751) disappears into the task scheduler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_ndjson(
    spark: SparkSession,
    paths: str | list[str],
    schema: StructType | None = None,
    multiline: bool = False,
) -> DataFrame:
    """NDJSON(.gz) → DataFrame. With ``schema``: declared-columns read;
    without: permissive inference with cross-file union."""
    reader = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("multiLine", str(multiline).lower())
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(paths)


def ensure_columns(df: DataFrame, required: str | StructType) -> DataFrame:
    """Schema-evolution padding for DECLARED extractions: add any
    referenced-but-absent column as a typed NULL.

    Reference parallel: ``ensure_source_columns`` (convert_openalex.py:
    591-604) — OpenAlex's schema evolves across snapshot partitions (older
    partitions lack ``abstract``/``doi``/``fwci``), and a curated
    extraction must not fail on an old shard. ``mergeSchema`` covers
    *inferred* unions; this covers the explicit path where the extraction
    names its columns. Top-level columns only (matching the reference,
    which ALTERs flat VARCHAR columns); name match is case-insensitive
    like Spark's resolver. A NULL literal cast is free in codegen — no
    data is touched."""
    from pyspark.sql import functions as F

    req = StructType.fromDDL(required) if isinstance(required, str) else required
    existing = {f.name.lower() for f in df.schema.fields}
    out = df
    for fld in req.fields:
        if fld.name.lower() not in existing:
            out = out.withColumn(fld.name, F.lit(None).cast(fld.dataType))
    return out


def inline_table(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Inline VALUES table (S11) — the reference's
    ``FROM (VALUES ...) AS t(cols)`` for source_temporal_coverage
    (create_unified_db.py:627-640). Arrow single-batch construction
    (util.local_df) — no 32-slice pickled RDD for a handful of rows."""
    from science_datalake_spark.util import local_df

    return local_df(spark, rows, schema)
