"""Small shared utilities."""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_df(spark: SparkSession, rows: list[tuple], schema: str | StructType) -> DataFrame:
    """Create a DataFrame from driver-local rows via the Arrow/pandas path.

    ``spark.createDataFrame(list, schema)`` ships rows through a pickled
    RDD with ``defaultParallelism`` slices — 32 near-empty partitions and
    a Python worker per partition for a 3-row inline table (measured
    ~0.36s per call on local[32]). The pandas route is a single Arrow
    batch, one partition, no Python workers (~0.03s). Used by inline
    VALUES tables (S11) and driver-side parser outputs (ontology tables);
    falls back to the classic path when rows are empty (Arrow needs at
    least one batch to carry the schema) or pandas is unavailable.
    """
    if rows:
        try:
            import pandas as pd

            names = (
                list(schema.names)
                if isinstance(schema, StructType)
                else [f.split()[0] for f in _split_top_level(schema)]
            )
            pdf = pd.DataFrame(rows, columns=names)
            return spark.createDataFrame(pdf, schema)
        except ImportError:
            pass
    return spark.createDataFrame(rows, schema)


def _split_top_level(schema: str) -> list[str]:
    """Split 'a INT, b ARRAY<STRUCT<x: INT, y: INT>>' on top-level commas."""
    parts, depth, cur = [], 0, []
    for ch in schema:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return parts


@functools.cache
def optional_import(name: str):
    """``try: import`` upgrade probe — the reference's own pattern for
    langdetect (convert_fulltext.py:78-87: import, degrade to a heuristic
    when absent). Returns the module, or None when it is not installed; a
    module that is installed but fails to import raises. Cached per
    process: hot paths (per-payload decode) don't re-pay the path scan."""
    import importlib

    try:
        return importlib.import_module(name)
    except ImportError:
        return None


def round_half_away(x: float, digits: int) -> float:
    """Scalar round-half-away-from-zero — SQL ROUND semantics (python's
    built-in round is banker's and WOULD diverge at exact .5 grid
    values). The single shared implementation for every driver-side
    threshold that must land on the same double a relational twin's
    round() produces (dedup._round_half_away is the numpy-vectorized
    sibling with the identical formula)."""
    import math

    p = 10.0**digits
    s = 1.0 if x >= 0 else -1.0
    return s * math.floor(abs(x) * p + 0.5) / p


def unpersist(df: DataFrame) -> None:
    """Release a cached handle that a session cache is dropping. A handle
    whose session was stopped raises ``Py4JJavaError`` (the stopped block
    manager has no driver endpoint); its cache died with that session, so
    dropping the reference is all that is needed. Any other error
    propagates."""
    from py4j.protocol import Py4JJavaError

    try:
        df.unpersist()
    except Py4JJavaError:
        pass
