"""As-of join: for each left row, the latest right row at-or-before the
left timestamp, per key.

Spark lacks a native as-of join (the prompt-level example of an operator
to compose from primitives). ``asof_join`` unions both sides tagged and
runs one window pass ordered by (key, ts), carrying the last-seen right
row forward (``last(..., ignorenulls=True)``). ONE shuffle on the key —
linear, no pair blowup, and robust to any left/right size ratio. This is
the plan you want at 100 TB: both sides shuffle once on the key and the
window is a single ordered scan per key partition.

DuckDB has native ASOF JOIN, which makes this operator oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_value_cols: list[str],
) -> DataFrame:
    """Left rows + the most recent right row with right_ts <= left_ts.

    Ties (right_ts == left_ts) match, like DuckDB's ``ON a.ts >= b.ts``.
    Right rows sort before left rows at equal timestamps so same-instant
    matches are visible to the left row.
    """
    lcols = left.columns
    # The matched right row is carried as ONE struct so the result is always
    # a genuine right row — carrying columns independently with
    # last(ignorenulls) could stitch values from DIFFERENT right rows when
    # some right columns are null. Null right timestamps never match
    # (DuckDB ASOF inequality semantics), so they are filtered out.
    r_clean = right.filter(F.col(right_ts).isNotNull())
    tagged_r = r_clean.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(
            left.select(F.struct(*lcols).alias("s")).schema["s"].dataType
        ).alias("__l"),
        F.struct(*[F.col(c) for c in right_value_cols]).alias("__r"),
    )
    tagged_l = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*lcols).alias("__l"),
        F.lit(None).cast(tagged_r.schema["__r"].dataType).alias("__r"),
    )
    unioned = tagged_l.unionByName(tagged_r)
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select("*", F.last("__r", ignorenulls=True).over(w).alias("__match"))
    out = carried.filter(F.col("__side") == 1).select(
        F.col("__l.*"),
        *[F.col(f"__match.{c}").alias(f"right_{c}") for c in right_value_cols],
    )
    return out
