"""Stream-stream joins with watermark-bounded state.

The attribution shape: a ``view`` stream joined to a ``click`` stream on
user within a time bound ("click within N minutes after the view").
Spark's stream-stream join keeps both sides' unmatched rows in state; the
watermark PLUS the time-range condition is what makes that state bounded
— without the range the join would buffer both streams forever. Late
rows beyond the watermark are dropped deterministically.

The reference is batch-only; this is the additive §2.10 surface for the
event-correlation queries the batch as-of join (operators/asof.py) serves
offline. Left-outer emission waits for the watermark to close the match
window (a NULL match means "provably no match", not "not yet").

Scale: state per side ≈ rows inside the watermark horizon × key width;
the join itself shuffles both streams on the key like any equi-join. The
identical plan runs against Kafka sources unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Join ``right`` rows that occur within ``(left_ts, left_ts +
    max_delay]`` of a ``left`` row with the same key.

    Works identically on streaming and batch inputs (the stream==batch
    tests rely on this): watermarks are applied only when a side is
    streaming — on batch frames ``withWatermark`` would be a no-op
    analysis error in older APIs and is simply unnecessary.

    Columns come back prefixed (``l_`` / ``r_``) because both sides share
    the event schema; callers project what they need (column pruning
    reaches both scans either way).
    """
    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    lsel = lw.select(
        F.col(key).alias("l_key"),
        F.col(left_ts).alias("l_ts"),
        *[
            F.col(c).alias(f"l_{c}")
            for c in left.columns
            if c not in (key, left_ts)
        ],
    )
    rsel = rw.select(
        F.col(key).alias("r_key"),
        F.col(right_ts).alias("r_ts"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c not in (key, right_ts)
        ],
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}"))
    )
    return lsel.join(rsel, cond, how)


def view_click_attribution(
    events: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Attribution over ONE event stream split by type: each view joined to
    the clicks the same user made within ``max_delay`` after it. Returns
    (user_id, view_id, view_ts, click_id, click_ts, delay_us) — the delay
    is MICROseconds (unix_micros difference)."""
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    joined = interval_join(
        views, clicks, key="user_id", max_delay=max_delay, watermark=watermark
    )
    return joined.select(
        F.col("l_key").alias("user_id"),
        F.col("l_view_id").alias("view_id"),
        F.col("l_ts").alias("view_ts"),
        F.col("r_click_id").alias("click_id"),
        F.col("r_ts").alias("click_ts"),
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("delay_us"),
    )
