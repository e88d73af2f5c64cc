"""Sequence packing: assemble tokenized documents into fixed-budget
training examples — the last mile of an LLM data pipeline (every trainer
feeds fixed-length sequences; packing efficiency is wasted-FLOPs
efficiency).

Two packers, chosen by semantics:

- ``pack_contiguous``: the concat-and-split accounting (GPT-style
  pretraining packs by concatenating the shard's token stream and cutting
  every ``budget`` tokens — documents may straddle cuts). Bin assignment
  is ``floor(running_token_count / budget)``: a pure running-frame window
  cumsum, fully native, one hash-partition + in-partition sort per shard.
  Use when the trainer splits documents across examples.

- ``pack_greedy``: first-fit-sequential whole-document packing (documents
  are never split; a new bin starts when the current one cannot fit the
  next document). The bin boundary depends on every earlier decision —
  inherently sequential state, NOT expressible as a window — so it runs
  as ``applyInPandas`` per shard, exactly the custom-stateful-operator
  escape hatch the engine reserves for semantics built-ins cannot express
  (SURVEY §2.9 discipline). The DuckDB twin is a recursive CTE (aux
  oracle query ``corpus_pack_greedy``).

Scale: the SHARD is the unit of parallelism and of determinism — packing
is defined per shard in (order_cols) order, so results are independent of
cluster partitioning, and 100 TB runs simply use many shards (any
per-shard token volume fits one task because each group streams through
one pandas frame; size shards accordingly, e.g. hash(doc) % 10k). Both
packers shuffle ONCE on the shard key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def pack_contiguous(
    df: DataFrame,
    tokens_col: str,
    budget: int,
    shard_col: str,
    order_cols: Sequence[str],
) -> DataFrame:
    """Concat-and-split bin assignment: documents ordered by ``order_cols``
    within each shard; a document's bin is ``floor(tokens_before /
    budget)`` — where its first token lands in the shard's concatenated
    stream. Adds ``bin`` (LONG). Running frame only — no buffering."""
    w = (
        Window.partitionBy(shard_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(F.col(tokens_col)).over(w), F.lit(0))
    return df.withColumn("bin", F.floor(before / F.lit(budget)).cast("long"))


def pack_greedy(
    df: DataFrame,
    tokens_col: str,
    budget: int,
    shard_col: str,
    order_cols: Sequence[str],
) -> DataFrame:
    """First-fit-sequential whole-document packing. Documents ordered by
    ``order_cols`` within each shard; state is (current bin, current
    fill): a document opens a new bin iff the current bin is non-empty
    and cannot fit it. A document larger than ``budget`` gets a bin of
    its own (placed into a fresh bin it overflows; the next document
    necessarily opens another). NULL token counts pack as 0. Adds
    ``bin`` (LONG).

    Deterministic by construction: the pandas group is re-sorted on
    ``order_cols`` inside the UDF, so upstream partitioning/arrival order
    cannot change the result (tested)."""
    # copy the field list — StructType.add would MUTATE df's cached schema
    schema = StructType(list(df.schema.fields) + [StructField("bin", LongType())])
    order = list(order_cols)

    def pack(pdf):
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        bins: list[int] = []
        b = fill = 0
        for t in pdf[tokens_col]:
            t = 0 if t is None or t != t else int(t)  # NaN/None pack as 0
            if fill > 0 and fill + t > budget:
                b, fill = b + 1, 0
            fill += t
            bins.append(b)
        pdf["bin"] = bins
        return pdf

    return df.groupBy(shard_col).applyInPandas(pack, schema)


def packing_stats(packed: DataFrame, tokens_col: str, shard_col: str) -> DataFrame:
    """Per-(shard, bin) packing report: document count, token fill, and
    fill ratio against a caller-supplied budget is left to the caller —
    this returns the raw (n_docs, bin_tokens) aggregation (one shuffle,
    partial-agg combinable)."""
    return packed.groupBy(shard_col, "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col(tokens_col)).cast("long").alias("bin_tokens"),
    )
