"""Physical-plan predicates for tests: assert the plan you designed is the
plan you got (SURVEY §4 — the reference delegates to DuckDB's optimizer;
here we delegate to Catalyst but VERIFY the outcome).

The plan tests use them to pin the scale-critical properties:
- filters reach the Parquet scan (PushedFilters)
- scans read only projected columns (ReadSchema)
- dimension joins broadcast (BroadcastHashJoin), fact joins sort-merge
- hot expressions stay inside WholeStageCodegen
- top-k plans as TakeOrderedAndProject (no global sort)

A regression in any of these is invisible at sf0.01 and fatal at 100 TB —
this module makes it a test failure instead.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame, *fragments: str) -> bool:
    """True if every fragment appears in some PushedFilters list."""
    plan = physical_plan(df)
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    return all(f in pushed for f in fragments)


def scan_columns(df: DataFrame) -> list[str]:
    """Union of columns the Parquet scans actually read (ReadSchema)."""
    plan = physical_plan(df)
    cols: list[str] = []
    for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        cols.extend(c.split(":")[0].strip() for c in m.split(",") if c.strip())
    return cols


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (broadcast exchanges not
    counted — those are the cheap kind).

    Counts formatted-plan NODE BLOCKS: each physical node appears once
    as ``(i) Exchange`` with its partitioning on a following
    ``Arguments:`` line. The previous single-line pattern
    (``Exchange hashpartitioning``) matched only the legacy simple-plan
    layout and counted 0 on every AQE formatted plan — which made every
    ``count_exchanges(df) <= N`` pin in tests vacuously green (round-10
    finding, exposed by the first ``== N`` assertion)."""
    plan = physical_plan(df)
    n = 0
    for block in plan.split("\n\n"):
        stripped = block.strip()
        if not stripped:
            continue
        first = stripped.splitlines()[0]
        if re.match(r"\(\d+\) Exchange$", first.strip()) and (
            "hashpartitioning" in block or "rangepartitioning" in block
        ):
            n += 1
    return n


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def uses_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in physical_plan(df)


def is_take_ordered(df: DataFrame) -> bool:
    """Global top-k planned as TakeOrderedAndProject (per-partition heap)."""
    return "TakeOrderedAndProject" in physical_plan(df)


def count_broadcast_hints(df: DataFrame) -> int:
    """Number of FORCED broadcast hints surviving analysis (ResolvedHint
    nodes in the analyzed logical plan). Planner- or AQE-chosen broadcast
    joins don't count — only explicit ``F.broadcast()`` / ``.hint()``
    calls. Round-10 policy (round-9 verdict item 1): forced hints are
    reserved for relations whose cardinality is FIXED (nation/region,
    codebooks, 1-row aggregates) or contract-bounded (query batches,
    probe sets); a hint on anything that scales with the data is a latent
    broadcast OOM at 100× that AQE would have avoided."""
    analyzed = df._jdf.queryExecution().analyzed().toString()  # type: ignore[attr-defined]
    return len(re.findall(r"ResolvedHint \(strategy=broadcast\)", analyzed))


def codegen_stage_count(df: DataFrame) -> int:
    """WholeStageCodegen subtree count. NOTE: AQE defers codegen to
    execution time — build ``df`` with ``spark.sql.adaptive.enabled=false``
    (see tests/test_plans.py) or this reports 0."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "codegen"
    )
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", plan)
    return int(m.group(1)) if m else 0
