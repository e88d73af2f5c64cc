"""Dump `.explain("formatted")` for a set of registry queries.

Builds a session with the EXACT bench config (shuffle partitions from
input volume, 128 KB openCostInBytes scan fan-out, AQE gate) so the
captured plan is the plan the bench actually runs — a mis-configured
harness changes plan shape (scan fan-out is a plan input; see the
round-14b dsir correction in BENCH_NOTES.md).

Usage:
    python tools/dump_plans.py OUT_DIR SUFFIX [sf_dir] [q1,q2,...]

Writes OUT_DIR/<query><SUFFIX>.txt per query (e.g. SUFFIX=_after).
With no query list, dumps every registry query.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    names = None
    if len(sys.argv) > 4:
        names = [n.strip() for n in sys.argv[4].split(",") if n.strip()]

    queries = registry()
    if names is None:
        names = sorted(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    spark = bench_session(sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        path = os.path.join(out_dir, f"{name}{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan_text(queries[name], spark, sf_dir))
        print(f"wrote {path}")


def registry() -> dict:
    """Every registered query (aux and main) by name."""
    from science_datalake_spark.queries import load_all, load_aux

    queries, _ = load_all()
    aux_q, _ = load_aux()
    return {**aux_q, **queries}


def bench_session(sf_dir: str, app_name: str = "sds-plan-dump"):
    """The session bench.py runs ``sf_dir`` under."""
    from science_datalake_spark.session import (
        SCAN_OPEN_COST_BYTES,
        get_spark,
        suggest_aqe,
        suggest_shuffle_partitions,
    )

    parts = suggest_shuffle_partitions(sf_dir)
    spark = get_spark(
        app_name,
        **{
            "spark.sql.shuffle.partitions": str(parts),
            "spark.sql.files.openCostInBytes": str(SCAN_OPEN_COST_BYTES),
            "spark.sql.adaptive.enabled": suggest_aqe(sf_dir),
            # formatted explain truncates expression trees at 100 chars by
            # default, hiding exactly the evidence plan files exist to carry
            # (e.g. how many times a sub-expression is re-evaluated inside a
            # projection). Raise it so the dumped trees are complete.
            "spark.sql.maxMetadataStringLength": "100000",
        },
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    return spark


def plan_text(query, spark, sf_dir: str) -> str:
    """The query's formatted physical plan, or one failure line."""
    try:
        df = query(spark, sf_dir)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception as e:  # keep going; record the failure
        return f"PLAN DUMP FAILED: {e}\n"


if __name__ == "__main__":
    main()
