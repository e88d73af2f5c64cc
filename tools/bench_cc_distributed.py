"""Timed artifact for the DISTRIBUTED connected-components engine
(round-15 verdict #3: the union-find tier routes every bench fixture
onto the driver, so the star rounds that must carry the query at 100 TB
need their own per-round timed artifact).

Builds a synthetic edge set ABOVE the small-graph gate from the sf
fixture's lineitem relation (deterministic, no RNG): edges
(l_orderkey*8+i, l_partkey*8+j) over a modulus fold that yields long
chains AND big stars — >200k distinct normalized edges at sf1+. Times:

  star_window       distributed rounds
  union_find        the driver tier FORCED (``graph._CC_SMALL_GRAPH_EDGES``
                    and ``_CC_SMALL_GRAPH_BYTES`` raised above the edge
                    set) — the A/B baseline beside the rounds

and checks both label sets are identical before timing.

Usage: python tools/bench_cc_distributed.py [sf_dir] [reps] [mult]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.fixtures/sf1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    mult = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    from science_datalake_spark.catalog import table
    from science_datalake_spark.operators import graph as G
    from science_datalake_spark.session import (
        SCAN_OPEN_COST_BYTES,
        get_spark,
        suggest_aqe,
        suggest_shuffle_partitions,
    )

    parts = suggest_shuffle_partitions(sf_dir)
    spark = get_spark(
        "bench-cc-distributed",
        **{
            "spark.sql.shuffle.partitions": str(parts),
            "spark.sql.files.openCostInBytes": str(SCAN_OPEN_COST_BYTES),
            "spark.sql.adaptive.enabled": suggest_aqe(sf_dir),
        },
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))

    def edges():
        li = table(spark, sf_dir, "lineitem")
        # chain edges (long diameters — the shape star CC exists for)
        # plus star edges (hub fan-in), folded over a modulus so
        # components are large; `mult` copies widen the edge set
        out = None
        for m in range(mult):
            e = li.select(
                (F.col("l_orderkey") * 8 + m).alias("src"),
                (
                    F.when(
                        F.col("l_linenumber") % 2 == 0,
                        F.col("l_orderkey") * 8 + m + 8,  # chain hop
                    ).otherwise(
                        (F.col("l_partkey") % 1000) * 8 + m  # star hub
                    )
                ).alias("dst"),
            )
            out = e if out is None else out.unionByName(e)
        return out

    n_norm = (
        edges()
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct()
        .count()
    )
    assert n_norm > 200_000, f"fixture too small for the over-gate bench: {n_norm}"
    print(f"# normalized distinct edges: {n_norm}", file=sys.stderr)

    def labels(df):
        return df.groupBy("comp").count()

    def tier(edge_cap: int, byte_cap: int):
        def run():
            G._CC_SMALL_GRAPH_EDGES, G._CC_SMALL_GRAPH_BYTES = edge_cap, byte_cap
            return labels(G.connected_components_star(edges()))

        return run

    # the rounds run above the caps; the union-find tier's caps are raised
    # past the edge set (two 8-byte ids per edge)
    variants = {
        "star_window": tier(0, 0),
        "union_find": tier(10 * n_norm, 10 * n_norm * 16),
    }
    # identity across engines first
    base = sorted(map(tuple, variants["star_window"]().collect()))
    for name, mk in variants.items():
        got = sorted(map(tuple, mk().collect()))
        assert got == base, f"{name} labels differ"
    print(f"# identity OK: {len(base)} components", file=sys.stderr)

    out: dict[str, list[float]] = {k: [] for k in variants}
    for rep in range(reps):
        for name, mk in variants.items():
            spark.sparkContext.setJobDescription(f"cc {name} rep{rep}")
            t0 = time.perf_counter()
            mk().toPandas()
            out[name].append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "parts": parts,
                "n_normalized_edges": n_norm,
                "n_components": len(base),
                "reps": out,
                "best": {k: min(v) for k, v in out.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
