"""Cached preparation for one (workload, seed): generated inputs plus the
expected results every operation is checked against.

Runs in its own process before the measuring process starts, so none of it
is timed. The output directory is complete only once ``ready.json`` exists.

- ``interactive_sf01``: the seeded sf0.1 tables (``fixture.py``), and for
  every operation the result digest of its DuckDB oracle: the registry's
  oracle SQL for registry queries, the same SQL text for console queries.
- ``lake_update``: the seeded NDJSON files (``lakegen.py``) and the golden
  unified row count after each file.

Usage: python3 perfbench/prepare.py <workload> <seed> <out_dir>
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import common


def prepare_interactive(seed: int, out: str) -> None:
    import fixture
    from science_datalake_spark.oracle import duckdb_connection
    from science_datalake_spark.queries import load_all, load_aux
    from science_datalake_spark.webapp import EXAMPLE_QUERIES

    data = os.path.join(out, "data")
    fixture.write(seed, common.INTERACTIVE_SF, data)
    _, oracle = load_all()
    _, aux_oracle = load_aux()
    oracle = {**aux_oracle, **oracle}
    expected: dict[str, str] = {}
    con = duckdb_connection(data)
    # the convenience views catalog.register_views defines for the console
    con.execute(
        "CREATE VIEW recent_orders AS SELECT * FROM orders "
        "WHERE o_orderdate >= DATE '1997-01-01'"
    )
    try:
        for name in common.INTERACTIVE_QUERIES:
            expected[name] = common.digest(con.sql(oracle[name]).df())
        for title in common.CONSOLE_QUERIES:
            sql = EXAMPLE_QUERIES[title]
            expected[common.console_id(title)] = common.digest(con.sql(sql).df())
    finally:
        con.close()
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)


def prepare_lake(seed: int, out: str) -> None:
    import lakegen

    files = lakegen.BASE_FILES + common.LAKE_DELTAS
    lakegen.write_sources(seed, files, common.LAKE_PAPERS_PER_FILE, os.path.join(out, "sources"))
    golden = lakegen.golden_unified_rows(seed, files, common.LAKE_PAPERS_PER_FILE)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"unified_rows": golden}, f)


def main() -> None:
    workload, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if workload == "interactive_sf01":
        prepare_interactive(seed, out)
    else:
        prepare_lake(seed, out)
    with open(os.path.join(out, "ready.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed}, f)
    # flush the new files now, not as background writeback during a timed run
    os.sync()


if __name__ == "__main__":
    main()
