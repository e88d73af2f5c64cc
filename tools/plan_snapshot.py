"""The registry's physical plans as a committed snapshot.

Dumps every registry query's formatted physical plan under
tools/dump_plans.py's bench session config, on the sf0.01 fixture with
``local[4]``, normalizes it, and writes one ``<query>.txt`` per query
plus ``digests.json`` (a sha256 per normalized plan, and the Spark
version). Normalization makes a plan independent of the host and of the
queries dumped before it: the fixture directory and the durable IVF
index directory become placeholders, and expression ids (``#123``), RDD
ids (``[45] at``) and exchange plan ids (``plan_id=678``) are renumbered
in order of first appearance.

Usage (SF_DIR is the sf0.01 fixture, ``tests/conftest.py``'s ``SF_ORACLE``):
    python tools/plan_snapshot.py update SF_DIR
        rewrite the committed snapshot in plans/registry/
    python tools/plan_snapshot.py dump OUT_DIR SF_DIR
        write a fresh snapshot to OUT_DIR (tests/test_plan_snapshot.py
        compares one against the committed snapshot)

A change that moves a plan on purpose runs ``update`` and lists the moved
queries in CHANGES.md; a Spark upgrade regenerates the snapshot on its own.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, TOOLS)
sys.path.insert(0, os.path.dirname(TOOLS))

SNAPSHOT_DIR = os.path.join(os.path.dirname(TOOLS), "plans", "registry")
#: ``local[N]``: repartition counts and the default parallelism are plan inputs
SNAPSHOT_CPUS = "4"


def normalize(plan: str, sf_dir: str, ivf_dir: str) -> str:
    plan = plan.replace(ivf_dir, "<ivf_index>")
    plan = plan.replace(os.path.abspath(sf_dir), "<sf>")
    for pattern, fmt in (
        (r"#(\d+)", "#{}"),
        (r"\[(\d+)\] at ", "[{}] at "),
        (r"plan_id=(\d+)", "plan_id={}"),
    ):
        seen: dict[str, int] = {}
        plan = re.sub(
            pattern,
            lambda m: fmt.format(seen.setdefault(m.group(1), len(seen) + 1)),
            plan,
        )
    return plan


def dump(out_dir: str, sf_dir: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = SNAPSHOT_CPUS
    import dump_plans

    from science_datalake_spark.queries.llm_pipeline import _ivf_durable_path

    queries = dump_plans.registry()
    spark = dump_plans.bench_session(sf_dir, "sds-plan-snapshot")
    ivf_dir = _ivf_durable_path(sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    digests = {}
    for name in sorted(queries):
        text = normalize(dump_plans.plan_text(queries[name], spark, sf_dir), sf_dir, ivf_dir)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(text)
        digests[name] = hashlib.sha256(text.encode()).hexdigest()
    meta = {"spark_version": spark.version, "cpus": SNAPSHOT_CPUS, "digests": digests}
    with open(os.path.join(out_dir, "digests.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
        f.write("\n")


def main() -> None:
    args = sys.argv[1:]
    if args[:1] == ["update"] and len(args) == 2:
        out_dir, sf_dir = SNAPSHOT_DIR, args[1]
        for old in os.listdir(out_dir) if os.path.isdir(out_dir) else []:
            os.remove(os.path.join(out_dir, old))
    elif args[:1] == ["dump"] and len(args) == 3:
        out_dir, sf_dir = args[1], args[2]
    else:
        sys.exit(__doc__)
    dump(out_dir, sf_dir)
    print(f"wrote {out_dir}")


if __name__ == "__main__":
    main()
