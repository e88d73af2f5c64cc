"""Every registry query's physical plan against the committed snapshot.

``plans/registry/`` holds each query's normalized formatted plan at
sf0.01 and its sha256 (see tools/plan_snapshot.py). A fresh dump runs in
its own process, so the plans come from the bench session config with
``local[4]``, not from this suite's session. A change that moves a plan
on purpose regenerates the snapshot with
``python tools/plan_snapshot.py update SF_DIR`` (the sf0.01 fixture)
and lists the moved queries.
"""

from __future__ import annotations

import difflib
import json
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_ORACLE

ROOT = Path(__file__).resolve().parent.parent
SNAPSHOT = ROOT / "plans" / "registry"


def test_registry_plans_match_snapshot(tmp_path):
    proc = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "plan_snapshot.py"), "dump", str(tmp_path), SF_ORACLE],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    want = json.loads((SNAPSHOT / "digests.json").read_text())
    got = json.loads((tmp_path / "digests.json").read_text())
    assert got["spark_version"] == want["spark_version"], (
        "Spark version changed: regenerate the snapshot in a change of its own"
    )
    missing = sorted(want["digests"].keys() - got["digests"].keys())
    added = sorted(got["digests"].keys() - want["digests"].keys())
    changed = sorted(
        n for n in want["digests"].keys() & got["digests"].keys()
        if want["digests"][n] != got["digests"][n]
    )
    diffs = [
        "".join(
            list(
                difflib.unified_diff(
                    (SNAPSHOT / f"{n}.txt").read_text().splitlines(True),
                    (tmp_path / f"{n}.txt").read_text().splitlines(True),
                    f"snapshot/{n}",
                    f"fresh/{n}",
                    n=1,
                )
            )[:40]
        )
        for n in changed[:5]
    ]
    assert not (missing or added or changed), (
        f"changed plans: {changed}\nqueries gone: {missing}\nnew queries: {added}\n"
        + "\n".join(diffs)
    )
