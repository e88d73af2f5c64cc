"""Checks of the benchmark's own inputs and result checking.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the checkout root. The last test drives a real Spark session
(about a minute on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import common  # noqa: E402
import fixture  # noqa: E402
import lakegen  # noqa: E402
import runner  # noqa: E402


def test_fixture_is_a_function_of_the_seed():
    a, b, c = fixture.tables(1, 0.001), fixture.tables(1, 0.001), fixture.tables(2, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}


def test_lake_golden_counts_track_distinct_clean_dois():
    papers = 200
    golden = lakegen.golden_unified_rows(5, 3, papers)
    assert golden == sorted(golden) and len(set(golden)) == 3
    # every paper is in openalex or s2ag, so each file adds all its papers
    assert golden == [papers, 2 * papers, 3 * papers]
    assert lakegen._clean("HTTPS://DOI.ORG/10.1/LAKE.7") == "10.1/lake.7"
    assert lakegen._clean("bad") is None and lakegen._clean(None) is None


def test_wrong_golden_value_lowers_ok_frac(tmp_path):
    """A golden unified row count that is off by one fails that update."""
    prepared = str(tmp_path / "prepared")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([ROOT, HERE]))
    subprocess.run(
        [sys.executable, os.path.join(HERE, "prepare.py"), "lake_update", "3", prepared],
        check=True, env=env, stdout=subprocess.DEVNULL,
    )  # fmt: skip
    path = os.path.join(prepared, "expected.json")
    with open(path) as f:
        expected = json.load(f)
    expected["unified_rows"][lakegen.BASE_FILES] += 1
    with open(path, "w") as f:
        json.dump(expected, f)
    scratch = tmp_path / "scratch"
    (scratch / "tmp").mkdir(parents=True)
    out = tmp_path / "result.json"
    env["SPARK_LOCAL_DIRS"] = str(scratch / "tmp")
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={scratch / 'tmp'}"
    subprocess.run(
        [sys.executable, os.path.join(HERE, "runner.py"), "--workload", "lake_update",
         "--seed", "3", "--seconds", "1", "--t0", repr(time.time()),
         "--prepared", prepared, "--scratch", str(scratch), "--out", str(out)],
        check=True, env=env, cwd=ROOT, stdout=subprocess.DEVNULL,
    )  # fmt: skip
    shutil.rmtree(scratch, ignore_errors=True)
    res = json.loads(out.read_text())
    # the full build and the later updates pass; the first update fails
    attempted = 1 + runner.MIN_UPDATES
    assert res["attempted"] == attempted and res["failed"] == 1
    assert res["metrics"]["ok_frac"]["value"] == (attempted - 1) / attempted
    assert res["correct"] is False
    assert set(common.END_TO_END) <= set(res["metrics"])
