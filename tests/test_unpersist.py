"""``util.unpersist``: the one guard for releasing a cached handle that a
session cache drops, which may belong to a stopped session.

The sessions run in a child process, so stopping one does not stop the
suite's session.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

from science_datalake_spark.util import unpersist

def session():
    return SparkSession.builder.master("local[2]").appName("unpersist-guard").getOrCreate()

spark = session()
df = spark.range(10).persist()
df.count()
spark.stop()
try:
    df.unpersist()
    print("stopped: raw call returned")
except Py4JJavaError:
    print("stopped: raw call raised Py4JJavaError")
unpersist(df)
print("stopped: guard returned")

spark = session()
df.unpersist()
unpersist(df)
print("new session: both returned")

class Broken:
    def unpersist(self):
        raise RuntimeError("not a stopped session")

try:
    unpersist(Broken())
    print("other error: swallowed")
except RuntimeError:
    print("other error: propagated")
spark.stop()
"""


def test_unpersist_guard_stopped_and_live_sessions():
    env = dict(os.environ, PYTHONPATH=ROOT)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    p = subprocess.run(
        [sys.executable, "-c", _CHILD], env=env, capture_output=True, text=True, timeout=300
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert p.stdout.splitlines() == [
        "stopped: raw call raised Py4JJavaError",
        "stopped: guard returned",
        "new session: both returned",
        "other error: propagated",
    ], p.stdout
