"""The driver JVM's class-data archive (``session._class_data_archive``).

The pure tests build a fake ``SPARK_HOME`` and stand in for the gateway, so
they start no JVM. The lifecycle test runs real sessions in child
processes whose ``XDG_CACHE_HOME`` is the test's own directory, so the
user's cache is neither read nor written.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

import pytest
from pyspark import SparkContext

from science_datalake_spark import session as S

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOPT = "spark.driver.extraJavaOptions"


@pytest.fixture
def fake_home(tmp_path, monkeypatch):
    """A fake SPARK_HOME (two jars, a conf dir of templates), an empty
    cache, no gateway up, and ``atexit.register`` recorded."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"x" * 10)
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", *S._CLASSPATH_ENV):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    hooks: list = []
    monkeypatch.setattr(S.atexit, "register", lambda *a: hooks.append(a))
    cache = tmp_path / "cache" / "science_datalake_spark" / "jvm"
    return types.SimpleNamespace(home=home, hooks=hooks, cache=cache)


def _launch(conf: dict[str, str]) -> str | None:
    """Run the helper as ``get_spark`` does, with a stand-in gateway
    coming up inside it; returns ``SPARK_CONF_DIR`` as the launch saw it."""
    with S._class_data_archive(conf):
        seen = os.environ.get("SPARK_CONF_DIR")
        if SparkContext._gateway is None:
            SparkContext._gateway = types.SimpleNamespace(proc="proc")
    return seen


def test_archive_flags_and_conf_dir(fake_home):
    conf = {JOPT: "-Xlog:all=warning:stderr", "spark.driver.memory": "8g"}
    seen = _launch(conf)
    assert seen == str(fake_home.cache / "conf") and os.listdir(seen) == []
    assert "SPARK_CONF_DIR" not in os.environ  # restored after the launch
    opts = conf[JOPT].split()
    assert opts[0] == "-Xlog:all=warning:stderr"
    assert opts[1].startswith(f"-XX:ArchiveClassesAtExit={fake_home.cache}/")
    assert opts[1].endswith(f".jsa.{os.getpid()}.tmp")
    assert [h[0] for h in fake_home.hooks] == [S._finish_dump]
    # once the archive is written, the next launch maps it and adds no hook
    prefix = fake_home.hooks[0][3]
    with open(f"{prefix}.7.jsa", "wb") as f:
        f.write(b"x" * 7)
    SparkContext._gateway = None
    conf = {"spark.driver.memory": "8g"}
    _launch(conf)
    assert conf[JOPT] == f"-XX:SharedArchiveFile={prefix}.7.jsa"
    assert len(fake_home.hooks) == 1


def test_conf_dir_with_a_real_file_launches_as_before(fake_home):
    (fake_home.home / "conf" / "spark-defaults.conf").write_text("spark.foo bar\n")
    conf = {JOPT: "-Xlog:all=warning:stderr"}
    assert _launch(conf) is None
    assert conf[JOPT] == "-Xlog:all=warning:stderr" and fake_home.hooks == []


@pytest.mark.parametrize("var", [*S._CLASSPATH_ENV, "spark.driver.extraClassPath"])
def test_classpath_settings_launch_as_before(fake_home, monkeypatch, var):
    conf: dict[str, str] = {}
    if var.startswith("spark."):
        conf[var] = "extra-classes"
    else:
        monkeypatch.setenv(var, "extra-classes")
    assert _launch(conf) is None
    assert JOPT not in conf and fake_home.hooks == []


def test_unwritable_cache_launches_as_before(fake_home, monkeypatch, capsys):
    fake_home.cache.mkdir(parents=True)
    monkeypatch.setattr(S.os, "access", lambda path, mode: False)
    conf: dict[str, str] = {}
    assert _launch(conf) is None
    assert JOPT not in conf
    err = capsys.readouterr().err
    assert err.count("\n") == 1 and "not writable" in err


def test_second_session_in_a_process_adds_no_flag(fake_home):
    SparkContext._gateway = types.SimpleNamespace(proc="already up")
    conf = {JOPT: "-Xlog:all=warning:stderr"}
    assert _launch(conf) is None
    assert conf[JOPT] == "-Xlog:all=warning:stderr" and fake_home.hooks == []


def test_key_follows_jars_java_and_heap(fake_home, tmp_path):
    jars = str(fake_home.home / "jars")
    java = tmp_path / "java"
    java.write_bytes(b"elf")
    key = S._archive_key(jars, str(java), "8g")
    assert S._archive_key(jars, str(java), "8g") == key
    assert S._archive_key(jars, str(java), "4g") != key
    jar = fake_home.home / "jars" / "a.jar"
    jar.write_bytes(b"x" * 11)
    sized = S._archive_key(jars, str(java), "8g")
    assert sized != key
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert S._archive_key(jars, str(java), "8g") not in (key, sized)


def test_stale_dump_of_dead_process_is_removed(fake_home):
    _launch({})
    prefix = fake_home.hooks[0][3]
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    stale = f"{prefix}.jsa.{dead.pid}.tmp"
    live = f"{prefix}.jsa.{os.getppid()}.tmp"
    for path in (stale, live):
        open(path, "w").close()
    SparkContext._gateway = None
    _launch({})
    assert not os.path.exists(stale)
    assert os.path.exists(live)


def test_archive_of_another_size_is_deleted(tmp_path):
    prefix = str(tmp_path / "k")
    with open(f"{prefix}.9.jsa", "wb") as f:
        f.write(b"x" * 5)
    assert S._written_archive(prefix) is None
    assert os.listdir(tmp_path) == []
    with open(f"{prefix}.5.jsa", "wb") as f:
        f.write(b"x" * 5)
    assert S._written_archive(prefix) == f"{prefix}.5.jsa"


def _fake_jvm(script: str) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, "-c", script], stdin=subprocess.PIPE)


def test_finish_dump_moves_the_written_archive(tmp_path, monkeypatch):
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    prefix = str(tmp_path / "k")
    dump = f"{prefix}.jsa.1.tmp"
    # like PythonGatewayServer: exit on stdin EOF, writing the archive
    proc = _fake_jvm(f"import sys; sys.stdin.read(); open({dump!r}, 'w').write('x' * 12)")
    S._finish_dump(proc, dump, prefix)
    assert proc.returncode == 0
    assert os.listdir(tmp_path) == ["k.12.jsa"]


def test_finish_dump_kills_a_jvm_that_does_not_exit(tmp_path, monkeypatch):
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.setattr(S, "_DUMP_TIMEOUT_S", 0.5)
    prefix = str(tmp_path / "k")
    dump = f"{prefix}.jsa.1.tmp"
    open(dump, "w").write("partial")
    proc = _fake_jvm("import time; time.sleep(60)")
    S._finish_dump(proc, dump, prefix)
    assert proc.returncode is not None and proc.returncode < 0
    assert os.listdir(tmp_path) == []


_CHILD = """
import json, sys
from science_datalake_spark.catalog import table
from science_datalake_spark.session import get_spark

spark = get_spark("archive-lifecycle")
pid = spark.sparkContext._gateway.proc.pid
with open(f"/proc/{pid}/maps") as f:
    maps = f.read()
rows = table(spark, sys.argv[2], "region").orderBy("r_regionkey").collect()
with open(sys.argv[1], "w") as f:
    json.dump({"pid": pid, "maps": maps, "regions": [r["r_name"] for r in rows]}, f)
"""


def test_archive_lifecycle_across_processes(tmp_path, sf_smoke):
    """Process 1 writes the archive as it exits; process 2 maps it; a
    truncated archive is replaced, not mapped. No process prints on
    stdout, and none outlives its parent."""
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.update(XDG_CACHE_HOME=str(tmp_path), PYTHONPATH=ROOT, SPARK_GRAFT_CPUS="2")
    cache = tmp_path / "science_datalake_spark" / "jvm"

    def child(n: int) -> dict:
        out = tmp_path / f"child{n}.json"
        p = subprocess.run(
            [sys.executable, "-c", _CHILD, str(out), sf_smoke],
            env=env,
            capture_output=True,
            timeout=600,
        )
        assert p.returncode == 0, p.stderr.decode()[-3000:]
        assert p.stdout == b""
        with open(out) as f:
            got = json.load(f)
        assert got["regions"] == ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        got["stderr"] = p.stderr
        return got

    def gone(pid: int) -> bool:
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return True
        return False

    def archives() -> list[str]:
        return sorted(n for n in os.listdir(cache) if n != "conf")

    first = child(1)
    assert gone(first["pid"])  # the dump ended inside process 1
    assert b"[warning][cds]" in first["stderr"]  # the dump's notes, on stderr
    (archive,) = archives()
    assert archive.endswith(".jsa") and str(cache) not in first["maps"]
    second = child(2)
    assert str(cache / archive) in second["maps"]
    assert archives() == [archive]

    # a truncated copy under the same name; replaced, not truncated in
    # place, as a JVM still mapping the old file would die of SIGBUS
    path = cache / archive
    with open(path, "rb") as f:
        head = f.read(1 << 20)
    with open(f"{path}.cut", "wb") as f:
        f.write(head)
    os.replace(f"{path}.cut", path)
    third = child(3)
    assert gone(third["pid"])
    assert str(cache) not in third["maps"]
    (rewritten,) = archives()
    assert rewritten.endswith(".jsa")
    assert os.path.getsize(cache / rewritten) == int(rewritten.split(".")[1])
