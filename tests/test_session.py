"""Session defaults that the workloads depend on for speed, checked
through the running JVM, and the class-data archive the driver JVM
starts from."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from map_reduce_mongodb_spark import session
from tests.conftest import SF_DIR


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM (codegen cache misses)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_curation_sized_working_set(spark):
    """A working set of more than 100 generated classes, which a single
    curation job has, is compiled once: a repeated plan is served from
    the codegen cache instead of cycling an LRU smaller than the set."""
    def run_all():
        # an inlined literal makes each plan's generated source distinct
        for i in range(150):
            spark.range(8).select((F.col("id") * i).alias("x")).collect()

    run_all()
    first_pass_done = _compiles(spark)
    run_all()
    assert _compiles(spark) - first_pass_done == 0


# --- the driver JVM's class-data archive --------------------------------
#
# Each session below runs in its own interpreter, with XDG_CACHE_HOME
# pointing at a test directory, because the archive is dumped when the
# driver JVM exits and is published as that interpreter exits. The
# session is left running, as the CLI leaves it, and feeds an
# accumulator, so the exit also checks that the JVM is not stopped
# under PySpark's accumulator server.

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SESSION = r"""
import json, os, sys
from map_reduce_mongodb_spark import io
from map_reduce_mongodb_spark.session import get_spark
env0 = dict(os.environ)
spark = get_spark(master="local[2]", shuffle_partitions=2,
                  extra_conf=json.loads(sys.argv[1]))
env1 = dict(os.environ)
jvm = spark.sparkContext._jvm
args = [str(a) for a in jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getInputArguments()]
io.ensure_worker_imports(spark)
acc = spark.sparkContext.accumulator(0)
spark.sparkContext.parallelize(range(1000), 2).foreach(lambda x: acc.add(x))
total = acc.value
print(json.dumps({
    "sum": total, "args": args, "pid": os.getpid(),
    "env_changed": sorted(k for k in set(env0) | set(env1)
                          if env0.get(k) != env1.get(k))}))
"""

#: Set by PySpark's SparkContext itself, for its Python workers.
_PYSPARK_ENV = {"SPARK_AUTH_SOCKET_TIMEOUT", "SPARK_BUFFER_SIZE"}


def _env(cache_home, **env) -> dict:
    out = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    out.update(XDG_CACHE_HOME=str(cache_home), PYTHONPATH=ROOT, **env)
    return out


def _session(cache_home, extra_conf=None, **env) -> dict:
    """Start and use one session in a new interpreter, which exits with
    it running; returns its answer, the driver JVM's input arguments and
    the changed env keys."""
    out = subprocess.run(
        [sys.executable, "-c", _SESSION, json.dumps(extra_conf or {})],
        env=_env(cache_home, **env), cwd=str(cache_home),
        capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "Traceback" not in out.stderr, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["sum"] == 499500
    return res


def _files(cache_home) -> list[str]:
    return sorted(glob.glob(os.path.join(str(cache_home), "spark-graft",
                                         "cds-*")))


def _published(cache_home) -> tuple[str, str]:
    """The one archive in the cache and its manifest, checked intact."""
    archives = [f for f in _files(cache_home) if f.endswith(".jsa")]
    assert len(archives) == 1, _files(cache_home)
    path = archives[0]
    manifest = path[:-len(".jsa")] + ".json"
    assert _files(cache_home) == [path, manifest]   # no temp left
    assert session._intact(session._Archive(path, manifest, "", "", False))
    return path, manifest


def _cds_args(res) -> list[str]:
    return [a for a in res["args"] if "Archive" in a or "Xshare" in a]


@pytest.fixture(scope="module")
def cache_home(tmp_path_factory):
    """A cache whose archive the CLI dumped: the first run on a machine."""
    home = tmp_path_factory.mktemp("cds-cache")
    cli = subprocess.run(
        [sys.executable, "-m", "map_reduce_mongodb_spark", "--sf-dir", SF_DIR,
         "--out-dir", str(home / "usgs_out")],
        env=_env(home), cwd=str(home), capture_output=True, text=True,
        timeout=600)
    assert cli.returncode == 0, cli.stderr[-4000:]
    return home, cli.stdout


def test_a_missing_archive_is_dumped_and_published_after_a_clean_stop(
        cache_home):
    """The dumping run keeps stdout clean: the JVM dumps as the CLI
    exits, after its JSON summary, and CDS warns once per skipped class
    (signed jars, old class files) by default to stdout."""
    home, stdout = cache_home
    assert json.loads(stdout.strip().splitlines()[-1])["exported"] == 15
    assert "[cds" not in stdout
    _published(home)


def test_the_next_session_maps_the_archive(cache_home):
    """``_JAVA_OPTIONS=-Xshare:on`` overrides the session's
    ``-Xshare:auto``: the driver JVM starts only if the archive maps.
    The caller's own driver Java options stay next to the archive's.
    The session leaves nothing behind: ``os.environ`` is as it was
    after the launch, and the worker zip is gone after the exit."""
    home, _stdout = cache_home
    path, _manifest = _published(home)
    mtime = os.stat(path).st_mtime_ns
    res = _session(home, {"spark.driver.extraJavaOptions": "-Dx=y"},
                   _JAVA_OPTIONS="-Xshare:on")
    assert "-Dx=y" in res["args"]
    assert f"-XX:SharedArchiveFile={path}" in res["args"]
    assert not any("ArchiveClassesAtExit" in a for a in res["args"])
    assert set(res["env_changed"]) <= _PYSPARK_ENV
    assert _published(home) == (path, _manifest)
    assert os.stat(path).st_mtime_ns == mtime      # dumped once per key
    assert not os.path.exists(f"/tmp/mrms_pkg_{res['pid']}.zip")


@pytest.mark.parametrize("damage", ["truncated", "garbage"])
def test_a_damaged_archive_is_deleted_and_dumped_again(cache_home, damage):
    """Mapping a truncated archive kills the JVM with SIGBUS even under
    ``-Xshare:auto``; the cheap check must catch it before the launch.
    The garbage file has the recorded size and mtime, so only its
    header tells it apart."""
    home, _stdout = cache_home
    path, manifest = _published(home)
    size = os.path.getsize(path)
    os.chmod(path, 0o644)
    if damage == "truncated":
        os.truncate(path, size // 2)
    else:
        rec = json.load(open(manifest))
        with open(path, "wb") as f:
            for _ in range(size // (1 << 20)):
                f.write(b"\xff" * (1 << 20))
            f.write(b"\xff" * (size % (1 << 20)))
        os.utime(path, ns=(rec["mtime_ns"], rec["mtime_ns"]))
    res = _session(home)
    assert _cds_args(res)[0].startswith("-XX:ArchiveClassesAtExit=")
    _published(home)


def test_a_temp_left_by_a_killed_dump_is_never_published(cache_home):
    """A temp of a process that is gone is deleted unread, even a
    complete one; the session dumps and publishes its own."""
    home, _stdout = cache_home
    path, manifest = _published(home)
    dead = subprocess.Popen(["true"])
    dead.wait()
    stale = f"{path[:-len('.jsa')]}.{dead.pid}.tmp"
    shutil.copy2(path, stale)
    stale_inode = os.stat(stale).st_ino
    os.remove(path)
    os.remove(manifest)
    res = _session(home)
    assert _cds_args(res)[0] == (
        f"-XX:ArchiveClassesAtExit={path[:-len('.jsa')]}.{res['pid']}.tmp")
    assert not os.path.exists(stale)
    assert _published(home)[0] == path
    assert os.stat(path).st_ino != stale_inode


class _ExitedJVM:
    def __init__(self, returncode):
        self.returncode = returncode

    def poll(self):
        return self.returncode


@pytest.mark.parametrize("returncode, trial, published", [
    (0, "true", True),
    (-9, "true", False),     # killed while dumping
    (0, "false", False),     # the trial JVM could not map the dump
])
def test_a_dump_is_published_only_after_a_clean_exit_and_a_trial(
        tmp_path, monkeypatch, returncode, trial, published):
    prefix = str(tmp_path / "cds-0")
    archive = session._Archive(prefix + ".jsa", prefix + ".json",
                               prefix + ".1.tmp", str(tmp_path), True)
    with open(archive.tmp, "wb") as f:
        f.write(session._ARCHIVE_MAGIC + b"\0" * 1000)
    monkeypatch.setattr(session, "_PENDING", session._Dump(
        archive, _ExitedJVM(returncode), [trial], os.getpid()))
    session._publish_dump()
    assert session._PENDING is None
    assert not os.path.exists(archive.tmp)
    assert session._intact(archive) is published


@pytest.mark.parametrize("how", ["SPARK_CONF_DIR", "-Xshare:off"])
def test_a_caller_customised_launch_turns_the_archive_off(tmp_path, how):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    if how == "SPARK_CONF_DIR":
        res = _session(tmp_path, SPARK_CONF_DIR=str(conf_dir))
    else:
        res = _session(tmp_path, {"spark.driver.extraJavaOptions": how})
    assert _cds_args(res) == ([] if how == "SPARK_CONF_DIR" else [how])
    assert set(res["env_changed"]) <= _PYSPARK_ENV
    assert _files(tmp_path) == []
