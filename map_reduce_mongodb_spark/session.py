"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every setting is chosen so the
same code ships unchanged to a 1000-executor cluster against ~100 TB:

- **AQE on** (coalesce partitions, skew-join splitting, runtime join
  strategy switching) so plans self-correct at scale.
- **Arrow on** so any ``pandas_udf`` / ``applyInPandas`` escape hatch
  moves data in columnar batches, never row-at-a-time pickling.
- **Nested schema pruning on** so the deeply nested GeoJSON structs of
  the flagship pipeline (SURVEY.md §1.2) only read the accessed leaves
  from parquet.
- ``spark.sql.shuffle.partitions`` defaults to a small local value but
  AQE's coalescing makes the number advisory; on a real cluster you set
  it (or leave AQE's initialPartitionNum) to ~2-3x total cores.
- **Codegen cache sized to the working set.** A curation job is a chain
  of small jobs whose generated classes outnumber Spark's default
  100-entry codegen LRU, which then recompiles (Janino, then HotSpot)
  nearly every class on every job. The cache holds every class a
  session serving the perfbench workloads compiles, so a repeated plan
  compiles once per session.
- **Driver JVM started from a class-data archive.** Most of a cold
  ``get_spark`` is the JVM loading and verifying Spark's classes from
  ~290 jars. The first session for a JDK, jar list and launch
  classpath dumps a dynamic AppCDS archive (JEP 350) of the classes
  it loaded when its JVM exits; later sessions map it, which halves
  set-up (perfbench ``setup_s`` on ``usgs_etl``, 4 vCPU: 5.4 s to
  2.8 s). The archive is generated on the machine, never shipped, and
  kept in ``${XDG_CACHE_HOME:-~/.cache}/spark-graft/``. A dump is
  published only after a ``-Xshare:on`` trial JVM maps it; at use, a
  file that does not match its recorded size and mtime is deleted,
  never mapped, as a truncated archive kills the JVM with SIGBUS even
  under ``-Xshare:auto``. Only a driver that this function launches
  uses it; a launch the caller customises (own ``SPARK_CONF_DIR``, CDS
  options, extra classpath) starts plain.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import re
import shutil
import subprocess
from dataclasses import dataclass

from pyspark.sql import SparkSession

# Defaults for the local[N] sessions of perfbench and the tier-1 tests
# (N = the cores the process may use). On a real cluster these are
# overridden by spark-submit conf; nothing here is load-bearing for
# correctness.
_LOCAL_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Pure-parquet workloads: bigger splits = fewer, denser tasks.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # Generated-class cache: an LRU keyed by the generated source, 100
    # entries by default. Distinct classes compiled by a cold session
    # (perfbench inputs, seed 1): 136 per dedup_curation job, 253-265
    # per 22-query tpch_mix round, 35 per usgs_etl op. At 100 entries a
    # curation job cycles the LRU, so every later job recompiled about
    # 105 classes and loaded 190-270 new ones for HotSpot to compile
    # again; at 1000, 0-8 per job (tpch_mix: about 235 per round to 0).
    # 1000 is over twice the ~440 classes of one session serving all
    # three workloads.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Keep the UI off in tests and benchmarks: saves startup time and ports.
    "spark.ui.enabled": "false",
    # No console progress bars: they interleave with (and in captured
    # output can truncate away) the one-line JSON summaries that the
    # CLI and perfbench/run.py print as their last stdout line.
    "spark.ui.showConsoleProgress": "false",
    # Metastore artifacts (bucketed-table demos) stay out of the repo.
    "spark.sql.warehouse.dir": "/tmp/spark-warehouse",
    "spark.driver.extraJavaOptions": "-Dderby.system.home=/tmp/derby",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "map-reduce-mongodb-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    ``*``). ``shuffle_partitions`` defaults to the core count — with AQE
    coalescing enabled the exact number is advisory.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_LOCAL_DEFAULTS)
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    archive = _plan_archive(conf)
    if archive is not None:
        conf["spark.driver.extraJavaOptions"] = " ".join(
            filter(None, [conf.get("spark.driver.extraJavaOptions"),
                          archive.java_options()]))
    for k, v in conf.items():
        builder = builder.config(k, v)
    if archive is None:
        return builder.getOrCreate()
    # The launch classpath starts with $SPARK_CONF_DIR, and a dump
    # fails on a non-empty directory in it; the default one holds only
    # *.template files (checked in _plan_archive), so an empty one
    # loses no setting.
    os.environ["SPARK_CONF_DIR"] = archive.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]
    if archive.dump:
        _start_dump(archive, spark)
    return spark


# --- the driver JVM's class-data archive -------------------------------

#: Dynamic CDS archive magic (JDK 13+), as stored on disk.
_ARCHIVE_MAGIC = 0xF00BABA8.to_bytes(4, "little")
#: Caller options that already choose how the JVM shares classes.
_CDS_OPTIONS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
#: Set, these put more entries on the launch classpath than the key
#: covers (and a non-empty conf directory in it fails the dump).
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                  "SPARK_PREPEND_CLASSES")
#: The JVM logs to stdout by default, and a dump warns once per skipped
#: class (about 1000 lines). CDS errors go to stderr, the rest nowhere:
#: the CLI's JSON summary must stay the last stdout line.
_CDS_LOG = "-Xlog:cds*=off -Xlog:cds*=error:stderr"
#: Seconds the interpreter waits at exit for its driver JVM to finish
#: a dump (about 10 s on 4 vCPU).
_DUMP_WAIT_S = 120


@dataclass
class _Archive:
    path: str        # the published archive
    manifest: str    # its size and mtime, recorded at publication
    tmp: str         # this process's dump target
    conf_dir: str    # the empty SPARK_CONF_DIR of the launch
    dump: bool       # no archive yet: this JVM dumps one at exit

    def java_options(self) -> str:
        mode = (f"-XX:ArchiveClassesAtExit={self.tmp}" if self.dump else
                f"-XX:SharedArchiveFile={self.path} -Xshare:auto")
        return f"{mode} {_CDS_LOG}"


@dataclass
class _Dump:
    archive: _Archive
    proc: subprocess.Popen   # the dumping driver JVM
    trial: list[str]         # a -Xshare:on JVM that must map the dump
    owner: int               # pid of the process that launched it


#: This process's dump whose driver JVM has not been seen to exit.
_PENDING: _Dump | None = None


def _plan_archive(conf: dict[str, str]) -> _Archive | None:
    """The archive to map or to dump for this launch, or None to start
    a plain JVM. Publishes this process's finished dump first."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    _publish_dump()
    if (_PENDING is not None or SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ
            or "SPARK_CONF_DIR" in os.environ
            or any(v in os.environ for v in _CLASSPATH_ENV)
            or conf.get("spark.driver.extraClassPath")
            or any(o in conf.get("spark.driver.extraJavaOptions", "")
                   for o in _CDS_OPTIONS)):
        return None
    cache = os.path.join(os.environ.get("XDG_CACHE_HOME")
                         or os.path.expanduser("~/.cache"), "spark-graft")
    if re.search(r"[\s'\"\\]", cache):  # not splittable out of the options
        return None
    try:
        spark_home = _find_spark_home()
        key = _archive_key(spark_home, cache, conf)
        if key is None:
            return None
        conf_dir = os.path.join(cache, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cache, os.W_OK):
            return None
        prefix = os.path.join(cache, f"cds-{key}")
        archive = _Archive(prefix + ".jsa", prefix + ".json",
                           f"{prefix}.{os.getpid()}.tmp", conf_dir, False)
        if _intact(archive):
            return archive
        for p in (archive.path, archive.manifest):
            if os.path.lexists(p):
                os.remove(p)
        # One dump per key: a temp of a live process is a dump under
        # way; any other temp (a killed dump, say) is deleted unread.
        for name in os.listdir(cache):
            m = re.fullmatch(rf"cds-{key}\.(\d+)\.tmp(\.json)?", name)
            if not m:
                continue
            pid = int(m.group(1))
            if pid != os.getpid() and _alive(pid):
                return None
            os.remove(os.path.join(cache, name))
        archive.dump = True
        return archive
    except OSError:
        return None


def _archive_key(spark_home: str, cache: str,
                 conf: dict[str, str]) -> str | None:
    """Hash of what the archive depends on: the java binary that
    spark-class runs and its ``release`` file, the jar list (names,
    sizes, mtimes), the launch classpath, and the heap size (compressed
    oops must match). None when the JDK has no dynamic archives or
    ``$SPARK_HOME/conf`` holds a file the launch would read."""
    if any(not n.endswith(".template")
           for n in _listdir(os.path.join(spark_home, "conf"))):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = (os.path.join(java_home, "bin", "java") if java_home
            else shutil.which("java"))
    if not java:
        return None
    java = os.path.realpath(java)
    with open(os.path.join(os.path.dirname(os.path.dirname(java)),
                           "release")) as f:
        release = f.read()
    version = re.search(r'^JAVA_VERSION="(\d+)', release, re.M)
    if not version or int(version.group(1)) < 13:   # JEP 350
        return None
    h = hashlib.sha256()
    for part in (java, release, spark_home, os.path.join(cache, "conf"),
                 conf.get("spark.driver.memory", "")):
        h.update(part.encode() + b"\0")
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return h.hexdigest()[:16]


def _listdir(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except FileNotFoundError:
        return []


def _intact(archive: _Archive) -> bool:
    """The cheap check at use: the file is a dynamic archive of exactly
    the size and mtime recorded when it was published."""
    try:
        with open(archive.manifest) as f:
            rec = json.load(f)
        st = os.stat(archive.path)
        with open(archive.path, "rb") as f:
            magic = f.read(4)
    except (OSError, ValueError):
        return False
    return (magic == _ARCHIVE_MAGIC and isinstance(rec, dict)
            and rec.get("size") == st.st_size
            and rec.get("mtime_ns") == st.st_mtime_ns)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _start_dump(archive: _Archive, spark: SparkSession) -> None:
    """Remember the dumping JVM, and the trial that must map its dump
    (same JVM options and classpath) before it is published."""
    global _PENDING
    from pyspark import SparkContext
    jvm = spark.sparkContext._jvm
    args = [str(a) for a in jvm.java.lang.management.ManagementFactory
            .getRuntimeMXBean().getInputArguments()
            if "ArchiveClassesAtExit" not in str(a)]
    java = os.path.join(str(jvm.System.getProperty("java.home")), "bin",
                        "java")
    trial = [java, *args,
             "-Xshare:on", f"-XX:SharedArchiveFile={archive.tmp}",
             # a bad archive kills the trial: no hs_err file, no core
             "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash",
             "-cp", str(jvm.System.getProperty("java.class.path")),
             "-version"]
    _PENDING = _Dump(archive, SparkContext._gateway.proc, trial, os.getpid())


def _publish_dump() -> None:
    """Once this process's dumping JVM has exited: publish its dump if
    the JVM exited cleanly and the trial JVM maps it, else delete it."""
    global _PENDING
    dump = _PENDING
    if (dump is None or dump.owner != os.getpid()
            or dump.proc.poll() is None):
        return
    _PENDING = None
    a = dump.archive
    try:
        ok = (dump.proc.returncode == 0 and os.path.exists(a.tmp)
              and subprocess.run(dump.trial, stdin=subprocess.DEVNULL,
                                 stdout=subprocess.DEVNULL,
                                 stderr=subprocess.DEVNULL,
                                 timeout=60).returncode == 0)
    except (OSError, subprocess.SubprocessError):
        ok = False
    try:
        if not ok:
            os.remove(a.tmp)
            return
        st = os.stat(a.tmp)
        with open(a.tmp + ".json", "w") as f:
            json.dump({"size": st.st_size, "mtime_ns": st.st_mtime_ns}, f)
        os.replace(a.tmp + ".json", a.manifest)
        os.replace(a.tmp, a.path)
    except OSError:
        pass


def _finish_dump_at_exit() -> None:
    """The driver JVM dumps when it exits, which it does when this
    interpreter closes its stdin; do that here and wait, so that the
    archive is published by the process that made it."""
    dump = _PENDING
    if dump is None or dump.owner != os.getpid():
        return
    if dump.proc.poll() is None:
        from pyspark import SparkContext
        sc = SparkContext._active_spark_context
        if sc is not None:
            # Shuts the accumulator server down first: a JVM that exits
            # under it makes its handler thread print an EOFError.
            sc.stop()
        try:
            dump.proc.stdin.close()
            dump.proc.wait(timeout=_DUMP_WAIT_S)
        except (OSError, subprocess.TimeoutExpired):
            return
    _publish_dump()


atexit.register(_finish_dump_at_exit)
