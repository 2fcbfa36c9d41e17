"""SparkSession factory.

Defaults chosen for the engine's design point (SURVEY.md §4.2): AQE on
(coalesce shuffle partitions, skew-join handling, dynamic join strategy),
UTC session timezone (oracle agreement, SURVEY.md §7 watchlist #1), Arrow
for any pandas interchange. Shuffle partitioning is sized by the caller:
tests use a few partitions, bench uses the core count, a real cluster
would use ~2-3x total cores (AQE coalesces the excess).

Session start maps a class archive. When ``get_spark`` launches the driver
JVM itself, it maps a dynamic class-data-sharing (CDS, JEP 350) archive of
the classes an earlier launch loaded, which roughly halves JVM start and
class loading. The contract:

- *Where.* ``$XDG_CACHE_HOME/uk_procurement_data_pipeline_spark/`` (else
  ``~/.cache/...``): one ``<key>.jsa`` per JDK and Spark install, about
  140-170 MB, plus an empty ``conf/`` directory.
- *Key.* A hash over the JDK's ``release`` file, ``$SPARK_HOME/RELEASE``
  and each Spark jar's name, size and mtime. The key only picks a file: the
  JVM checks the recorded classpath itself and, under its default
  ``-Xshare:auto``, starts normally from a stale, corrupt or mismatched
  archive.
- *First launch.* With no archive yet, the launch records one
  (``-XX:ArchiveClassesAtExit``) into a per-pid temp file, which makes that
  JVM's exit ~10 s longer. An ``atexit`` hook waits for the JVM and
  publishes the file with ``os.replace`` only after a clean exit, so the
  final path never holds half a file and is never rewritten under a process
  that maps it. Temp files whose writer is gone are removed.
- *Skipped* (no flag: the launch is exactly the plain one) when a JVM is
  already running, the caller sets ``spark.driver.extraJavaOptions`` (in
  ``extra_conf`` or ``PYSPARK_SUBMIT_ARGS``), the cache dir cannot be written, or the classpath would hold a directory with
  files in it, which the JVM refuses to record: a conf dir with real config
  (never replaced) or any of ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` and
  ``SPARK_DIST_CLASSPATH``. A conf dir that holds only ``*.template`` files
  is swapped for the empty ``conf/`` above, for the launch only.
- Deleting the archive, or the whole directory, is always safe: the next
  launch records it again.

``class_archive(spark)`` tells whether a session's JVM mapped the archive.

Python workers. Three more launch settings cut the fixed cost every
Python-worker task pays before user code runs (measured 0.22 s to
0.075-0.09 s for a warm 4-task identity ``mapInArrow``; a JVM-only stage of
that shape takes 0.045 s):

- ``spark.python.daemon.module`` is ``pyworker`` in this package: PySpark's
  own daemon, except that its forked workers' ``importlib.invalidate_caches()``
  skips zip importers. On CPython 3.11 each cached ``zipimporter`` re-reads
  its archive's directory on that call, which ``setup_spark_files`` makes on
  every task: about 16 re-reads of ``pyspark.zip`` (1328 entries, 15.7 MB),
  0.13-0.21 s a task with four tasks at once on 4 cores.
- ``spark.python.unix.domain.socket.enabled`` is true: the JVM and its Python
  workers talk over Unix domain sockets in ``java.io.tmpdir``, about 40 ms
  less per task round trip than loopback TCP. The daemon removes its socket
  when the JVM stops it; an ``atexit`` hook removes the driver's accumulator
  socket, which PySpark itself removes only in ``SparkContext.stop()``.
- ``spark.executorEnv.PYTHONPATH`` starts with the directory that holds this
  package, then any value the caller passes, so workers (and the daemon
  module) import the package whatever the cwd or ``PYTHONPATH``.

``extra_conf`` overrides the first two like any other key. The daemon starts
lazily, on the first Python task.
"""

from __future__ import annotations

import atexit
import hashlib
import itertools
import os
import shlex
import shutil
import subprocess
from contextlib import contextmanager
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_CACHE_NAME = "uk_procurement_data_pipeline_spark"
# Classpath entries Spark's launcher adds from the environment; each may be a
# directory with files in it, with which the JVM refuses to record.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# Recording writes 140-170 MB at JVM exit; measured at about 10 s.
_DUMP_TIMEOUT_S = 300
_LAUNCHES = itertools.count()
# The directory that holds the package, and the worker daemon inside it.
_PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)
_DAEMON_MODULE = f"{__package__}.pyworker"
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"


def get_spark(
    app_name: str = "uk-procurement-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    A launch maps (or first records) the class archive and sets the
    Python-worker daemon, socket transport and worker ``PYTHONPATH``
    described in the module docstring.
    """
    extra_conf = dict(extra_conf or {})
    # Workers import the package from wherever this process imported it,
    # ahead of any PYTHONPATH the caller passes for them.
    extra_conf[_WORKER_PATH] = os.pathsep.join(
        p for p in (_PACKAGE_ROOT, extra_conf.get(_WORKER_PATH)) if p
    )
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r12 (guide §3.1/§9): let the planner pick a shuffled-hash join
        # when its size conditions fit instead of always preferring
        # sort-merge, and let AQE rewrite SMJ -> SHJ at runtime when every
        # post-shuffle partition is under 64 MB (runtime-measured, so the
        # rewrite cannot pick a build side that does not fit in a task).
        # Interleaved best-of-3 A/B over the 12 hottest join queries at
        # sf0.1: 46.6 -> 41.7 s (-10%), worst single regression +0.25 s
        # (OPTIMIZATION_r12.md). Join strategy never changes results.
        # Both knobs are env-overridable for cluster-specific tuning.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", "64m"),
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        # Generated classes live in a Guava cache whose size limit is
        # enforced per segment (4 segments): Spark's default of 100 evicts
        # at 25 classes a segment, so repeated calls recompile part of
        # their working set every time (measured: 75 classes cold for the
        # tpch_etl benchmark queries, 21-26 recompiled per warm pass). At 1000
        # a warm pass compiles nothing.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Python workers: the package's daemon and Unix domain sockets (see
        # the module docstring for what each saves per task).
        .config("spark.python.daemon.module", _DAEMON_MODULE)
        .config("spark.python.unix.domain.socket.enabled", "true")
        # NOTE: launch-time settings (driver memory, the codegen cache size,
        # the Python daemon module, the socket transport and the worker
        # PYTHONPATH above, the class archive's JVM flags and SPARK_CONF_DIR
        # below) only take effect if THIS process starts the JVM; under
        # getOrCreate against a live session they are silently ignored — set
        # SPARK_SUBMIT_OPTS for externally-launched JVMs.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    atexit.unregister(_remove_accumulator_socket)  # one hook however many calls
    atexit.register(_remove_accumulator_socket)
    launch = _archive_launch(extra_conf)
    if launch is None:
        return builder.getOrCreate()
    flag, conf_dir, tmp, final = launch
    saved = os.environ.get("SPARK_CONF_DIR")
    try:
        if conf_dir is not None:
            os.environ["SPARK_CONF_DIR"] = conf_dir
        spark = builder.config("spark.driver.extraJavaOptions", flag).getOrCreate()
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if tmp is not None:
        atexit.register(_publish_archive, SparkContext._gateway.proc, tmp, final)
    return spark


def class_archive(spark: SparkSession) -> str | None:
    """Path of the class archive the session's JVM has mapped, or None."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    cache = _cache_dir()
    try:
        lines = Path(f"/proc/{pid}/maps").read_text().splitlines()
    except OSError:
        return None
    for line in lines:
        path = Path(line.split(maxsplit=5)[-1].removesuffix(" (deleted)"))
        if path.suffix == ".jsa" and path.parent == cache:
            return str(path)
    return None


def _remove_accumulator_socket() -> None:
    """At interpreter exit: remove the socket file of the live context's
    accumulator server. Over the Unix socket transport, PySpark's driver
    serves accumulator updates on ``<java.io.tmpdir>/.<uuid>.sock`` and
    removes the file only in ``SparkContext.stop()``, which most programs
    never call."""
    server = getattr(SparkContext._active_spark_context, "_accumulatorServer", None)
    address = getattr(server, "server_address", None)
    if isinstance(address, str):
        Path(address).unlink(missing_ok=True)


def _cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base) / _CACHE_NAME


def _archive_key(spark_home: Path) -> str:
    """Hash of the JDK spark-submit runs (its ``release`` file), Spark's
    ``RELEASE`` file and the (name, size, mtime) of each Spark jar."""
    java_home = os.environ.get("JAVA_HOME")
    if not java_home:
        java = shutil.which("java")
        java_home = str(Path(os.path.realpath(java)).parent.parent) if java else ""
    h = hashlib.sha256()
    for f in (Path(java_home) / "release", spark_home / "RELEASE"):
        h.update(f.read_bytes() if f.is_file() else b"-")
    for jar in sorted((spark_home / "jars").glob("*.jar")):
        st = jar.stat()
        h.update(f"{jar.name}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _archive_launch(conf: dict[str, str]) -> tuple[str, str | None, Path | None, Path] | None:
    """(JVM flag, SPARK_CONF_DIR to launch with or None to keep it, temp file
    the JVM records into or None when it maps, final archive path) for a
    launch that uses the archive; None for a plain launch."""
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if (
        SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or "spark.driver.extraJavaOptions" in conf
        or "extraJavaOptions" in submit_args
        or "--driver-java-options" in submit_args
        or any(os.environ.get(v) for v in _CLASSPATH_ENV)
    ):
        return None
    spark_home = Path(_find_spark_home())
    conf_env = os.environ.get("SPARK_CONF_DIR")
    conf_dir = Path(conf_env) if conf_env else spark_home / "conf"
    names = [p.name for p in conf_dir.iterdir()] if conf_dir.is_dir() else []
    swap = not conf_env and all(n.endswith(".template") for n in names)
    if names and not swap:
        return None
    cache = _cache_dir()
    empty = cache / "conf"
    try:
        empty.mkdir(parents=True, exist_ok=True)
        if not os.access(cache, os.W_OK) or any(empty.iterdir()):
            return None
    except OSError:
        return None
    launch_conf_dir = str(empty) if swap else None
    _remove_orphan_temps(cache)
    final = cache / f"{_archive_key(spark_home)}.jsa"
    if final.exists():
        return shlex.quote(f"-XX:SharedArchiveFile={final}"), launch_conf_dir, None, final
    tmp = cache / f"{final.name}.{os.getpid()}.{next(_LAUNCHES)}.tmp"
    # Recording warns once per class it cannot archive (hundreds of lines).
    flag = shlex.quote(f"-XX:ArchiveClassesAtExit={tmp}") + " -Xlog:cds=error"
    return flag, launch_conf_dir, tmp, final


def _remove_orphan_temps(cache: Path) -> None:
    """Remove ``<key>.jsa.<pid>.<n>.tmp`` files whose writer pid is gone."""
    for tmp in cache.glob("*.tmp"):
        try:
            os.kill(int(tmp.name.split(".")[-3]), 0)
        except (ValueError, IndexError, ProcessLookupError):
            tmp.unlink(missing_ok=True)
        except PermissionError:
            pass  # the pid is alive under another user


def _publish_archive(proc: subprocess.Popen, tmp: Path, final: Path) -> None:
    """At interpreter exit: let the recording JVM exit (closing its stdin is
    how PySpark tells the gateway to stop), wait while it writes ``tmp``, and
    publish ``tmp`` at ``final`` only if the JVM exited cleanly."""
    try:
        if proc.poll() is None:
            proc.stdin.close()
            proc.wait(timeout=_DUMP_TIMEOUT_S)
        if proc.returncode == 0 and tmp.is_file() and tmp.stat().st_size > 0:
            os.replace(tmp, final)
    except (OSError, subprocess.TimeoutExpired):
        return  # a JVM still writing keeps its file; a later launch removes it
    tmp.unlink(missing_ok=True)


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set each SQL conf in ``confs`` for the body, then restore it.

    Every key is restored in ``finally``, so a body that raises leaves the
    session as it found it. A key that had no value before is unset again
    rather than set to a default.
    """
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
