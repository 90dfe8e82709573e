"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the configs below are chosen so the same
logical plans survive a 1000-executor / 100 TB deployment:

- AQE on (runtime re-plan: skew-join splitting, partition coalescing,
  broadcast demotion/promotion) — the single most important knob at scale.
- Arrow enabled for the few Pandas-UDF extension operators.
- ``spark.sql.shuffle.partitions`` left to AQE coalescing locally; on a real
  cluster set it to ~2-3x total cores via ``extra_conf``.
- DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  pyspark wraps every Column/functions call in four extra py4j round trips
  (active-session lookup, a conf read, origin set/clear); a warm
  ``run_day`` made ~4,000 round trips, ~1,800 of them for this. The
  trade-off: an analysis error still raises, but its message no longer
  carries the Python ``file:line`` of the offending call.

Driver start-up from a class-data-sharing (CDS) archive
-------------------------------------------------------
A fresh driver JVM has loaded ~11k classes from Spark's ~290 jars by the
time the session exists, and ~17k after the first action; that is most of
the 7 s ``get_spark`` costs in a new process. So a launch that starts a new
JVM maps those classes from a dynamic AppCDS archive
(``-XX:SharedArchiveFile``) instead of parsing and verifying them again;
on 4 cores that took session start plus one trivial action from ~9 s to
~5 s. The daily CLI run, ``query`` mode, the tools, the test session and
the bench all start this way.

- Where: ``$XDG_CACHE_HOME/fraudmart/cds/<key>.jsa`` (default
  ``~/.cache``), 140-180 MB. The key hashes the ``java`` binary, the name,
  size and mtime of every jar under the ``SPARK_HOME`` pyspark launches,
  and the driver's JVM options. Only the current key's archive is kept.
- The one-time build: when there is no archive for the key, that launch
  runs with ``-XX:ArchiveClassesAtExit`` and costs more (~14 s to the first
  action). The JVM writes the archive to a temporary file as it exits; an
  ``atexit`` hook of this process ends the JVM, waits for it, and renames
  the file into place only if the JVM exited cleanly, so no launch ever
  maps a half-written archive. The archive holds the classes that process
  loaded, so the build run's work shapes it.
- When it is skipped: a SparkContext or gateway JVM already exists; the
  real conf dir (``SPARK_CONF_DIR`` or ``SPARK_HOME/conf``) holds anything
  but ``*.template`` files; or the driver classpath is extended
  (``spark.driver.extraClassPath``, ``SPARK_DIST_CLASSPATH``,
  ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``). CDS refuses a non-empty
  directory on the classpath, and Spark puts the conf dir first on it, so a
  CDS launch points ``SPARK_CONF_DIR`` at an empty directory next to the
  archive for the launch; with only templates there, nothing changes.
- Failures: a launch with an archive that fails (a truncated archive
  crashes the JVM before the gateway starts, and HotSpot prints its crash
  banner and leaves an ``hs_err_pid*.log``) deletes the archive and
  launches again without CDS. An archive the JVM starts with but cannot map
  (a damaged header turns all sharing off: ``java.vm.info`` lacks
  "sharing") is deleted after the launch, so the next launch rebuilds it.
  Anything else that goes wrong here, such as a read-only cache dir, means
  the launch runs exactly as without CDS. Deleting the directory is always
  safe: the next launch rebuilds it.
- CDS logging is off: the dump would otherwise print signed-jar warnings
  to the JVM's stdout, which is this process's stdout.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
import time

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# a temporary archive older than this was left by a process that died
# before publishing it (a JVM writes it in seconds, as it exits)
_STALE_TMP_S = 600
_DUMP_WAIT_S = 120
_CLASSPATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")


def get_spark(
    app_name: str = "fraudmart",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with scale-aware defaults, or return the live one.

    While a SparkContext is active its session is returned unchanged:
    ``getOrCreate`` would re-apply this call's settings (shuffle partitions
    among them) to the session every other caller shares."""
    if SparkContext._active_spark_context is not None:
        return SparkSession.builder.getOrCreate()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    conf = {
        "spark.app.name": app_name,
        "spark.master": master or f"local[{cpus}]",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # InferFiltersFromGenerate synthesizes a size()>0 pre-explode filter
        # that re-evaluates the generator's array expression with its
        # text-rooted subexpressions INLINED (no CSE inside higher-order
        # lambdas) — on the word-gram transforms that is O(tokens^2) per
        # row and measured 3.2 s -> 0.37 s on the bigram explode alone
        # (r12 optimization round). Excluding the rule never changes
        # values (optimizer rules are semantics-preserving); the gates'
        # explode inputs are non-empty by construction, so the inferred
        # pruning filter had nothing to prune anyway.
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 32),
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        **(extra_conf or {}),
    }
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        spark = _cds_launch(conf)
        if spark is not None:
            return spark
    return _create(conf)


def _create(conf: dict[str, str]) -> SparkSession:
    return SparkSession.builder.config(map=conf).getOrCreate()


def _cds_launch(conf: dict[str, str]) -> SparkSession | None:
    """Start a new driver JVM from this install's CDS archive, or build the
    archive on this launch when there is none. None when CDS does not apply
    here or the launch with it failed: the caller then launches without."""
    try:
        plan = _cds_plan(conf)
    except Exception:  # noqa: BLE001 - no usable cache means the plain launch
        plan = None
    if plan is None:
        return None
    archive, empty_conf = plan
    if os.path.exists(archive):
        tmp, flag = None, f"-XX:SharedArchiveFile={archive}"
    else:
        tmp = f"{archive}.{os.getpid()}.tmp"
        flag = f"-XX:ArchiveClassesAtExit={tmp}"
    java_opts = " ".join(o for o in (conf.get("spark.driver.extraJavaOptions"), flag, _CDS_QUIET) if o)
    real_conf_dir = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = empty_conf
    try:
        spark = _create({**conf, "spark.driver.extraJavaOptions": java_opts})
    except Exception:  # noqa: BLE001 - retried once without CDS by the caller
        _remove(tmp or archive)
        return None
    finally:
        if real_conf_dir is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = real_conf_dir
    if tmp is not None:
        atexit.register(_publish, SparkContext._gateway.proc, tmp, archive)
    elif "sharing" not in spark._jvm.java.lang.System.getProperty("java.vm.info"):
        _remove(archive)  # mapped nothing (a damaged header): the next launch rebuilds it
    return spark


def _cds_plan(conf: dict[str, str]) -> tuple[str, str] | None:
    """(archive path, empty conf dir) for a new driver JVM, or None when its
    classpath may hold a non-empty directory. Creates the cache directory and
    prunes other keys' archives and stale temporary files from it."""
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and not all(n.endswith(".template") for n in os.listdir(conf_dir)):
        return None
    if "spark.driver.extraClassPath" in conf or any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    root = os.path.abspath(os.path.join(cache, "fraudmart", "cds"))
    empty_conf = os.path.join(root, "conf")
    os.makedirs(empty_conf, exist_ok=True)
    if os.listdir(empty_conf):
        return None
    archive = os.path.join(root, f"{_cds_key(spark_home, conf)}.jsa")
    now = time.time()
    with os.scandir(root) as entries:
        for e in entries:
            if (e.name.endswith(".jsa") and e.path != archive) or (
                e.name.endswith(".tmp") and now - e.stat().st_mtime > _STALE_TMP_S
            ):
                _remove(e.path)
    return archive, empty_conf


def _cds_key(spark_home: str, conf: dict[str, str]) -> str:
    """Hash of what an archive is only valid for: the JDK (its ``java``
    binary, the one ``spark-class`` runs), Spark's jars, and the driver's
    JVM options."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.realpath(os.path.join(java_home, "bin", "java") if java_home else shutil.which("java"))
    st = os.stat(java)
    parts = [f"{java} {st.st_size} {st.st_mtime_ns}"]
    with os.scandir(os.path.join(spark_home, "jars")) as entries:
        for e in sorted(entries, key=lambda e: e.name):
            if e.name.endswith(".jar"):
                st = e.stat()
                parts.append(f"{e.name} {st.st_size} {st.st_mtime_ns}")
    parts += [conf.get(k, "") for k in (
        "spark.driver.memory", "spark.driver.defaultJavaOptions", "spark.driver.extraJavaOptions")]
    parts.append(os.environ.get("SPARK_SUBMIT_OPTS", ""))
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def _publish(proc: subprocess.Popen, tmp: str, archive: str) -> None:
    """At interpreter exit: end the driver JVM (it exits on EOF from its
    parent, writing the archive as it goes), wait for it, and rename the
    archive into place only if the JVM exited cleanly. The rename is atomic,
    so a concurrent launch finds either no archive or a whole one."""
    try:
        if proc.poll() is None:
            proc.stdin.close()
            proc.wait(timeout=_DUMP_WAIT_S)
        if proc.returncode == 0 and os.path.getsize(tmp) > 0:
            os.replace(tmp, archive)
    except (OSError, subprocess.TimeoutExpired):
        pass
    finally:
        _remove(tmp)


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass
