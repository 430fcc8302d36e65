"""SparkSession factory with scale-oriented defaults.

AQE (adaptive re-plan, skew-join splitting, partition coalescing) is on by
default: at the 100 TB design point the dominant risks are skewed dense-city
cells and over-partitioned shuffles, both of which AQE mitigates at runtime.
Arrow is enabled for the (few) pandas-UDF paths.

JIT policy (``JIT_POLICY``). The conversion (``plans.job.main``) and the
flagship pipeline run once per JVM, as batch jobs, and their cost is mostly
JIT compilation. Per-thread CPU of the driver JVM over one cold
``convert_netex`` operation (4 vCPUs, Spark 4.1.2, Java 17) was 41.0 CPU-s:
C2 compiler threads 20.7, executor tasks 7.8, py4j planning 4.7, C1 4.2;
the cold flagship spent 16.6–19.8 of 34–41 CPU-s in C2. The policy keeps
two compiler threads and raises the four tier-4 (C2) thresholds 10× over
the JDK 17 defaults (5000 / 600 / 15000 / 40000). C1 works as before; only
lukewarm methods skip C2, while a method that stays hot over millions of
rows still reaches it. The same cold conversion then spent 8.0 CPU-s in C2
and 10.5 in executor tasks, 30.7 in all. The price is wall time where C2
now arrives later: the cold operation takes about a second longer and the
first warm passes in one JVM are slower (flagship passes 2–5: 3.9 → 4.4 s
median), converging by about the sixth. Timers of steady state pay for
that: with the heap pinned, four ``tools/bench_query.py`` rows at sf0.1 read
slower in 14 of 16 interleaved pairs and ``bench.py``'s flagship headline in
3 of 3, so those two pass ``spark.driver.defaultJavaOptions=""`` and keep the
JDK defaults. Two compiler threads replace the JDK's 3 on 4 CPUs and about
15 on 32; the policy has not been measured on a 32-core host.
Rejected, on the readings of a prototype:

* ``-XX:TieredStopAtLevel=1`` (C1 only): cold CPU −42…−58 %, but the sixth
  warm flagship pass went 3.3 → 8.9 s wall;
* ``-XX:CompileThresholdScaling=10``: cold wall +35 % (job 14.7 → 19.8 s);
* ``-XX:CICompilerCount=2`` alone: −9…−20 %, inside the noise on some
  pairs.

The policy rides ``spark.driver.defaultJavaOptions``, which Spark puts ahead
of a caller's ``spark.driver.extraJavaOptions``, so callers' own JVM options
still apply. It only takes effect when ``get_spark`` launches the JVM: under
``spark-submit`` the driver JVM is already up, so pass the same flags with
``--driver-java-options "<JIT_POLICY>"`` (see ``plans/job.py``). Spark's
launcher adds ``-XX:+IgnoreUnrecognizedVMOptions``, so a misspelt flag would
be dropped silently; ``tests/test_session.py`` reads the live values.

The driver heap defaults to min(8 GiB, half of ``MemAvailable``) in whole
GiB, at least 1 GiB, so a small host is never asked for a heap it lacks;
``extra_conf`` overrides it (and any other key).

Class-data sharing (``cds_launch``). Most of a fresh driver JVM's start is
loading and verifying the same classes from Spark's 287 jars. When
``get_spark`` itself launches the JVM, it maps a dynamic AppCDS archive (JEP
350) of them, ``<cache>/<key>.jsa`` with ``<cache>`` =
``$XDG_CACHE_HOME/osm_to_netex_spark/cds`` (``~/.cache/…`` by default, mode
0700) and ``<key>`` a hash of the ``java`` binary and the Spark jars. With no
archive for this host yet, that launch records one instead
(``-XX:ArchiveClassesAtExit``). Readings (4 vCPUs, Spark 4.1.2, Java 17,
``perfbench/run.py --seconds 5``, medians of 10 interleaved pairs):
``convert_netex`` ``setup_s`` 10.82 → 6.38 CPU-s (set-up wall 6.96 → 3.48 s),
``job_cpu_s`` 23.66 → 22.53; ``flagship_pip`` ``setup_s`` 12.57 → 6.90,
``job_cpu_s`` 28.68 → 27.43 (inside the noise). The price is paid once per
host: three recording conversions spent 1.7–3.5 CPU-s more in set-up and
up to 2.7 more in the operation than a run without archives after each
(the code before this mechanism), the dump at
exit took 10.3–10.5 s wall and 10.6–11.1 CPU-s, and the archive holds
134–200 MB (more classes loaded, larger); the trial JVM that gates it costs
0.15–0.17 CPU-s.

Conditions. The JVM refuses to archive with a non-empty directory on its
class path, and the launcher puts the conf dir first on it; so the effective
conf dir (``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``) must hold only
``*.template`` files or be absent, and the launch then points
``SPARK_CONF_DIR`` at the empty ``<cache>/conf``. A real
``spark-defaults.conf`` keeps its conf dir and gets no archive. Neither do
``spark-submit`` launches (the JVM is up before ``get_spark`` runs), a call
whose ``extra_conf`` sets ``spark.driver.defaultJavaOptions`` (the
steady-state timers' ``JDK_JIT``), nor a call that attaches to a running JVM.

Hazard. A truncated archive kills every JVM that maps it with SIGBUS, even
under ``-XX:+VerifySharedSpaces``. So a dump goes live only after its JVM has
exited and a trial ``java -Xshare:on -XX:SharedArchiveFile=<dump> -version``
on that JVM's class path exits 0, and then by ``os.replace``. A dump that
fails the trial is deleted and leaves ``<key>.failed``: that host neither
records nor retries. Publishing happens at the next launch in the same
process, in ``stop_session`` and at interpreter exit. An archive not owned
by the current user, or writable by group or others, is ignored.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
from dataclasses import dataclass
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

JIT_POLICY = (
    "-XX:CICompilerCount=2 -XX:Tier4InvocationThreshold=50000"
    " -XX:Tier4MinInvocationThreshold=6000 -XX:Tier4CompileThreshold=150000"
    " -XX:Tier4BackEdgeThreshold=400000"
)

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # documents rows are wide (span arrays); keep scan partitions modest
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.driver.defaultJavaOptions": JIT_POLICY,
}


def mem_available_bytes() -> int:
    """The host's ``MemAvailable`` (``/proc/meminfo``) in bytes."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def default_heap_gb() -> int:
    """min(8, MemAvailable / 2) GiB, rounded down, at least 1."""
    return max(1, min(8, mem_available_bytes() // 2 // 2**30))


def cds_cache() -> Path:
    """Where this user's class archives live."""
    root = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(root) / "osm_to_netex_spark" / "cds"


def java_binary() -> str | None:
    """The ``java`` Spark's launcher runs: ``$JAVA_HOME/bin/java``, else the
    one on ``PATH``; its real path."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def archive_key(java: str, spark_home: str) -> str:
    """Hash of what an archive depends on: the ``java`` binary and every
    Spark jar (name, size, mtime)."""
    st = os.stat(java)
    parts = [java, st.st_size, st.st_mtime_ns, spark_home]
    for jar in sorted(Path(spark_home, "jars").glob("*.jar")):
        st = jar.stat()
        parts += [jar.name, st.st_size, st.st_mtime_ns]
    return hashlib.sha256("\0".join(map(str, parts)).encode()).hexdigest()[:16]


def _private(path: Path) -> bool:
    st = path.stat()
    return st.st_uid == os.getuid() and not st.st_mode & 0o022


@dataclass(frozen=True)
class CdsLaunch:
    conf_dir: Path  # SPARK_CONF_DIR for the launch: an empty directory
    option: str  # added to spark.driver.defaultJavaOptions
    record: Path | None  # the dump to gate and publish once the JVM exits


def cds_launch(spark_home: str, java: str, cache: Path) -> CdsLaunch | None:
    """How a JVM launched now uses this host's class archive: map it, record
    it, or (None) launch as before."""
    conf = Path(os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf"))
    if conf.is_dir() and any(not p.name.endswith(".template") for p in conf.iterdir()):
        return None
    try:
        cache.mkdir(mode=0o700, parents=True, exist_ok=True)
        (cache / "conf").mkdir(mode=0o700, exist_ok=True)
    except OSError:
        return None
    key = archive_key(java, spark_home)
    if not _private(cache) or (cache / f"{key}.failed").exists():
        return None
    jsa = cache / f"{key}.jsa"
    if jsa.exists() and _private(jsa):
        return CdsLaunch(cache / "conf", f"-XX:SharedArchiveFile={jsa}", None)
    tmp = cache / f"{key}.{os.getpid()}.tmp"
    # the dump logs one [warning][cds] line per class it skips, on stdout
    return CdsLaunch(cache / "conf", f"-XX:ArchiveClassesAtExit={tmp} -Xlog:cds=error", tmp)


@dataclass(frozen=True)
class Recording:
    dump: Path
    java: str
    classpath: str
    proc: subprocess.Popen


_recording: Recording | None = None


def _wait(proc: subprocess.Popen) -> None:
    try:
        proc.wait(timeout=300)  # the dump at exit takes ~10 s on 4 vCPUs
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def publish(rec: Recording) -> bool:
    """Wait for the recording JVM, then publish its dump as ``<key>.jsa`` if
    a trial JVM maps it; otherwise delete it and leave ``<key>.failed``."""
    _wait(rec.proc)
    key = rec.dump.name.split(".")[0]
    trial = [rec.java, "-Xshare:on", f"-XX:SharedArchiveFile={rec.dump}",
             "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash",
             "-cp", rec.classpath, "-version"]
    ok = rec.dump.exists() and subprocess.run(
        trial, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode == 0
    if not ok:
        rec.dump.unlink(missing_ok=True)
        (rec.dump.parent / f"{key}.failed").touch()
        return False
    os.replace(rec.dump, rec.dump.parent / f"{key}.jsa")
    for old in rec.dump.parent.glob("*.jsa"):
        if old.name != f"{key}.jsa":
            old.unlink(missing_ok=True)
    return True


def _publish_pending() -> None:
    global _recording
    rec, _recording = _recording, None
    if rec is not None:
        publish(rec)


def _close_gateway() -> None:
    gateway = SparkContext._gateway
    if gateway is None or gateway.proc is None:  # none, or spark-submit's own JVM
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    _wait(gateway.proc)
    SparkContext._gateway = None
    SparkContext._jvm = None


def stop_session(spark: SparkSession) -> None:
    """Stop ``spark`` and its gateway JVM, wait for the JVM to exit and
    publish the class archive it recorded, if any. The next ``get_spark``
    then launches a fresh JVM with its own JVM-level keys."""
    spark.stop()
    _close_gateway()
    _publish_pending()


@atexit.register
def _publish_at_exit() -> None:
    if _recording is not None:
        _close_gateway()
        _publish_pending()


def get_spark(
    app_name: str = "osm_to_netex_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a session.

    ``cores``: n → ``local[n]``; None → the CPUs in this process's affinity
    mask (run under ``taskset`` to use fewer).
    ``shuffle_partitions`` defaults to 2× cores (AQE coalesces down).
    JVM-level keys (``spark.driver.memory``, ``spark.driver.*JavaOptions``)
    take effect only when this call launches the JVM, not when a gateway is
    already running in the process (``stop_session`` ends one).
    """
    global _recording
    cores = len(os.sched_getaffinity(0)) if cores is None else int(cores)
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cores)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.driver.memory"] = f"{default_heap_gb()}g"
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    cds = java = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        _publish_pending()
        java = java_binary()
        if java and conf["spark.driver.defaultJavaOptions"] == JIT_POLICY:
            cds = cds_launch(_find_spark_home(), java, cds_cache())
    if cds is not None:
        conf["spark.driver.defaultJavaOptions"] += " " + cds.option
    for k, v in conf.items():
        builder = builder.config(k, v)
    if cds is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = str(cds.conf_dir)  # read by the launcher only
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if cds.record:
        classpath = spark._jvm.java.lang.System.getProperty("java.class.path")
        _recording = Recording(cds.record, java, classpath, SparkContext._gateway.proc)
    return spark
