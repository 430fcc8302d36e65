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
"""

from __future__ import annotations

import os

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
    """
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
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
