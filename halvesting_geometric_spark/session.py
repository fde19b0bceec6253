"""SparkSession factory: the one session policy of every entry point.

Library callers, the tests, the bench (``perfbench/run.py``) and the
spark-submit CLI (``cli.py``) all take their session from :func:`get_spark`,
and no caller sets AQE or the partition count for itself. The policy: AQE
on (runtime skew-join + partition coalescing) for every query, Arrow on
(all Python-side kernels are vectorized batches), shuffle partitions sized
to the core count rather than the 200 default, and the driver JVM policy
below.

The policy has two paths. Run as plain ``python``, :func:`get_spark` starts
the driver JVM itself with every conf of the policy. Under spark-submit the
JVM is already running when Python starts, so the launch's master, driver
memory and JVM options stay, and any conf the launch carries (``--conf``,
``spark-defaults.conf``) wins over the policy, the way ``extra_conf`` does;
on a cluster the submitter passes ``--conf
spark.sql.shuffle.partitions=<n>``. Measured through ``cli.py`` on 2,000
conversations (13,854 edges, ``local[4]``), Spark's 200 default partitions
made PageRank cost 624.5 CPU-s instead of 137.9.

Driver JVM policy (``_DRIVER_JAVA_OPTIONS``): ``-XX:TieredStopAtLevel=1``
keeps the JIT at C1 and never starts C2, and ``-XX:+UseParallelGC`` swaps
G1 for the throughput collector. In local mode the driver JVM is the whole
engine, and the engine's workloads are one query per JVM, so a cold JVM
spends much of its CPU compiling Spark and Scala framework code that never
runs long enough to repay a C2 compile. Per JVM thread, an untraced
``perfbench`` ``transcripts`` run (seed 42, 4 cores, median of 8) used 164
CPU-s: 76 on the C2 compiler threads, 12 on C1, 25 on executor tasks, 22 on
the py4j threads that run Catalyst planning and about 11 on G1. With the
policy, the bench's ``query_cpu_s`` median went 142.7 → 81.8 on
``transcripts`` (10 alternating pairs) and 73.3 → 34.7 on ``powerlaw`` (5
pairs); README's "Driver JVM policy" has each flag's own A/B and the
steady-state guards. C1 and C2 give bit-identical doubles (JDK 17 floating
point is strict, JEP 306), and plans and job counts do not depend on the
JIT. ``-XX:ReservedCodeCacheSize=240m`` sizes the code cache for that JIT:
a JVM that stops at C1 falls back to HotSpot's non-tiered 48 MB default,
and one bench query nearly fills it. On ``transcripts`` (seed 42, one run
each) the ``CodeCache`` pool peaked at 44.1 MB and fell back to 33.9 MB as the
sweeper flushed compiled code that then had to be compiled again; total
JIT time was 23.2 s. With 240 MB, HotSpot's own default when tiered
compilation reaches C2, the peak was 46.4 MB, nothing was flushed and JIT
time was 11.9 s. ``powerlaw`` peaks at 38-39 MB and never flushed.
Callers append to these options through ``extra_conf``'s
``spark.driver.extraJavaOptions``; HotSpot takes the last occurrence of a
flag, so ``-XX:TieredStopAtLevel=4`` brings C2 back, while G1 needs
``-XX:-UseParallelGC -XX:+UseG1GC`` (two collectors selected at once stop
the JVM). A JVM that runs many queries for a long time repays C2: the
test session appends ``-XX:TieredStopAtLevel=4 -XX:-UseParallelGC
-XX:+UseG1GC`` (``tests/conftest.py``). The options apply only when this
call starts the JVM: under spark-submit pass them with
``--driver-java-options``.

AQE stays on for every query. A caller-side switch that turned it off
session-wide below 1M input rows was measured through ``cli.py`` on 4 cores
(4 partitions, 3 alternating pairs, process-tree CPU-s, AQE off → on):
PageRank 124.8 → 144.4, components 91.7 → 83.8, triangles 81.7 → 79.2.
Input size does not separate the operator it helps from the ones it hurts,
and AQE off for a whole ``perfbench`` ``transcripts`` run cost 2.3×
``query_cpu_s``.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

_DRIVER_JAVA_OPTIONS = (
    "-Djava.net.preferIPv4Stack=true -XX:TieredStopAtLevel=1 -XX:+UseParallelGC"
    " -XX:ReservedCodeCacheSize=240m"
)

# Fixed when the driver JVM starts; under spark-submit it already has.
_JVM_START_CONFS = frozenset(
    {"spark.master", "spark.driver.memory", "spark.driver.extraJavaOptions"}
)


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of the host's RAM as a ``spark.driver.memory`` value (``"<n>m"``),
    at least 1 GiB; Spark's own ``"1g"`` when ``meminfo`` is unreadable or
    has no ``MemTotal`` line. In local mode the driver JVM is the whole
    engine, and the other half stays for the Python workers and the OS."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{max(1024, total_mb // 2)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "1g"


def _driver_java_options(extra: str | None = None) -> str:
    """``_DRIVER_JAVA_OPTIONS`` with a caller's options appended, so the
    caller's occurrence of a flag is the last and wins."""
    return f"{_DRIVER_JAVA_OPTIONS} {extra}" if extra else _DRIVER_JAVA_OPTIONS


def _launch_conf() -> SparkConf:
    """The confs spark-submit started this process's driver JVM with: its
    master, ``--conf`` flags, ``--driver-memory``, ``--driver-java-options``
    and ``spark-defaults.conf``. Under spark-submit the JVM runs first and
    hands Python its gateway through ``PYSPARK_GATEWAY_PORT``, so joining it
    here starts nothing. Otherwise no launch exists, the JVM starts inside
    ``getOrCreate`` with this module's confs, and the result is empty."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return SparkConf(loadDefaults=False)
    SparkContext._ensure_initialized()
    return SparkConf()


def _session_conf(policy: dict[str, str], launch: SparkConf) -> dict[str, str]:
    """The confs of ``policy`` that ``getOrCreate`` should set: all of them
    when no launch exists. Under a launch, none that it already carries, so
    the submitter's settings win, and none of ``_JVM_START_CONFS``, which
    the running JVM can no longer take. spark-submit always sets
    ``spark.master``, so that key tells a launch from an empty conf."""
    launched = launch.contains("spark.master")
    return {
        key: value
        for key, value in policy.items()
        if not launch.contains(key) and not (launched and key in _JVM_START_CONFS)
    }


def get_spark(
    app_name: str = "halvesting_geometric_spark",
    cores: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession under this engine's session policy.

    ``cores=None`` → ``SPARK_GRAFT_CPUS``, else ``local[*]``; shuffle
    partitions follow the core count. ``driver_memory=None`` → half of host
    RAM (:func:`_default_driver_memory`). ``extra_conf`` overrides any conf,
    except that ``spark.driver.extraJavaOptions`` is appended to
    ``_DRIVER_JAVA_OPTIONS`` rather than replacing them. Under spark-submit
    the launch's confs win over all of these (:func:`_session_conf`).
    """
    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and cores_env:
        cores = int(cores_env)
    n_threads = cores or os.cpu_count() or 8
    extra = dict(extra_conf or {})
    java_options = _driver_java_options(extra.pop("spark.driver.extraJavaOptions", None))
    policy = {
        "spark.master": f"local[{cores}]" if cores else "local[*]",
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(n_threads),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.driver.memory": driver_memory or _default_driver_memory(),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": java_options,
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        **extra,
    }
    conf = _session_conf(policy, _launch_conf())
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
