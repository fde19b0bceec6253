"""SparkSession factory.

Reference analog: the dask multiprocessing setup at
``/root/reference/build_metadata.py:20,74`` (``NUM_PROC = physical cores``,
``from_pandas(df, npartitions=NUM_PROC)``). Here parallelism is explicit and
scale-ready: AQE on (runtime skew-join + partition coalescing), Arrow on (all
Python-side kernels are vectorized batches), shuffle partitions sized to the
local core count rather than the 200 default.

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
JIT. Callers append to these options through ``extra_conf``'s
``spark.driver.extraJavaOptions``; HotSpot takes the last occurrence of a
flag, so ``-XX:TieredStopAtLevel=4`` brings C2 back, while G1 needs
``-XX:-UseParallelGC -XX:+UseG1GC`` (two collectors selected at once stop
the JVM). A JVM that runs many queries for a long time repays C2: the
test session appends ``-XX:TieredStopAtLevel=4 -XX:-UseParallelGC
-XX:+UseG1GC`` (``tests/conftest.py``). The options apply only when this
call starts the JVM: under spark-submit pass them with
``--driver-java-options``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

_DRIVER_JAVA_OPTIONS = (
    "-Djava.net.preferIPv4Stack=true -XX:TieredStopAtLevel=1 -XX:+UseParallelGC"
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


def get_spark(
    app_name: str = "halvesting_geometric_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this engine.

    ``cores=None`` → ``local[*]``. On a real cluster the same confs apply;
    only ``master`` changes (spark-submit owns it), so callers outside tests
    should not pass ``cores``. ``driver_memory=None`` → half of host RAM
    (:func:`_default_driver_memory`). ``extra_conf`` overrides any conf,
    except that ``spark.driver.extraJavaOptions`` is appended to
    ``_DRIVER_JAVA_OPTIONS`` rather than replacing them.
    """
    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and cores_env:
        cores = int(cores_env)
    master = f"local[{cores}]" if cores else "local[*]"
    n_threads = cores or os.cpu_count() or 8
    conf = dict(extra_conf or {})
    java_options = _driver_java_options(conf.pop("spark.driver.extraJavaOptions", None))
    if shuffle_partitions is None:
        shuffle_partitions = n_threads

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory or _default_driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", java_options)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def small_state_aqe_bypass(
    spark: SparkSession,
    n_rows: int,
    threshold: int = 1_000_000,
    rows_per_partition: int = 20_000,
) -> Iterator[bool]:
    """Temporarily disable AQE around an iterative driver whose loop state
    is tiny, and shrink the static shuffle-partition count to match the
    input size; yields whether the bypass engaged.

    AQE re-plans every job from runtime shuffle statistics. On a superstep
    loop over a small cached state that re-planning is a fixed per-job
    driver cost: measured on the bench graph (139k edges, local[32]) the
    10-superstep PageRank median drops from 0.772 to 0.671 s/superstep
    (~13%) with AQE off. At real scale the re-plan amortizes to noise and
    AQE's coalescing / skew-join handling is a clear win (the 20M-edge
    scaling runs NEED the advisory-size coalescing), so the bypass only
    engages when ``n_rows <= threshold`` and AQE was on; the previous
    settings are always restored. The toggle is session-wide while active —
    the engine's drivers run one job at a time by design, so don't wrap
    concurrent queries.

    With AQE off nothing coalesces the static ``spark.sql.shuffle.partitions``
    (sized to the core count for the at-scale path), so every stage of a
    tiny-state loop schedules one near-empty task per core. Partition count
    should track data size, not core count (optimization guide §2.2): while
    the bypass is engaged the partition count becomes
    ``clamp(ceil(n_rows / rows_per_partition), 4, previous)`` — derived from
    the input size, never raised above the configured value, and only inside
    the same ≤``threshold`` window where AQE is off (at sf1.0 and above the
    bypass disengages entirely). Measured at 139k edges / local[32]
    (scripts/profile_partitions.py, warm JIT, median of 2): 32→8 partitions
    gives pagerank-to-1e-6 18.9→9.8 s, hits5 7.5→3.4 s, CC 11.7→4.2 s,
    BT-5 8.3→5.2 s.

    Those figures are from ``local[32]``. On a 4-core host the opposite
    was measured for AQE switched off for a whole ``perfbench``
    ``transcripts`` run (traced, seed 42): ``pagerank.cpu_s`` 24→36,
    ``triangles.cpu_s`` 9→33, ``suite.cpu_s`` 81→197, with more stages
    and tasks. Re-measure this policy on 4 cores before moving it into
    the engine's drivers; do not assume the ``local[32]`` result.
    """
    key = "spark.sql.adaptive.enabled"
    pkey = "spark.sql.shuffle.partitions"
    prev = str(spark.conf.get(key, "true"))
    engage = n_rows <= threshold and prev.lower() == "true"
    prev_parts: str | None = None
    if engage:
        spark.conf.set(key, "false")
        try:
            cur_parts = int(spark.conf.get(pkey, "200"))
        except ValueError:
            cur_parts = None
        if cur_parts is not None:
            sized = max(4, -(-int(n_rows) // rows_per_partition))
            if sized < cur_parts:
                prev_parts = str(cur_parts)
                spark.conf.set(pkey, str(sized))
    try:
        yield engage
    finally:
        if engage:
            spark.conf.set(key, prev)
            if prev_parts is not None:
                spark.conf.set(pkey, prev_parts)
