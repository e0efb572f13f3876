"""SparkSession factory tuned for the engine.

Defaults are scale-aware: AQE on (runtime re-plan + skew-join handling),
shuffle partitions sized to cores for local mode (a cluster deployment
overrides via ``extra_conf`` or ``spark-defaults``), Arrow enabled for every
pandas interchange, UTC session timezone so results compare bit-stable
against external engines (DuckDB oracle, parquet readers).

The driver JVM's launch options go in ``spark.driver.defaultJavaOptions``,
which Spark puts before ``spark.driver.extraJavaOptions``: a deployment's
or caller's ``extraJavaOptions`` still applies and, for the same HotSpot
flag, wins. A ``defaultJavaOptions`` set in ``spark-defaults`` is replaced
whenever ``get_spark`` sets one.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def effective_cpus() -> int:
    """Resolved ``$SPARK_GRAFT_CPUS``, the one validation shared by the
    session factory and bench.py's result record. Falls back to the host
    count when unset; raises immediately (before any work) on a
    non-numeric or non-positive value."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw:
        try:
            cpus = int(raw)
        except ValueError:
            raise ValueError(
                f"SPARK_GRAFT_CPUS must be an integer, got {raw!r}"
            ) from None
        if cpus < 1:
            raise ValueError(f"SPARK_GRAFT_CPUS must be >= 1, got {cpus}")
        return cpus
    return os.cpu_count() or 4


# Runtime-settable confs every builder needs regardless of who constructed
# the SparkSession (the driver harness passes a bare one):
# registry.prepare_session applies them with spark.conf.set, and
# get_spark starts every session with them. None is needed to read events:
# its ts is stored in micros, and a nanos file is rejected at read.
RUNTIME_CONF = {
    # Testdata timestamps are naive (isAdjustedToUTC=false) micros; read them
    # as UTC instants (TIMESTAMP, not TIMESTAMP_NTZ) so event-time functions
    # and filter pushdown work straight off the scan. catalog.py's
    # normalize_timestamps() covers sessions where this cannot be set.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Bit-stable timestamps vs the DuckDB oracle on any host timezone.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
}

# Session-only confs (need a JVM start) on top of the runtime table.
_DEFAULTS = {
    **RUNTIME_CONF,
    # 128 MB input splits: keeps task count proportional to data, not files.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
}


def compiler_threads(cpus: int) -> int | None:
    """The JIT compiler-thread count ``get_spark`` launches a driver JVM
    with on ``cpus`` cpus: half of them, never below 2 (tiered HotSpot
    refuses to start with fewer). None where that would not lower the count
    HotSpot picks itself for ``cpus`` (JDK 17 ``CICompilerCountPerCPU``:
    max(2, 3/2 * log2 n * log2 log2 n)); HotSpot then keeps its own.

    The rule lowers the count at 4, 5 and 16–23 cpus. It was measured at
    4 cpus only (2 threads for HotSpot's 3); at 5 and 16–23 cpus it
    applies unmeasured."""
    log = cpus.bit_length() - 1
    hotspot = max(2, log * (max(log, 1).bit_length() - 1) * 3 // 2)
    count = max(2, cpus // 2)
    return count if count < hotspot else None


def get_spark(
    app_name: str = "xgboost_ray_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or all cores) so the
    same entry points run in tests and in the driver harness; on a real
    cluster the caller passes its own master / relies on spark-submit.
    The JVM options take effect only when this call launches the JVM.
    """
    cpus = effective_cpus()
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    # JIT compiler threads: half of $SPARK_GRAFT_CPUS, never below 2, and set
    # only where that lowers HotSpot's own count.
    if count := compiler_threads(cpus):
        conf["spark.driver.defaultJavaOptions"] = f"-XX:CICompilerCount={count}"
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
