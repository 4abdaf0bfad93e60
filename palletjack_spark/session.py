"""SparkSession construction and scale-oriented tuning.

All confs here are chosen for the 100 TB target, not just local tests:
AQE (runtime re-planning, skew-join splitting, partition coalescing),
parquet filter/aggregate pushdown, nested-schema pruning, Arrow transport
for the Python boundary.  ``tune_session`` applies the runtime-settable
subset to an externally provided session (e.g. the verification driver's).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

#: Confs that are safe to set at session-build time only.
BUILD_CONF = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
}


def driver_memory() -> str | None:
    """Heap size for the local driver JVM, derived from the machine.

    Spark's default driver heap is 1 GiB regardless of hardware — on a
    32-core box that is ~31 MiB per concurrent task, and the wide
    aggregation stages (q147's 11M-pair hash aggregate, the graph
    rounds) spend their time in GC instead of compute (guide §5: size
    memory to the workload, never leave the default on a real machine;
    measured −31 % on q147 at 6 GiB vs default, flat elsewhere, A/B over
    fresh JVMs).  Sized at ~1/16 of physical RAM, clamped to [1 GiB —
    Spark's own default — and 8 GiB]; ``SPARK_GRAFT_DRIVER_MEM``
    overrides (production clusters size executors explicitly and never
    hit this local-mode path).  Returns None where physical memory
    cannot be read, leaving Spark's default untouched."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError, AttributeError):
        return None
    mb = max(1024, min(8192, total // 16 // (1 << 20)))
    return f"{mb}m"

#: Confs settable at runtime; applied defensively to any session we are
#: handed.  Each matters at scale:
#: - AQE: coalesces post-shuffle partitions and splits skewed join keys at
#:   runtime, which is the difference between a stalled straggler and an
#:   even 1000-executor stage.
#: - filterPushdown: predicates reach the parquet row-group stats (the
#:   built-in analogue of the reference's row-group pruning, SURVEY §4 O2).
#: - aggregatePushdown: COUNT/MIN/MAX answered from footer stats alone
#:   (the analogue of the reference's precomputed row counts, SURVEY §4 O4).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.parquet.recordLevelFilter.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune_session(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime-settable tuning confs; a conf the session refuses
    (e.g. a static conf on a running session) is logged as a warning and
    skipped."""
    conf = dict(RUNTIME_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else default_parallelism()
    )
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            _log.warning("session refused conf %s=%s: %s", k, v, e)
    return spark


def get_spark(
    app_name: str = "palletjack-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine."""
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = dict(BUILD_CONF)
    mem = driver_memory()
    if mem is not None:
        conf["spark.driver.memory"] = mem
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune_session(spark, shuffle_partitions)
