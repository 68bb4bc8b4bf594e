"""SparkSession factory with scale-oriented defaults.

Tuned for the target posture (SURVEY.md §4): AQE on (runtime coalescing +
skew-join splitting), Arrow-vectorized Python boundary, and a
shuffle-partition count that matches local core counts while staying sane for
a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "goribot_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard configs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the same code path serves tests, bench at two parallelism levels, and a
    real ``spark-submit`` deployment (where ``master`` is left to the
    launcher by passing master="").
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)

    conf = {
        # AQE: runtime partition coalescing + skew-join splitting (hot hosts).
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Runtime bloom-filter join injection measured net-negative on the
        # wave supersteps (planning cost > pruning benefit at these join
        # sizes), so the seen anti-join runs as a plain exact join.
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "false",
        # All Python crossings are Arrow-vectorized (input_hint: no per-row UDFs).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Keep broadcast threshold default (10MB): rules/robots/seeds broadcast.
        "spark.sql.session.timeZone": "UTC",
        # Quieter local runs.
        "spark.ui.enabled": "false",
        # Wave frames are localCheckpoint'ed (lineage truncation); their
        # blocks free via ContextCleaner on JVM GC — keep that timely for
        # long crawls.
        "spark.cleaner.periodicGC.interval": "5min",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
