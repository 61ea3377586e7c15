"""SparkSession factory with scale-aware defaults.

The reference pins ``spark.sql.shuffle.partitions=1`` and
``spark.default.parallelism=1`` (reference readme.md:40-41) because its
micro-batches are small and it wants co-partitioned dedup in one task.
That choice dies at 100 TB.  We instead enable AQE so Spark picks the
partition count at runtime (coalescing small batches down to few tasks
— same effect as the reference's 1 — while scaling up for big ones),
and leave shuffle.partitions at a per-deployment value.

Cached plans follow the same rule: AQE may coalesce a ``persist()``ed
plan's output partitions too, so a job over a cached micro-batch (the
pipeline's LWW result, a sink slice) runs as many tasks as its data
needs instead of ``initialPartitionNum``.  The policy is one conf,
:data:`CACHED_PLAN_COALESCE`, with no runtime toggle: ``get_spark``
sets it on every session it makes, and ``CdcPipeline.start`` sets it on the
stream's own session clone inside ``foreachBatch``, so a pipeline
started from any session sizes its cached batch the same way without
touching the caller's session.  Only the state store of a stateful
stream keeps the partition count it was first checkpointed with,
because no AQE conf resizes it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: lets AQE coalesce a persisted plan's output partitions; without it
#: every job over a cache runs the plan's initial shuffle width
CACHED_PLAN_COALESCE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def get_spark(
    app_name: str = "cdc_redshift_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Local mode is a single JVM; on a real cluster the same config
    applies per-executor.  AQE handles runtime partition coalescing and
    skew-join splitting, which replaces the reference's hardcoded
    1-partition shuffle (reference readme.md:40-41).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # start every shuffle WIDE and let AQE coalesce down: small
        # stages still collapse to a handful of tasks, but a hot
        # aggregate (e.g. the simjoin pair dedup at 8x replication)
        # gets 256-way parallelism instead of spilling through
        # `shuffle_partitions` sorters — measured 69 s -> 52 s on the
        # 40k-doc simjoin probe with zero cost to the small queries
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(256, int(cpus) * 8)),
        )
        # without this AQE leaves a persisted plan at the wide initial
        # width, and every job over the cache runs ~256 tasks
        .config(CACHED_PLAN_COALESCE, "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet uses TIMESTAMP(NANOS); read as long
        # and rebuild micros in sources.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
