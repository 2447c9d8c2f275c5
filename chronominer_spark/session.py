"""SparkSession builders.

Defaults follow the scale posture in SURVEY.md §7: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow-backed
pandas UDFs on (every per-row operation in this engine is vectorized),
UTC session timezone (oracle comparability), and shuffle partitions sized
to cores rather than the 200 default.

On a real cluster the same builders are used from ``spark-submit
--py-files``; only ``master`` and the memory knobs change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def build_session(
    app_name: str = "chronominer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with scale-appropriate defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    in the sandbox; under spark-submit pass ``master=None`` and let the
    launcher decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Join-strategy posture (optimization guide §3.1/§9): allow the
        # planner to pick shuffled-hash over sort-merge when its size
        # conditions hold (no sort of either side), let AQE rewrite a
        # sort-merge join to shuffled-hash when every post-shuffle
        # partition is small (runtime sizes, not estimates), and let
        # AQE broadcast a side it MEASURES under 64 MB at runtime —
        # static estimates on mid-plan frames are wildly off, which
        # left small dimension-sized sides in sort-merge joins. All
        # three are size-gated at runtime, so they scale with input
        # rather than encoding local[32] assumptions.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "256m")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # dynamic partition overwrite = idempotent per-partition result
        # commits (the Spark analog of the reference's atomic
        # temp-write+replace, modules/infra/jsonl.py:329-349)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
