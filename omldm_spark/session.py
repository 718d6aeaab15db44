"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
config surface is what we would submit to a 1000-executor cluster — only
master/memory change. Every knob here exists for the 100 TB goal:

* AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic broadcast conversion — replaces all hand partition-tuning the
  Flink reference did with custom partitioners
  (``random_partitioner.scala:5-16``, ``FlinkHubMessagePartitioner.scala``).
* Arrow on: every pandas-UDF learner kernel moves columnar batches, not
  pickled rows.
* shuffle.partitions defaults to cores locally; on a real cluster this is
  overridden (or left to AQE's coalescing from a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "omldm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime re-planning (partition coalescing, skew splits,
        # shuffle->broadcast conversion). Free scale insurance.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        # Arrow transfer for the pandas UDF kernels; the keyed training
        # pass (applyInArrow) streams each key's rows in batches of
        # maxRecordsPerBatch, the driver round's cap too.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamp semantics for oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # Vanilla Spark refuses parquet TIMESTAMP(NANOS); read it as its
        # physical INT64 (io.load_table turns that into a timestamp).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Broadcast anything under 32 MB — dimension tables, pipeline specs,
        # trained models. At 100 TB the fact tables never qualify; the dims do.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
