"""Streaming sources (S1-S5 analogues, SURVEY.md §2.1).

In production these are Kafka topics:

    spark.readStream.format("kafka")
        .option("subscribe", "trainingData")
        .option("startingOffsets", "earliest")            # S1/S2
    + the JSON parsers in functions/parsing.py (the NDJSON kernel for
      DataInstances, from_json for requests)

The test/bench environment has no Kafka broker, so the same pipelines run on
file-replay sources: a parquet/json directory consumed with ``readStream``
(availableNow => bounded replay, identical semantics to the reference's
file-driven workload DefaultJobParameters.scala:7). Everything downstream of
the source is source-agnostic — swap the reader, keep the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# The reference's external topic surface (README.md:21-26, Job.scala:42-133):
# high-volume data topics (36 partitions) + one-partition control topics.
DATA_TOPICS = ("trainingData", "forecastingData", "predictions", "psMessages")
CONTROL_TOPICS = ("requests", "responses")

# The (public, fixed) schema the Spark Kafka source emits — contract-tested
# without a broker so the projection below can't rot.
KAFKA_RAW_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def kafka_source_options(
    brokers: str, topic: str, starting_offsets: str = "earliest"
) -> dict[str, str]:
    """The option map handed to the Kafka reader — split out so its keys
    and values are assertable plan-only (no broker in the test env)."""
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }


def kafka_project(raw: DataFrame) -> DataFrame:
    """Projection applied to the raw Kafka frame: value bytes -> string,
    plus provenance columns. Works on any frame with KAFKA_RAW_SCHEMA."""
    return raw.select(
        F.col("value").cast("string").alias("value"),
        "topic", "partition", "offset", "timestamp",
    )


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1-S4: Kafka JSON stream -> raw value column (requires the Kafka
    connector package on the cluster; not available in the test env)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(brokers, topic, starting_offsets).items():
        reader = reader.option(k, v)
    return kafka_project(reader.load())


def file_replay_source(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Bounded replay of a parquet directory as a stream."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def await_bounded(q, timeout_sec: float) -> None:
    """Wait for a bounded (availableNow) replay to finish. A replay still
    running after ``timeout_sec`` is stopped and raises ``TimeoutError``
    with its last progress: returning would pass a cut-short replay off as
    a finished one.  A query that failed raises its own error here.  This
    is the one ``awaitTermination`` call in the package
    (tests/test_no_unbounded_collect.py pins it)."""
    if not q.awaitTermination(timeout_sec):
        progress = q.lastProgress
        q.stop()
        raise TimeoutError(
            f"streaming query {q.id} did not finish within {timeout_sec} s; "
            f"last progress: {progress}"
        )


def kafka_sink_options(brokers: str, topic: str, checkpoint: str) -> dict[str, str]:
    return {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
        "checkpointLocation": checkpoint,
    }


def kafka_sink(df: DataFrame, brokers: str, topic: str, checkpoint: str):
    """S6-S9: JSON rows to Kafka. The reference's custom partitioner
    (FlinkHubMessagePartitioner.scala:6-21) becomes an explicit `partition`
    column when needed; the feedback topic itself is gone (SURVEY.md §3.1)."""
    from ..functions.parsing import to_json_sink

    writer = to_json_sink(df).writeStream.format("kafka")
    for k, v in kafka_sink_options(brokers, topic, checkpoint).items():
        writer = writer.option(k, v)
    return writer
