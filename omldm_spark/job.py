"""Top-level job assembly — the PySpark analogue of the reference's single
Flink program (``src/main/scala/omldm/Job.scala:35-108``).

The reference job wires six Kafka topics into one always-on dataflow:
trainingData + forecastingData + requests in; predictions, responses,
performance out (``Job.scala:42-105``, ``README.md:21-26``). Here the same
assembly is ONE Structured Streaming query over a unified data+control
stream (rows discriminated by a ``kind`` column, the J1 connect of
SURVEY.md §2.8) with a ``foreachBatch`` BSP round per micro-batch:

    sources (kafka | file replay)                       Job.scala:42-57,127-133
      -> unified stream (kind = data | request)          J1 connect
      -> [optional] event-time watermark + TTL dedup     streaming/stateful.py
      -> foreachBatch: requests first, then train/score  training_loop.py
      -> predictions parquet/kafka sink                  Job.scala:98-105
      -> responses + performance via catalog drains      Job.scala:89-96

``JobConfig`` mirrors ``DefaultJobParameters.scala:5-11`` name-for-name so a
reference user's job invocation translates directly; Kafka mode reuses the
contract-tested option builders in ``streaming/sources.py`` (no broker in
the test env — file replay runs the identical downstream plan).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .plans.catalog import PipelineCatalog
from .streaming.sources import file_replay_source, kafka_source
from .streaming.training_loop import make_batch_handler


@dataclass
class JobConfig:
    """Reference job parameters (DefaultJobParameters.scala:5-11) plus the
    source/sink bindings that replace the hard-wired topic names."""

    parallelism: int = 16            # --parallelism (spokes)
    max_msg_params: int = 2_000      # --maxMsgParams (chunking threshold)
    test_set_size: int = 256         # --testSetSize (per-worker holdout)
    timeout_ms: int = 30_000         # --timeout (idle termination)
    check_interval_ms: int = 5_000   # Checkpointing.scala:21-22
    hub_parallelism: int = 1         # --hubParallelism

    # source bindings: either kafka brokers + topics, or a file-replay path
    brokers: str | None = None
    unified_topic: str = "trainingData"
    input_path: str | None = None
    input_schema: object | None = None
    max_files_per_trigger: int | None = None

    # sink bindings
    predictions_path: str | None = None
    checkpoint_dir: str | None = None
    state_path: str | None = None    # catalog persistence (exactly-once replay)

    dim: int = 3
    features_col: str = "features"
    label_col: str = "label"
    id_col: str = "id"

    # optional cross-batch dedup on the data stream: rows with
    # kind='request' bypass (control plane is never deduped); state is
    # TTL-bounded past the event-time watermark (the 100 TB shape)
    dedup_key: str | None = None
    dedup_ttl_ms: int | None = None
    watermark_col: str = "event_time"
    watermark_delay: str = "10 seconds"

    # driver-side drains (tests/inspection only — production rows flow to
    # predictions_path; see make_batch_handler docstring)
    predictions_sink: list | None = None
    stats_sink: list | None = None
    responses_sink: list = field(default_factory=list)
    holdout_df: DataFrame | None = None


def build_source(spark: SparkSession, cfg: JobConfig) -> DataFrame:
    """The unified input stream: Kafka in production, file replay here —
    everything downstream is source-agnostic (streaming/sources.py)."""
    if cfg.brokers:
        return kafka_source(spark, cfg.brokers, cfg.unified_topic)
    if cfg.input_path is None or cfg.input_schema is None:
        raise ValueError("JobConfig needs either brokers or input_path+schema")
    return file_replay_source(
        spark, cfg.input_path, cfg.input_schema,
        max_files_per_trigger=cfg.max_files_per_trigger,
    )


def run_job(spark: SparkSession, cfg: JobConfig,
            catalog: PipelineCatalog | None = None):
    """Assemble and run the whole job with an availableNow trigger (bounded
    replay — the reference's file-driven workload; swap the trigger for a
    processing-time one in an always-on deployment). Returns the catalog so
    callers can inspect pipelines/responses after the run."""
    catalog = catalog or PipelineCatalog(path=cfg.state_path)
    stream = build_source(spark, cfg)

    if cfg.dedup_key:
        from pyspark.sql import functions as F

        from .streaming.stateful import streaming_dedup

        marked = stream.withWatermark(cfg.watermark_col, cfg.watermark_delay)
        has_kind = "kind" in stream.columns
        data = marked.filter(F.col("kind") == "data") if has_kind else marked
        deduped = streaming_dedup(
            data, cfg.dedup_key, data.schema, ttl_ms=cfg.dedup_ttl_ms,
            event_time_col=cfg.watermark_col,
        )
        if has_kind:
            stream = deduped.unionByName(
                marked.filter(F.col("kind") == "request")
            )
        else:
            stream = deduped

    handle = make_batch_handler(
        spark,
        catalog,
        features_col=cfg.features_col,
        label_col=cfg.label_col,
        id_col=cfg.id_col,
        dim=cfg.dim,
        num_partitions=cfg.parallelism,
        predictions_sink=cfg.predictions_sink,
        stats_sink=cfg.stats_sink,
        predictions_path=cfg.predictions_path,
        responses_sink=cfg.responses_sink,
        holdout_df=cfg.holdout_df,
    )
    writer = stream.writeStream.foreachBatch(handle).trigger(availableNow=True)
    if cfg.checkpoint_dir:
        writer = writer.option("checkpointLocation", cfg.checkpoint_dir)
    q = writer.start()
    q.awaitTermination(cfg.timeout_ms / 1000.0)
    if q.isActive:
        q.stop()
    return catalog
