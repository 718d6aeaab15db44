"""Table loading + the lineitem->DataInstance derivation used everywhere.

The driver testdata (TESTDATA.md) is the canonical input. The reference
consumes JSON ``DataInstance`` records from Kafka; we derive an equivalent,
fully deterministic learning-point stream from ``lineitem`` so that every
step stays DuckDB-oracle-checkable:

* numericalFeatures = [l_quantity, l_discount, l_tax]
* target            = l_extendedprice  (regression target)
* label01           = sign test (l_returnflag = 'R')  for classifiers
* operation         = 'forecasting' for every 10th row else 'training'
  (deterministic on the key, mirroring the reference's count-based routing,
  FlinkSpoke.scala:92-107)
* id                = l_orderkey * 8 + l_linenumber (unique, replayable order)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # A TIMESTAMP(NANOS) events.ts reads as nanos-since-epoch under the
        # session's spark.sql.legacy.parquet.nanosAsLong (set by
        # session.get_spark); expose it as a proper timestamp.
        df = df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / F.lit(1000)).cast("long"))
        )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def data_instances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem -> DataInstance-shaped DataFrame (deterministic derivation).

    Columns: id, numericalFeatures, discreteFeatures, categoricalFeatures,
    target, operation — the schema parsed by the reference at
    DataPointParser.scala:17-47. Pure column expressions: stays inside
    whole-stage codegen, columns prune down to the 7 used lineitem fields.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rid = (F.col("l_orderkey") * F.lit(8) + F.col("l_linenumber")).cast("long")
    return li.select(
        rid.alias("id"),
        F.array(F.col("l_quantity"), F.col("l_discount"), F.col("l_tax")).alias(
            "numericalFeatures"
        ),
        F.array(F.col("l_linenumber")).alias("discreteFeatures"),
        F.array(F.col("l_returnflag"), F.col("l_linestatus")).alias(
            "categoricalFeatures"
        ),
        F.col("l_extendedprice").alias("target"),
        F.when(F.pmod(rid, F.lit(10)) == 0, F.lit("forecasting"))
        .otherwise(F.lit("training"))
        .alias("operation"),
    )


# The same derivation as ANSI SQL for the DuckDB oracle (views pre-registered
# by the driver). Kept adjacent to the Spark version so they evolve together.
DATA_INSTANCES_SQL = """
SELECT
  CAST(l_orderkey * 8 + l_linenumber AS BIGINT) AS id,
  [l_quantity, l_discount, l_tax] AS "numericalFeatures",
  [l_linenumber] AS "discreteFeatures",
  [l_returnflag, l_linestatus] AS "categoricalFeatures",
  l_extendedprice AS target,
  CASE WHEN (l_orderkey * 8 + l_linenumber) % 10 = 0
       THEN 'forecasting' ELSE 'training' END AS operation
FROM lineitem
"""


# ---------------------------------------------------------------------------
# Multi-format batch connectors (S11 generalized beyond parquet)
# ---------------------------------------------------------------------------

# Formats shipped with vanilla Spark — no extra packages. avro/delta/iceberg
# need their connector jars on the cluster and are deliberately NOT listed;
# requesting them raises here instead of failing mid-job on the executors.
SUPPORTED_BATCH_FORMATS = ("parquet", "json", "csv", "orc",
                           "text", "binaryFile")


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
):
    """Read a batch source in any supported format.

    Scale notes per format: parquet/orc are the scan formats of choice
    (columnar, min/max pruning, predicate pushdown, splittable); json and
    csv are ingest formats — splittable only uncompressed or with a
    splittable codec, no pushdown, full-row parse cost — so pipelines
    should land them once and rewrite to parquet (see write_sink).  For
    json/csv ALWAYS pass an explicit schema: schema inference triggers an
    extra full scan of the data and may type-drift between runs — at
    100 TB that is both a 2x read and a correctness hazard.  text reads
    one string column ``value`` per line (raw-corpus ingest); binaryFile
    reads (path, modificationTime, length, content) with pathGlobFilter
    pruning BEFORE bytes load — the media-ingest front door
    (operators/multimodal.py), read-only by Spark design."""
    if fmt not in SUPPORTED_BATCH_FORMATS:
        raise ValueError(
            f"format {fmt!r} not in {SUPPORTED_BATCH_FORMATS}; avro/delta "
            "need their connector packages on the cluster"
        )
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("json", "csv"):
        raise ValueError(f"{fmt} read requires an explicit schema")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_sink(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "error",
    partition_by: list[str] | None = None,
    **options,
):
    """Write a batch sink in any supported format.

    ``partition_by`` produces hive-style directory partitioning — the
    coarse pruning layer above parquet row-group stats (use LOW-cardinality
    columns only; a high-cardinality partition column creates a
    small-files explosion).  CSV timestamps round-trip via the explicit
    timestampFormat option; callers moving data between engines should
    prefer integer epoch columns (see tests/test_io_formats.py)."""
    if fmt == "binaryFile":
        raise ValueError(
            "binaryFile is READ-only (Spark has no binaryFile writer — "
            "store payload bytes in a parquet BINARY column instead, "
            "operators/multimodal.py)"
        )
    if fmt not in SUPPORTED_BATCH_FORMATS:
        raise ValueError(
            f"format {fmt!r} unsupported: writable formats are "
            f"{tuple(f for f in SUPPORTED_BATCH_FORMATS if f != 'binaryFile')}"
        )
    if fmt == "text":
        # Spark's text writer fails at RUNTIME on anything but a single
        # string DATA column — validate at call time so the error is
        # actionable (review r9/r10).  Partition columns leave the data
        # schema, so they are excluded from the count.
        data_cols = [c for c in df.columns if c not in (partition_by or [])]
        types = dict(df.dtypes)
        if len(data_cols) != 1 or types[data_cols[0]] != "string":
            raise ValueError(
                "text write requires exactly one non-partition string "
                f"column; got {df.dtypes} with partition_by="
                f"{partition_by} — project/concat_ws down to one string "
                "column first"
            )
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)
