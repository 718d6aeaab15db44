"""Parsing / projection operators (SURVEY.md §2.2, P1-P8).

Reference behavior being matched (citations into /root/reference/):

* P1 ``DataInstanceParser`` (src/main/scala/omldm/utils/parsers/
  DataInstanceParser.scala:8-24): JSON -> POJO, silently drop malformed
  records, drop the ``"EOS"`` sentinel, drop records failing ``isValid``.
  Spark: one vectorized pyarrow NDJSON read per Arrow batch
  (``mapInArrow``), then the validity rule as one Catalyst projection.
* P2 ``RequestParser`` (…/requestStream/RequestParser.scala:8-18): same for
  pipeline CRUD requests; ``from_json`` in PERMISSIVE mode + ``filter``.
* P3 ``DataPointParser`` (…/dataStream/DataPointParser.scala:14-59):
  DataInstance -> learning point; a record with all three feature arrays
  null/empty is dropped (:17); label presence selects Labeled/Unlabeled;
  ``operation`` selects training vs forecasting.
* P4 ``StringToArrayDoublesParser`` (…/StringToArrayDoublesParser.scala:3-5):
  "1.0,2.0" -> ARRAY<DOUBLE>.
* P5 hub-broadcast expansion (src/main/scala/omldm/FlinkLearning.scala:65-75):
  one HubMessage with parallel operation/destination arrays -> one control
  message per (op, dest) pair; networkId == -1 synthesizes one message per
  worker (broadcast to all).
* P8 toString sink projection (src/main/scala/omldm/Job.scala:91,100):
  POJO -> JSON string.

Apart from P1's NDJSON read, all of these are pure Catalyst expressions:
filters push down to the scan, nothing leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from ..schemas import DATA_INSTANCE_SCHEMA, REQUEST_SCHEMA


def _line_parser(arrow_schema):
    """The one DataInstance parser, as a mapInArrow body: one output row
    per input line, the typed fields plus ``_malformed``.

    A line is good only if it starts with ``{`` (after whitespace) and
    ``pyarrow.json`` reads it, under the explicit schema with unknown
    fields ignored, as exactly one row.  Each batch of object lines is
    read in one vectorized call; a run of lines that fails or returns
    another row count is split in halves until every good run reads in
    one call.  The reader parses each line on its own (no value spans a
    newline), so a run reads as one row a line exactly when each of its
    lines does alone: a failing run whose first half reads is known bad
    in its second half, which is split without another read.  Wrong-typed
    fields, non-object JSON, blank lines and two objects on one line all
    come out malformed, never coerced and never failing the task.
    Non-object lines never reach the reader: a leading ``null`` crashes
    pyarrow 16.1's.  Output order does not matter, so malformed rows go
    last."""

    def parse(batches):
        import io

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.json as pj

        read_opts = pj.ReadOptions(use_threads=False)
        parse_opts = pj.ParseOptions(explicit_schema=arrow_schema,
                                     unexpected_field_behavior="ignore")

        def read(lines):
            try:
                return pj.read_json(io.BytesIO("\n".join(lines).encode()),
                                    read_options=read_opts,
                                    parse_options=parse_opts)
            except pa.ArrowException:
                return None

        def good_runs(lines, known_bad=False):
            """Tables of the lines of ``lines`` that read alone as one row
            each, in line order."""
            if not known_bad:
                tbl = read(lines)
                if tbl is not None and tbl.num_rows == len(lines):
                    return [tbl]
            if len(lines) == 1:
                return []
            mid = len(lines) // 2
            head = good_runs(lines[:mid])
            return head + good_runs(
                lines[mid:], sum(t.num_rows for t in head) == mid)

        def flagged(tbl, malformed):
            return tbl.append_column(
                "_malformed", pa.array(np.full(tbl.num_rows, malformed)))

        for batch in batches:
            col = batch.column(0)
            is_obj = pc.fill_null(
                pc.starts_with(pc.utf8_ltrim_whitespace(col), "{"), False)
            lines = col.filter(is_obj).to_pylist()
            good = pa.concat_tables(
                [arrow_schema.empty_table()]
                + (good_runs(lines) if lines else []))
            bad = pa.table([pa.nulls(len(col) - good.num_rows, f.type)
                            for f in arrow_schema], schema=arrow_schema)
            yield from pa.concat_tables(
                [flagged(good, False), flagged(bad, True)]).to_batches()

    return parse


def parse_data_instances_quarantine(
    raw: DataFrame, value_col: str = "value"
) -> DataFrame:
    """P1 with a dead-letter lane instead of the silent drop: every raw
    row comes back with a ``reject_reason`` — NULL for good rows,
    'malformed_json' / 'bad_operation' / 'no_features' otherwise (first
    matching reason wins, in that order).  Production pipelines route
    the non-null lane to a quarantine sink for replay and alert on its
    rate; the reference drops silently (DataInstanceParser.scala:12-22),
    which hides upstream schema drift.  The parse is the vectorized
    pyarrow NDJSON kernel (``_line_parser``) in one ``mapInArrow``; the
    reasons are one Catalyst projection over its output, so the good
    lane is exactly :func:`parse_data_instances`."""
    from pyspark.sql.pandas.types import to_arrow_schema

    di = raw.select(value_col).mapInArrow(
        _line_parser(to_arrow_schema(DATA_INSTANCE_SCHEMA)),
        schema=StructType(DATA_INSTANCE_SCHEMA.fields
                          + [StructField("_malformed", BooleanType())]),
    )
    # SQL text: the JVM parses the whole CASE in one call
    return di.selectExpr(*DATA_INSTANCE_SCHEMA.fieldNames(), """
        CASE WHEN _malformed THEN 'malformed_json'
             WHEN NOT coalesce(operation IN ('training', 'forecasting'),
                               false) THEN 'bad_operation'
             WHEN NOT (size(coalesce(numericalFeatures, array())) > 0
                       OR size(coalesce(discreteFeatures, array())) > 0
                       OR size(coalesce(categoricalFeatures, array())) > 0)
             THEN 'no_features'
        END AS reject_reason""")


def parse_data_instances(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """P1: raw JSON strings -> validated DataInstance rows: the good lane
    of :func:`parse_data_instances_quarantine`.  Malformed JSON, the
    ``"EOS"`` sentinel and invalid records are dropped silently — the
    semantics of DataInstanceParser.scala:12-22."""
    return (
        parse_data_instances_quarantine(raw, value_col)
        .filter("reject_reason IS NULL")
        .drop("reject_reason")
    )


def parse_requests(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """P2: raw JSON -> validated Request rows (RequestParser.scala:8-18).
    ``from_json`` in PERMISSIVE mode (malformed -> NULL fields) plus a
    filter; the NDJSON kernel cannot read REQUEST_SCHEMA, because
    pyarrow 16.1 has no JSON conversion to ``map<string, string>``."""
    rq = F.col("rq")
    valid = (
        rq.isNotNull()
        & rq["id"].isNotNull()
        & rq["request"].isin("Create", "Update", "Query", "Delete")
    )
    return (
        raw.select(F.from_json(F.col(value_col), REQUEST_SCHEMA).alias("rq"))
        .filter(valid)
        .select("rq.*")
    )


def to_usable_points(instances: DataFrame) -> DataFrame:
    """P3: DataInstance -> learning points.

    Adds ``kind`` ('labeled'/'unlabeled') — the discriminator column that
    replaces the reference's runtime ``isInstanceOf`` filters
    (FlinkLearning.scala:99-108, P6).
    """
    return instances.select(
        "id",
        F.coalesce(F.col("numericalFeatures"), F.array()).alias("numericalFeatures"),
        F.coalesce(F.col("discreteFeatures"), F.array()).alias("discreteFeatures"),
        F.coalesce(F.col("categoricalFeatures"), F.array()).alias(
            "categoricalFeatures"
        ),
        F.col("target"),
        F.col("operation"),
        F.when(F.col("target").isNotNull(), F.lit("labeled"))
        .otherwise(F.lit("unlabeled"))
        .alias("kind"),
    )


def parse_double_array(col: Column | str, sep: str = ",") -> Column:
    """P4: '1.0,2.0' -> ARRAY<DOUBLE> (StringToArrayDoublesParser.scala:3-5)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(F.split(c, sep), lambda x: x.cast("double"))


def expand_hub_broadcast(
    hub_messages: DataFrame,
    parallelism: int,
    ops_col: str = "operations",
    dests_col: str = "destinations",
) -> DataFrame:
    """P5: explode parallel (operations, destinations) arrays into unit
    control messages; networkId == -1 fans out one message per worker
    (FlinkLearning.scala:65-75).
    """
    regular = (
        hub_messages.filter(F.col("networkId") != -1)
        .select(
            F.col("networkId").cast("long").alias("networkId"),
            F.explode(
                F.arrays_zip(
                    F.col(ops_col).alias("operation"),
                    F.col(dests_col).alias("destination"),
                )
            ).alias("od"),
        )
        .select(
            "networkId",
            F.col("od.operation").cast("long").alias("operation"),
            F.col("od.destination").cast("long").alias("destination"),
        )
    )
    broadcast = (
        hub_messages.filter(F.col("networkId") == -1)
        .select(
            F.col("networkId").cast("long").alias("networkId"),
            F.explode(F.sequence(F.lit(0), F.lit(parallelism - 1))).alias(
                "destination"
            ),
        )
        .select(
            "networkId",
            F.lit(-1).cast("long").alias("operation"),
            F.col("destination").cast("long").alias("destination"),
        )
    )
    return regular.unionByName(broadcast)


def to_json_sink(df: DataFrame) -> DataFrame:
    """P8/S7-S9: rows -> one JSON string column named ``value`` (Kafka shape)."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))
