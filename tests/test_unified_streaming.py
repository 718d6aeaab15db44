"""ONE writeStream carrying the whole reference job (Job.scala:35-108 entry
points A+B+C): a unified data+control stream with an event-time watermark ->
cross-batch TTL dedup (keyed state, checkpointed) -> per-batch BSP training
-> Query responses — all inside a single availableNow run with
checkpointing (r1 VERDICT item 5)."""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from omldm_spark.plans.catalog import PipelineCatalog
from omldm_spark.streaming.sources import await_bounded, file_replay_source
from omldm_spark.streaming.stateful import streaming_dedup
from omldm_spark.streaming.training_loop import make_batch_handler

RNG = np.random.default_rng(11)

UNIFIED_SCHEMA = StructType([
    StructField("kind", StringType()),
    StructField("id", LongType()),
    StructField("features", ArrayType(DoubleType())),
    StructField("label", DoubleType()),
    StructField("operation", StringType()),
    StructField("event_time", TimestampType()),
    StructField("request", StringType()),
    StructField("requestId", LongType()),
    StructField("learner", StructType([StructField("name", StringType())])),
])


def _data_rows(ids, t0):
    X = RNG.normal(size=(len(ids), 3))
    y = np.sign(X @ np.array([2.0, -1.0, 0.5]))
    y[y == 0] = 1.0
    return pd.DataFrame({
        "kind": "data",
        "id": list(ids),
        "features": [list(map(float, r)) for r in X],
        "label": y.astype(float),
        "operation": ["forecasting" if i % 10 == 0 else "training" for i in ids],
        "event_time": [t0 + pd.Timedelta(seconds=int(i)) for i in ids],
        "request": None,
        "requestId": None,
        "learner": None,
    })


def _request_row(req, req_id, t0, learner=None):
    return pd.DataFrame({
        "kind": ["request"],
        "id": [1],
        "features": [None],
        "label": [None],
        "operation": [None],
        "event_time": [t0],
        "request": [req],
        "requestId": [req_id],
        "learner": [{"name": learner} if learner else None],
    })


def _write_ordered(path, frames):
    """One parquet file per micro-batch, path- AND mtime-ordered so the
    FileStreamSource replays them in sequence with maxFilesPerTrigger=1."""
    os.makedirs(path, exist_ok=True)
    schema = pa.schema([
        ("kind", pa.string()),
        ("id", pa.int64()),
        ("features", pa.list_(pa.float64())),
        ("label", pa.float64()),
        ("operation", pa.string()),
        ("event_time", pa.timestamp("us")),
        ("request", pa.string()),
        ("requestId", pa.int64()),
        ("learner", pa.struct([("name", pa.string())])),
    ])
    base = time.time() - 1000
    for i, frame in enumerate(frames):
        f = os.path.join(path, f"batch-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(frame, schema=schema), f)
        os.utime(f, (base + i * 10, base + i * 10))


def test_unified_stream_create_train_query_response(spark, tmp_path):
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    ids1 = list(range(0, 200))
    ids2 = list(range(200, 400))
    b0 = _request_row("Create", 1, t0, learner="PA")
    b1 = _data_rows(ids1, t0)
    # batch 2: fresh rows + 50 duplicates of batch-1 ids (same event times)
    b2 = pd.concat(
        [_data_rows(ids2, t0), _data_rows(ids1[:50], t0)], ignore_index=True
    )
    b3 = _request_row("Query", 99, t0 + pd.Timedelta(hours=1))
    src = str(tmp_path / "unified_src")
    _write_ordered(src, [b0, b1, b2, b3])

    stream = file_replay_source(spark, src, UNIFIED_SCHEMA,
                                max_files_per_trigger=1)
    # event-time watermark on the training stream; dedup state expires 1h
    # past the watermark (bounded state — the 100 TB shape)
    marked = stream.withWatermark("event_time", "10 seconds")
    data = marked.filter(F.col("kind") == "data")
    deduped = streaming_dedup(
        data.withColumn("k", F.col("id").cast("string")),
        "k",
        ttl_ms=3_600_000,
    ).drop("k")
    # control rows bypass dedup and re-join the data stream (J1 connect)
    unified = deduped.unionByName(marked.filter(F.col("kind") == "request"))

    cat = PipelineCatalog(path=str(tmp_path / "cat.jsonl"))
    stats, responses = [], []
    sink = str(tmp_path / "preds")
    handle = make_batch_handler(
        spark, cat, dim=3, num_partitions=4, predictions_path=sink,
        stats_sink=stats, responses_sink=responses,
    )
    q = (
        unified.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 180)
    assert not q.isActive

    # Create applied in-stream; 400 unique rows, duplicates suppressed
    assert list(cat.pipelines) == [1]
    spec = cat.pipelines[1]
    assert spec.fitted == 360          # 400 unique * 90% training
    assert spark.read.parquet(sink).count() == 40  # forecasting, deduped
    assert len(stats) >= 2             # multiple BSP rounds
    # Query drained into a full response during the run
    assert len(responses) == 1
    r = responses[0]
    assert r["responseId"] == 99 and r["mlpId"] == "PA-1"
    assert r["dataFitted"] == 360
    assert len(r["parameters"]["w"]) == 4
    # separable stream -> the streamed model actually learned
    w = np.array(spec.model["w"])
    assert spec.cum_loss / spec.fitted < 1.0
    assert np.isfinite(w).all()


def test_dedup_ttl_expires_state(spark, tmp_path):
    """A duplicate arriving after the TTL horizon passes again — the state
    store holds only keys inside the window (bounded state), per the
    dropDuplicatesWithinWatermark contract."""
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    early = _data_rows([1, 2, 3], t0)
    # watermark advances far past t0 + ttl (10 s): state for early keys dies
    late = _data_rows([50], t0 + pd.Timedelta(hours=2))
    dup_after_expiry = _data_rows([1, 2], t0 + pd.Timedelta(hours=2))
    src = str(tmp_path / "ttl_src")
    _write_ordered(src, [early, late, dup_after_expiry])

    stream = file_replay_source(spark, src, UNIFIED_SCHEMA,
                                max_files_per_trigger=1)
    marked = stream.withWatermark("event_time", "1 second")
    out = streaming_dedup(
        marked.withColumn("k", F.col("id").cast("string")),
        "k",
        ttl_ms=10_000,
    )
    got: list = []
    q = (
        out.writeStream.foreachBatch(lambda df, _: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ttl_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 120)
    ids = sorted(r["id"] for r in got)
    # 1,2,3 pass; 50 passes; 1,2 pass AGAIN because their state expired
    assert ids == [1, 1, 2, 2, 3, 50]


def test_dedup_ttl_counts_from_event_time(spark, tmp_path):
    """A key's TTL runs from its event time, not from the watermark when it
    was first seen. The watermark is still 0 in batch 0; measured from it,
    a one-day TTL ended in 1970 and ids seen in batch 0 passed again as soon
    as the watermark moved. A key re-sent once the watermark is past its
    event time + TTL still passes."""
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    day = pd.Timedelta(days=1)
    batches = [
        _data_rows([1, 2, 3], t0),
        _data_rows([10, 11], t0 + pd.Timedelta(minutes=5)),
        _data_rows([1, 2], t0 + pd.Timedelta(minutes=10)),  # re-sent: dropped
        _data_rows([20], t0 + 2 * day),     # watermark moves past t0 + 1 day
        # past the TTL and not late (event time above the watermark): passes
        _data_rows([3], t0 + 2 * day + pd.Timedelta(minutes=1)),
    ]
    src = str(tmp_path / "ttl_day_src")
    _write_ordered(src, batches)
    stream = file_replay_source(spark, src, UNIFIED_SCHEMA,
                                max_files_per_trigger=1)
    out = streaming_dedup(
        stream.withWatermark("event_time", "10 seconds"), "id",
        ttl_ms=86_400_000,
    )
    got: list = []
    q = (
        out.writeStream.foreachBatch(lambda df, _: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ttl_day_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 120)
    # 1 and 2 once: their re-sends are dropped; 3 twice: its TTL ran out
    assert sorted(r["id"] for r in got) == [1, 2, 3, 3, 10, 11, 20]


def test_checkpoint_restart_trains_each_row_exactly_once(spark, tmp_path):
    """Crash-restart semantics (the reference's CheckpointedFunction
    surface, FlinkSpoke.scala:233-334): the stream checkpoint replays the
    failed batch, and the persisted catalog's last_batch_id guard makes the
    round idempotent — a batch that was trained AND committed before the
    crash is skipped on replay, one that wasn't replays cleanly. Both crash
    points end with every row trained exactly once."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from omldm_spark.streaming.training_loop import make_batch_handler

    t0 = pd.Timestamp("2026-01-01 00:00:00")
    frames = [_data_rows(range(b * 100, (b + 1) * 100), t0) for b in range(4)]

    for crash_point, name in (("before", "b"), ("after", "a")):
        src = str(tmp_path / f"restart_src_{name}")
        ckpt = str(tmp_path / f"restart_ckpt_{name}")
        cat_path = str(tmp_path / f"cat_{name}.jsonl")
        _write_ordered(src, frames)

        cat1 = PipelineCatalog(path=cat_path)
        cat1.apply_request({"id": 1, "request": "Create",
                            "learner": {"name": "PA"}})
        cat1.save()
        inner = make_batch_handler(spark, cat1, dim=3, num_partitions=4)
        crashed = {"done": False}

        def crashing(df, bid, _inner=inner, _crashed=crashed,
                     _point=crash_point):
            if bid == 2 and not _crashed["done"]:
                _crashed["done"] = True
                if _point == "after":
                    _inner(df, bid)  # trained + committed, THEN crash
                raise RuntimeError("injected crash")
            _inner(df, bid)

        stream = file_replay_source(spark, src, UNIFIED_SCHEMA,
                                    max_files_per_trigger=1)
        q = (
            stream.filter(F.col("kind") == "data")
            .writeStream.foreachBatch(crashing)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        with pytest.raises(StreamingQueryException):
            await_bounded(q, 120)

        # restart: fresh process state, catalog reloaded from disk
        cat2 = PipelineCatalog(path=cat_path)
        handle2 = make_batch_handler(spark, cat2, dim=3, num_partitions=4)
        q2 = (
            stream.filter(F.col("kind") == "data")
            .writeStream.foreachBatch(handle2)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        await_bounded(q2, 120)
        assert not q2.isActive
        # 400 rows, 360 training; every row exactly once despite the replay
        assert cat2.pipelines[1].fitted == 360, crash_point
