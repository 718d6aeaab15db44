"""End-to-end streaming training loop: file-replay source -> foreachBatch
BSP rounds -> predictions, with CRUD control plane."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from omldm_spark.job import JobConfig, run_job
from omldm_spark.plans.catalog import PipelineCatalog
from omldm_spark.streaming.sources import await_bounded, file_replay_source
from omldm_spark.streaming.training_loop import predict_batch, train_batch

RNG = np.random.default_rng(25)


def _points_pdf(n=600):
    X = RNG.normal(size=(n, 3))
    y = np.sign(X @ np.array([2.0, -1.0, 0.5]))
    y[y == 0] = 1.0
    return pd.DataFrame(
        {
            "id": range(n),
            "features": [list(map(float, r)) for r in X],
            "label": y.astype(float),
            "operation": ["forecasting" if i % 10 == 0 else "training" for i in range(n)],
        }
    )


def test_train_batch_updates_catalog(spark):
    cat = PipelineCatalog()
    cat.apply_request({"id": 1, "request": "Create", "learner": {"name": "PA"}})
    df = spark.createDataFrame(_points_pdf()).filter("operation = 'training'")
    stats = train_batch(df, cat, dim=3, num_partitions=4, batch_id=0)
    assert len(stats) == 1
    spec = cat.pipelines[1]
    assert spec.fitted == 540
    assert spec.models_shipped == 4  # one partial per partition per round
    assert spec.model is not None and len(spec.model["w"]) == 4
    # second round continues from the merged model
    train_batch(df, cat, dim=3, num_partitions=4, batch_id=1)
    assert spec.fitted == 1080
    assert len(spec.learning_curve) == 2


def test_predict_batch_uses_current_model(spark):
    cat = PipelineCatalog()
    cat.apply_request({"id": 1, "request": "Create", "learner": {"name": "PA"}})
    pdf = _points_pdf()
    df = spark.createDataFrame(pdf)
    train_batch(df.filter("operation = 'training'"), cat, dim=3, num_partitions=4)
    preds = predict_batch(df.filter("operation = 'forecasting'"), cat)
    rows = preds.collect()
    assert len(rows) == 60
    assert {r["pipelineId"] for r in rows} == {1}
    assert set(np.unique([r["prediction"] for r in rows])) <= {-1.0, 1.0}


def test_run_streaming_end_to_end(spark, tmp_path):
    pdf = _points_pdf()
    src_dir = str(tmp_path / "stream_src")
    spark.createDataFrame(pdf).repartition(4).write.parquet(src_dir)

    cat = PipelineCatalog(path=str(tmp_path / "catalog.jsonl"))
    requests = spark.createDataFrame(
        pd.DataFrame([
            {"id": 1, "request": "Create", "learner": {"name": "PA"}},
            {"id": 2, "request": "Create", "learner": {"name": "NotReal"}},
        ])
    )
    cat.apply_requests_df(requests)  # control plane first
    stats = []
    sink = str(tmp_path / "pred_sink")
    run_job(spark, JobConfig(
        parallelism=4, dim=3, timeout_ms=120_000,
        input_path=src_dir, input_schema=spark.createDataFrame(pdf).schema,
        max_files_per_trigger=2,
        stats_sink=stats, predictions_path=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    ), cat)
    assert spark.streams.active == []
    assert list(cat.pipelines) == [1]  # invalid Create dropped
    assert cat.pipelines[1].fitted == 540  # every training row, all batches
    # predictions land in the distributed parquet sink (no driver
    # collection), one row per forecasting record
    sunk = spark.read.parquet(sink)
    assert sunk.count() == 60
    assert set(sunk.columns) == {"pipelineId", "recordId", "prediction"}
    assert len(stats) >= 2  # multiple micro-batches -> multiple BSP rounds
    # trained model generalizes on this separable stream
    spec = cat.pipelines[1]
    w = np.array(spec.model["w"])
    X = np.asarray(pdf[pdf.operation == "forecasting"]["features"].tolist())
    yhat = np.sign(np.hstack([X, np.ones((len(X), 1))]) @ w)
    ytrue = pdf[pdf.operation == "forecasting"]["label"].to_numpy()
    assert (yhat == ytrue).mean() > 0.9


def test_multimodal_plumbing(spark):
    from omldm_spark.operators.multimodal import (
        decode_and_featurize,
        frame_sample,
        synth_media,
    )

    media = synth_media(spark, n=30)
    decoded = decode_and_featurize(media)
    pdf = decoded.toPandas()
    assert len(pdf) == 30
    assert all(len(f) == 16 for f in pdf["feature"])
    # deterministic: same bytes -> same features
    pdf2 = decode_and_featurize(media).toPandas()
    assert pdf.sort_values("media_id")["checksum"].tolist() == \
        pdf2.sort_values("media_id")["checksum"].tolist()
    frames = frame_sample(media, every_n=2).toPandas()
    assert (frames["frame_idx"] % 2 == 0).all()


def test_pre_create_buffering(spark, tmp_path):
    """A2/M1: data arriving before any Create is buffered (bounded) and
    trained once the pipeline exists (SpokeLogic.scala:32-35,
    FlinkSpoke.scala:80)."""
    from omldm_spark.streaming.training_loop import make_batch_handler

    cat = PipelineCatalog()
    stats = []
    sink = str(tmp_path / "preds")
    handle = make_batch_handler(
        spark, cat, dim=3, num_partitions=4,
        stats_sink=stats, predictions_path=sink,
    )
    pdf = _points_pdf(300)
    df = spark.createDataFrame(pdf)
    handle(df, 0)                       # no pipeline yet -> buffered
    assert not stats and cat.live() == []
    cat.apply_request({"id": 1, "request": "Create", "learner": {"name": "PA"}})
    handle(df, 1)                       # buffered 270 + new 270 trained
    assert cat.pipelines[1].fitted == 540
    assert len(stats) == 1 and stats[0].fitted == 540
    # r2 ADVICE: forecasting rows that arrived pre-Create are buffered too
    # and scored once a model exists (30 buffered + 30 new)
    assert spark.read.parquet(sink).count() == 60


def test_dedup_then_train_composition(spark, tmp_path):
    """Pipeline composition: stream -> cross-batch dedup (keyed state) ->
    BSP training. Duplicated records must be trained exactly once."""
    from pyspark.sql import functions as SF

    from omldm_spark.streaming.stateful import streaming_dedup

    pdf = _points_pdf(400)
    dup = pd.concat([pdf, pdf.head(200)], ignore_index=True)  # 200 dups
    src = str(tmp_path / "dsrc")
    spark.createDataFrame(dup).coalesce(2).write.parquet(src)
    schema = spark.createDataFrame(pdf).schema
    stream = file_replay_source(spark, src, schema, max_files_per_trigger=1)
    keyed = stream.withColumn("k", SF.concat_ws("|", "id"))
    deduped = streaming_dedup(keyed, "k").drop("k")

    cat = PipelineCatalog()
    cat.apply_request({"id": 1, "request": "Create", "learner": {"name": "PA"}})
    stats = []
    sink = str(tmp_path / "dpreds")
    from omldm_spark.streaming.training_loop import make_batch_handler

    handle = make_batch_handler(
        spark, cat, dim=3, num_partitions=4,
        stats_sink=stats, predictions_path=sink,
    )
    q = (
        deduped.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 120)
    # 400 unique rows, 360 training / 40 forecasting; duplicates suppressed
    assert cat.pipelines[1].fitted == 360
    assert spark.read.parquet(sink).count() == 40


def test_query_responses_drained_with_model_parameters(spark):
    """Entry point C: Query requests produce full QueryResponse records with
    the trained parameters (FlinkNetwork.scala:193-231 surface)."""
    from omldm_spark.streaming.training_loop import build_query_responses

    cat = PipelineCatalog()
    cat.apply_request({"id": 1, "request": "Create", "learner": {"name": "PA"}})
    df = spark.createDataFrame(_points_pdf()).filter("operation = 'training'")
    train_batch(df, cat, dim=3, num_partitions=4, batch_id=0)
    cat.apply_request({"id": 1, "request": "Query", "requestId": 42})
    cat.apply_request({"id": 9, "request": "Query", "requestId": 43})  # missing
    responses = build_query_responses(cat)
    assert len(responses) == 1
    r = responses[0]
    assert r["responseId"] == 42 and r["mlpId"] == "PA-1"
    assert r["dataFitted"] == 540
    assert len(r["parameters"]["w"]) == 4
    assert r["cumulativeLoss"] > 0
    assert cat.responses == []  # drained


def test_multiplexed_pipelines_one_batch(spark):
    """The reference's core claim: many concurrent pipelines trained over
    the same stream (FlinkSpoke trains every live pipeline on every record,
    FlinkSpoke.scala:101). One cached batch fans out to five learners with
    different protocols, including both SingleLearner-forced ones."""
    cat = PipelineCatalog()
    for pid, (name, proto) in enumerate(
        [
            ("PA", "Synchronous"),
            ("SVM", "EASGD"),
            ("RegressorPA", None),
            ("K-means", "Synchronous"),   # forced SingleLearner
            ("HT", "Asynchronous"),       # forced SingleLearner
        ],
        start=1,
    ):
        req = {"id": pid, "request": "Create", "learner": {"name": name}}
        if proto:
            req["trainingConfiguration"] = {"protocol": proto}
        assert cat.apply_request(req) == "Create"
    assert cat.pipelines[4].protocol == "SingleLearner"
    assert cat.pipelines[5].protocol == "SingleLearner"

    df = spark.createDataFrame(_points_pdf(400)).filter("operation = 'training'")
    stats = train_batch(df, cat, dim=3, num_partitions=4, batch_id=0)
    assert len(stats) == 5
    for spec in cat.live():
        assert spec.fitted == 360, f"pipeline {spec.id} ({spec.learner})"
        assert spec.model is not None
    # protocol-specific communication accounting on the same batch
    by_id = {s.pipeline: s for s in stats}
    assert by_id[1].models_shipped == 4   # sync: every worker ships
    assert by_id[4].models_shipped == 1   # single learner: one model
    assert by_id[5].models_shipped == 1
    # second round continues every pipeline from its own state
    stats2 = train_batch(df, cat, dim=3, num_partitions=4, batch_id=1)
    assert all(cat.pipelines[s.pipeline].fitted == 720 for s in stats2)


def test_hub_parallelism_shards_shipping_stats(spark):
    """HubParallelism=2: each ship event splits the flat model across 2 hub
    replicas (FlinkLearning.scala:91-95); per-hub bytes sum to the global
    counter and messages double."""
    cat = PipelineCatalog()
    cat.apply_request({
        "id": 1, "request": "Create", "learner": {"name": "PA"},
        "trainingConfiguration": {"protocol": "Synchronous",
                                  "HubParallelism": "2"},
    })
    df = spark.createDataFrame(_points_pdf()).filter("operation = 'training'")
    train_batch(df, cat, dim=3, num_partitions=4, batch_id=0)
    spec = cat.pipelines[1]
    assert set(spec.hub_stats) == {"0", "1"}
    # PA model w has 4 doubles -> chunks [2, 2]; 4 workers shipped once
    assert spec.hub_stats["0"]["models_shipped"] == 4
    assert spec.hub_stats["0"]["bytes_shipped"] == 4 * 2 * 8
    assert spec.hub_stats["1"]["bytes_shipped"] == 4 * 2 * 8
    # two rounds accumulate
    train_batch(df, cat, dim=3, num_partitions=4, batch_id=1)
    assert spec.hub_stats["0"]["models_shipped"] == 8


def test_stream_interval_join_matches_and_drops_late(spark, tmp_path):
    """Stream-stream interval join semantics across batches: an in-window
    same-batch pair matches; a purchase arriving a batch AFTER the
    watermark has passed its click's join window is dropped (bounded
    state — the scale guarantee), so no late match appears."""
    import os as _os
    import time as _time
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from omldm_spark.streaming.sources import file_replay_source
    from omldm_spark.streaming.windows import stream_interval_join
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType, TimestampType)

    def ts(s):
        return datetime.fromtimestamp(1704067200 + s, tz=timezone.utc) \
            .replace(tzinfo=None)

    schema = pa.schema([
        ("event_id", pa.int64()), ("user_id", pa.int64()),
        ("ts", pa.timestamp("us")), ("value", pa.float64()),
    ])
    sschema = StructType([
        StructField("event_id", LongType()), StructField("user_id", LongType()),
        StructField("ts", TimestampType()), StructField("value", DoubleType()),
    ])

    cdir, pdir = tmp_path / "clicks", tmp_path / "purch"
    cdir.mkdir(); pdir.mkdir()
    t0 = _time.time() - 1000

    def write(d, name, rows, order):
        f = d / name
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(["event_id", "user_id", "ts", "value"], r))
             for r in rows], schema=schema), f)
        _os.utime(f, (t0 + order * 10, t0 + order * 10))

    # batch 1: user2 click+purchase in-window; user1 click; far-future
    # events on BOTH sides push the GLOBAL watermark (min across inputs)
    # past user1's click window
    write(cdir, "b0.parquet",
          [(1, 1, ts(1000), 0.0), (2, 2, ts(900), 0.0), (3, 8, ts(5000), 0.0)],
          0)
    write(pdir, "b0.parquet", [(10, 2, ts(1000), 5.0), (11, 9, ts(5000), 1.0)], 0)
    # batch 2: watermark (computed at end of batch 1) now 4900; state
    # cleanup runs during this batch
    write(cdir, "b1.parquet", [(4, 8, ts(5100), 0.0)], 1)
    write(pdir, "b1.parquet", [(13, 9, ts(5100), 1.0)], 1)
    # batch 3: user1's matching purchase arrives too late (event time 1200
    # << watermark) -> dropped, click state long evicted
    write(cdir, "b2.parquet", [], 2)
    write(pdir, "b2.parquet", [(12, 1, ts(1200), 7.0)], 2)

    out = stream_interval_join(
        file_replay_source(spark, str(cdir), sschema, max_files_per_trigger=1),
        file_replay_source(spark, str(pdir), sschema, max_files_per_trigger=1),
        window_s=600, watermark="100 seconds",
    )
    got: list = []
    q = (
        out.writeStream.foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 180)

    pairs = {(r["click_id"], r["purchase_id"]) for r in got}
    assert (2, 10) in pairs            # in-window match emitted
    assert (1, 12) not in pairs        # late purchase dropped with its state


def test_stream_interval_join_left_outer_emits_null_padded_row(spark, tmp_path):
    """LEFT OUTER stream-stream join: a click with no purchase in its
    window produces a null-padded row once the watermark closes the
    window (not before) — the attribution report that still counts
    unconverted clicks."""
    import os as _os
    import time as _time
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from omldm_spark.streaming.sources import file_replay_source
    from omldm_spark.streaming.windows import stream_interval_join
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType, TimestampType)

    def ts(s):
        return datetime.fromtimestamp(1704067200 + s, tz=timezone.utc) \
            .replace(tzinfo=None)

    schema = pa.schema([
        ("event_id", pa.int64()), ("user_id", pa.int64()),
        ("ts", pa.timestamp("us")), ("value", pa.float64()),
    ])
    sschema = StructType([
        StructField("event_id", LongType()), StructField("user_id", LongType()),
        StructField("ts", TimestampType()), StructField("value", DoubleType()),
    ])
    cdir, pdir = tmp_path / "clicks", tmp_path / "purch"
    cdir.mkdir(); pdir.mkdir()
    t0 = _time.time() - 1000

    def write(d, name, rows, order):
        f = d / name
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(["event_id", "user_id", "ts", "value"], r))
             for r in rows], schema=schema), f)
        _os.utime(f, (t0 + order * 10, t0 + order * 10))

    # batch 1: matched click (user 2) + unmatched click (user 1)
    write(cdir, "b0.parquet", [(1, 1, ts(1000), 0.0), (2, 2, ts(900), 0.0)], 0)
    write(pdir, "b0.parquet", [(10, 2, ts(1000), 5.0)], 0)
    # batches 2-3: advance the watermark on both sides past user 1's
    # window, then one more batch so the outer row is released
    write(cdir, "b1.parquet", [(3, 8, ts(5000), 0.0)], 1)
    write(pdir, "b1.parquet", [(11, 9, ts(5000), 1.0)], 1)
    write(cdir, "b2.parquet", [(4, 8, ts(6000), 0.0)], 2)
    write(pdir, "b2.parquet", [(12, 9, ts(6000), 1.0)], 2)

    out = stream_interval_join(
        file_replay_source(spark, str(cdir), sschema, max_files_per_trigger=1),
        file_replay_source(spark, str(pdir), sschema, max_files_per_trigger=1),
        window_s=600, watermark="100 seconds", how="left_outer",
    )
    got: list = []
    q = (
        out.writeStream.foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 180)

    by_click = {}
    for r in got:
        by_click.setdefault(r["click_id"], []).append(r)
    assert [r["purchase_id"] for r in by_click[1]] == [None]   # unconverted
    assert by_click[1][0]["value_c"] is None
    assert [r["purchase_id"] for r in by_click[2]] == [10]     # converted


def test_read_latest_state_retry_discipline(spark, tmp_path):
    # review r10: a foreachBatch RETRY of batch bid must re-read the
    # PRE-batch state (below=bid), never its own half-committed v{bid}
    from omldm_spark.streaming.statefold import read_latest_state

    state = str(tmp_path / "state")
    assert read_latest_state(spark, state) is None
    spark.createDataFrame([(1,)], "v long").write.parquet(f"{state}/v0")
    spark.createDataFrame([(2,)], "v long").write.parquet(f"{state}/v3")
    assert read_latest_state(spark, state).collect()[0].v == 2
    # inside a retry of batch 3, the fold sees v0 (pre-batch), not v3
    assert read_latest_state(spark, state, below=3).collect()[0].v == 1
    assert read_latest_state(spark, state, below=0) is None
    # multi-part (tuple) snapshots follow the same discipline, parts
    # in index order
    pstate = str(tmp_path / "pstate")
    for part, val in ((1, 20), (0, 10)):
        spark.createDataFrame([(val,)], "v long").write.parquet(
            f"{pstate}/v2/{part}")
    got = read_latest_state(spark, pstate)
    assert [g.collect()[0].v for g in got] == [10, 20]
    assert read_latest_state(spark, pstate, below=2) is None
