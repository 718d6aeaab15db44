"""End-to-end assembly test for omldm_spark.job — the Job.scala analogue:
config in, sources wired, one streaming query, predictions/responses out."""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
import pytest

from omldm_spark.job import JobConfig, build_source, run_job
from omldm_spark.plans.catalog import PipelineCatalog
from omldm_spark.streaming.training_loop import make_batch_handler

from sparktrace import (
    PYTHON_NODE,
    flush,
    runs_python_or_shuffle,
    sql_plans,
    stage_tasks,
    traced,
)
from test_unified_streaming import (
    UNIFIED_SCHEMA,
    _data_rows,
    _request_row,
    _write_ordered,
)


def test_run_job_end_to_end(spark, tmp_path):
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    b0 = _request_row("Create", 1, t0, learner="PA")
    b1 = _data_rows(list(range(0, 200)), t0)
    b2 = pd.concat(  # 100 duplicate ids — the dedup stage must drop them
        [_data_rows(list(range(200, 400)), t0),
         _data_rows(list(range(0, 100)), t0)],
        ignore_index=True,
    )
    b3 = _request_row("Query", 7, t0 + pd.Timedelta(hours=1))
    src = str(tmp_path / "job_src")
    _write_ordered(src, [b0, b1, b2, b3])

    stats = []
    cfg = JobConfig(
        parallelism=4,
        input_path=src,
        input_schema=UNIFIED_SCHEMA,
        max_files_per_trigger=1,
        predictions_path=str(tmp_path / "preds"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        state_path=str(tmp_path / "cat.jsonl"),
        dedup_key="id",
        dedup_ttl_ms=3_600_000,
        stats_sink=stats,
        timeout_ms=180_000,
    )
    cat = run_job(spark, cfg)

    assert list(cat.pipelines) == [1]
    spec = cat.pipelines[1]
    assert spec.fitted == 360            # 400 unique rows * 90% training
    # the sink got one row per deduped forecasting row
    sunk = spark.read.parquet(cfg.predictions_path)
    assert sunk.count() == 40
    # Query drained into a response
    assert len(cfg.responses_sink) == 1
    assert cfg.responses_sink[0]["responseId"] == 7
    assert np.isfinite(np.array(spec.model["w"])).all()


def test_run_job_exact_dedup(spark, tmp_path):
    """Exact dedup (no TTL): ids re-sent within a batch and across batches
    are dropped, request rows bypass the dedup (every request here carries
    id 1, as does a data row), and a row two hours behind the newest event
    time still passes: without a TTL there is no watermark to drop it."""
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    t2h = t0 + pd.Timedelta(hours=2)
    b0 = _request_row("Create", 1, t0, learner="PA")
    b1 = pd.concat(  # ids 0-19 twice in the one batch
        [_data_rows(range(0, 100), t2h), _data_rows(range(0, 20), t2h)],
        ignore_index=True,
    )
    b2 = pd.concat(  # ids 50-89 re-sent from batch 1
        [_data_rows(range(100, 200), t2h), _data_rows(range(50, 90), t2h)],
        ignore_index=True,
    )
    b3 = _request_row("Query", 7, t2h)
    b4 = _data_rows(range(200, 210), t0)  # late by two hours
    src = str(tmp_path / "exact_src")
    _write_ordered(src, [b0, b1, b2, b3, b4])

    stats = []
    cfg = JobConfig(
        parallelism=4,
        input_path=src,
        input_schema=UNIFIED_SCHEMA,
        max_files_per_trigger=1,
        predictions_path=str(tmp_path / "preds"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dedup_key="id",
        stats_sink=stats,
        timeout_ms=180_000,
    )
    cat = run_job(spark, cfg)

    # ids 0-209 once each: every tenth forecasts, the rest train
    assert [(s.batch_id, s.fitted) for s in stats] == [(1, 90), (2, 90),
                                                       (4, 9)]
    assert cat.pipelines[1].fitted == 189
    preds = spark.read.parquet(cfg.predictions_path).collect()
    assert sorted(r["recordId"] for r in preds) == list(range(0, 210, 10))
    assert len(cfg.responses_sink) == 1
    assert cfg.responses_sink[0]["responseId"] == 7
    assert cfg.responses_sink[0]["dataFitted"] == 180


def test_build_source_requires_binding(spark):
    with pytest.raises(ValueError):
        build_source(spark, JobConfig())


def test_job_kafka_mode_selects_kafka_source(spark):
    """Kafka mode must route through kafka_source (whose options and
    projection are pinned by tests/test_kafka_contract.py). The connector
    jar is absent in this env, so the selection boundary is the testable
    surface: the attempt must fail with the connector-missing error, not a
    config error."""
    cfg = JobConfig(brokers="broker:9092", unified_topic="trainingData")
    with pytest.raises(Exception, match="kafka"):
        build_source(spark, cfg)


def test_run_job_raises_when_replay_outlives_timeout(spark, tmp_path):
    """A bounded replay still running at its await timeout is stopped and
    raises with its last progress; no catalog comes back as if it had
    finished."""
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    src = str(tmp_path / "slow_src")
    _write_ordered(src, [_request_row("Create", 1, t0, learner="PA"),
                         _data_rows(list(range(0, 200)), t0)])
    cfg = JobConfig(
        parallelism=4,
        input_path=src,
        input_schema=UNIFIED_SCHEMA,
        max_files_per_trigger=1,
        checkpoint_dir=str(tmp_path / "ckpt"),
        timeout_ms=1,
    )
    with pytest.raises(TimeoutError, match="last progress"):
        run_job(spark, cfg)
    assert not spark.streams.active


def _create_pa(cat, chain=()):
    assert cat.apply_request({
        "id": 1, "request": "Create", "learner": {"name": "PA"},
        "preProcessors": [{"name": n} for n in chain],
        "trainingConfiguration": {"protocol": "Synchronous"},
    }) == "Create"


def _training_only_jobs(spark, tmp_path, cap: str) -> None:
    cat = PipelineCatalog(parallelism=4)
    _create_pa(cat)
    preds = tmp_path / "preds"
    handle = make_batch_handler(spark, cat, dim=3, num_partitions=4,
                                predictions_path=str(preds))
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    sc = spark.sparkContext
    jobs = []
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", cap)
    try:
        for b, ids in enumerate(([i for i in range(100) if i % 10],
                                 [i for i in range(100, 200) if i % 10],
                                 range(200, 300))):
            df = spark.createDataFrame(_data_rows(ids, t0), UNIFIED_SCHEMA)
            group = f"handler-{uuid.uuid4().hex}"
            sc.setJobGroup(group, "handler job count")
            try:
                handle(df, b)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            if b < 2:
                assert not preds.exists()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert cat.pipelines[1].fitted == 90 + 90 + 90
    assert spark.read.parquet(str(preds)).count() == 10
    assert jobs[1] + 1 == jobs[2], jobs


def test_training_only_batch_runs_no_predictions_job(spark, tmp_path):
    """A micro-batch with no forecasting row runs no predictions job and
    writes nothing under predictions_path: a driver round scores the
    collected batch's forecasting rows, of which there are none. The last
    batch, with forecasts, runs that one write job more."""
    _training_only_jobs(spark, tmp_path, "10000")


def test_over_cap_training_only_batch_runs_no_predictions_job(
        spark, tmp_path):
    """The same under a cap below the batches, so every round is a Spark
    round: its request collect counts the forecasting rows, and a count of
    0 skips the scoring and its write. Batch 0 brings the handler to its
    steady state (a batch after one over the cap skips the collect)."""
    _training_only_jobs(spark, tmp_path, "50")


# Spark jobs of one steady 100-row batch of the replay below before the
# keyed pass took chained pipelines: request collect, scaler moments,
# training pass, predictions write.
JOBS_PER_BATCH_BEFORE = 4


def test_keyed_pass_runs_no_python_task_under_exact_dedup(
        spark, tmp_path, monkeypatch):
    """The live job's shape on a stateful stream: a chained multi-worker
    pipeline (PA + StandardScaler, Synchronous, 4 workers) behind the exact
    dedup. Stateful streaming runs each micro-batch with AQE off, so no
    pass is coalesced at run time. The 100-row batch fills one Arrow
    batch, so the handler collects it once, in one one-task job, and its
    keyed pass trains on the driver with no Spark job of its own. No job
    of the batch runs a Python stage, and the batch runs no more Spark
    jobs than before."""
    from omldm_spark import job
    from omldm_spark.learners import trainer
    from omldm_spark.streaming import training_loop

    sc = spark.sparkContext
    st = sc.statusTracker()

    def jobs() -> set[int]:
        # the stream runs each batch's jobs in its run's job group
        flush(spark)
        return set(st.getJobIdsForGroup(
            sc.getLocalProperty("spark.jobGroup.id")))

    def recorded(fn, into):
        def run(*args, **kwargs):
            before = jobs()
            out = fn(*args, **kwargs)
            ran = jobs() - before
            into.append((stage_tasks(spark, ran), sql_plans(spark, ran)))
            return out
        return run

    keyed, collects, batch_jobs = [], [], {}
    factory = job.make_batch_handler

    def counted_factory(*args, **kwargs):
        handle = factory(*args, **kwargs)

        def counted(df, batch_id):
            before = jobs()
            handle(df, batch_id)
            ran = jobs() - before
            batch_jobs[batch_id] = (len(ran), sql_plans(spark, ran))
        return counted

    monkeypatch.setattr(trainer, "fit_groups",
                        recorded(trainer.fit_groups, keyed))
    monkeypatch.setattr(training_loop, "collect_batch",
                        recorded(training_loop.collect_batch, collects))
    monkeypatch.setattr(job, "make_batch_handler", counted_factory)

    t0 = pd.Timestamp("2026-01-01 00:00:00")
    src = str(tmp_path / "src")
    _write_ordered(src, [  # batch 1: 100 new ids plus 20 re-sent ones
        _data_rows(range(0, 100), t0),
        pd.concat([_data_rows(range(100, 200), t0),
                   _data_rows(range(0, 20), t0)], ignore_index=True),
    ])
    cat = PipelineCatalog(parallelism=4)
    _create_pa(cat, chain=("StandardScaler",))
    cfg = JobConfig(
        parallelism=4, input_path=src, input_schema=UNIFIED_SCHEMA,
        max_files_per_trigger=1, checkpoint_dir=str(tmp_path / "ckpt"),
        predictions_path=str(tmp_path / "preds"), dedup_key="id",
        timeout_ms=180_000,
    )
    run_job(spark, cfg, cat)

    assert cat.pipelines[1].fitted == 180
    assert keyed == [([], []), ([], [])]
    assert len(collects) == 2
    for tasks, plans in collects:
        # one job; its stages (the dedup's source stage, then the collect)
        # run one task each
        assert len(tasks) == 1 and set(tasks[0]) == {1}, tasks
        assert len(plans) == 1 and not runs_python_or_shuffle(plans)
    for _, plans in batch_jobs.values():
        assert not any(PYTHON_NODE.search(p) for p in plans)
    assert batch_jobs[1][0] <= JOBS_PER_BATCH_BEFORE, batch_jobs


def test_small_batch_runs_one_collect_and_one_write(spark, tmp_path):
    """A 100-row batch for a StandardScaler pipeline, with no Query, runs
    two Spark jobs: the handler's collect and the predictions write. The
    requests, the scaler's moments, the training and the forecast scoring
    run on the driver: no plan holds a Python node or an aggregate. The
    scored rows land in one file."""
    cat = PipelineCatalog(parallelism=4)
    _create_pa(cat, chain=("StandardScaler",))
    preds = tmp_path / "preds"
    handle = make_batch_handler(spark, cat, dim=3, num_partitions=4,
                                predictions_path=str(preds))
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    df = spark.createDataFrame(_data_rows(range(100), t0), UNIFIED_SCHEMA)
    _, tasks, plans = traced(spark, lambda: handle(df, 0))
    assert len(tasks) == 2 and len(plans) == 2, plans
    assert not any(PYTHON_NODE.search(p) or "Aggregate" in p for p in plans)
    assert cat.pipelines[1].fitted == 90
    assert cat.pipelines[1].preproc_state[0]["n"] == 90
    assert len(list(preds.glob("part-*.parquet"))) == 1
    assert spark.read.parquet(str(preds)).count() == 10


def test_buffered_forecasts_are_counted_into_the_batch(spark, tmp_path):
    """Rows buffered before the first Create join the next batch's
    counts: a Create batch with no forecasting row of its own still
    scores the buffered forecasts."""
    cat = PipelineCatalog(parallelism=4)
    stats = []
    sink = str(tmp_path / "preds")
    handle = make_batch_handler(spark, cat, dim=3, num_partitions=4,
                                stats_sink=stats, predictions_path=sink)
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    handle(spark.createDataFrame(_data_rows(range(0, 50), t0),
                                 UNIFIED_SCHEMA), 0)   # buffered
    create = spark.createDataFrame(
        _request_row("Create", 1, t0, learner="PA"), UNIFIED_SCHEMA)
    train_only = spark.createDataFrame(
        _data_rows([i for i in range(50, 100) if i % 10], t0), UNIFIED_SCHEMA)
    handle(create.unionByName(train_only), 1)
    assert [s.fitted for s in stats] == [45 + 45]
    preds = spark.read.parquet(sink).collect()
    assert sorted(r["recordId"] for r in preds) == [0, 10, 20, 30, 40]
