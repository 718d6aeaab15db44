"""End-to-end assembly test for omldm_spark.job — the Job.scala analogue:
config in, sources wired, one streaming query, predictions/responses out."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from omldm_spark.job import JobConfig, build_source, run_job
from omldm_spark.plans.catalog import PipelineCatalog

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

    preds, stats = [], []
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
        predictions_sink=preds,
        stats_sink=stats,
        timeout_ms=180_000,
    )
    cat = run_job(spark, cfg)

    assert list(cat.pipelines) == [1]
    spec = cat.pipelines[1]
    assert spec.fitted == 360            # 400 unique rows * 90% training
    assert len(preds) == 40              # deduped forecasting rows
    # production sink got the same rows the test drain saw
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

    preds, stats = [], []
    cfg = JobConfig(
        parallelism=4,
        input_path=src,
        input_schema=UNIFIED_SCHEMA,
        max_files_per_trigger=1,
        checkpoint_dir=str(tmp_path / "ckpt"),
        dedup_key="id",
        predictions_sink=preds,
        stats_sink=stats,
        timeout_ms=180_000,
    )
    cat = run_job(spark, cfg)

    # ids 0-209 once each: every tenth forecasts, the rest train
    assert [(s.batch_id, s.fitted) for s in stats] == [(1, 90), (2, 90),
                                                       (4, 9)]
    assert cat.pipelines[1].fitted == 189
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
