"""Bounded streaming-twin runs (queries._run_twin, statefold.fold_stream).

A twin's replay that outlives its bound must raise with its last
progress instead of returning a half-written sink, a step that fails
must raise its own error, and in every case the data-sized scratch (the
source copy) and the checkpoint are deleted with no query left running.
A twin that finishes keeps exactly the directories its frame reads.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from omldm_spark import queries as q
from omldm_spark.fsio import HadoopFS
from omldm_spark.streaming.statefold import fold_stream, sum_by

SF_DIR = "/root/testdata/sf0.001"


def _replay(spark):
    """A twin-shaped replay: 4 source files, one micro-batch each."""
    df = spark.range(40).select((F.col("id") % 4).alias("k"),
                                F.lit(1).cast("long").alias("n"))
    return q._replay(df.repartition(4), "omldm_twintest_", files=1)


def _counts(batch):
    return batch.groupBy("k").agg(F.sum("n").cast("long").alias("n"))


def _scratch_gone(spark, tmp):
    fs = HadoopFS.for_path(tmp, spark)
    return not fs.exists(f"{tmp}/src") and not fs.exists(f"{tmp}/ckpt")


def test_fold_replay_runs_to_its_end(spark):
    stream, tmp = _replay(spark)
    state = fold_stream(stream, tmp, _counts, sum_by("k"), q._run_twin)
    assert sorted(map(tuple, state.collect())) == [
        (0, 10), (1, 10), (2, 10), (3, 10)]
    assert _scratch_gone(spark, tmp)


def test_overrunning_twin_raises_instead_of_returning(spark, monkeypatch):
    """The first batch finishes, the second sleeps past the bound: the
    run raises TimeoutError naming the first batch's progress, returns
    no frame, and leaves nothing running and no source or checkpoint."""
    monkeypatch.setattr(q, "_TWIN_TIMEOUT_S", 10)
    calls = []
    t0 = time.monotonic()

    def slow(batch):
        calls.append(1)
        if len(calls) > 1:
            time.sleep(max(0.0, t0 + q._TWIN_TIMEOUT_S + 2 - time.monotonic()))
        return _counts(batch)

    stream, tmp = _replay(spark)
    with pytest.raises(TimeoutError, match="last progress") as err:
        fold_stream(stream, tmp, slow, sum_by("k"), q._run_twin)
    assert "batchId" in str(err.value)
    assert spark.streams.active == []
    assert _scratch_gone(spark, tmp)


def test_failing_step_raises_its_error(spark):
    def bad(batch):
        raise ValueError("planted step failure")

    stream, tmp = _replay(spark)
    with pytest.raises(Exception, match="planted step failure"):
        fold_stream(stream, tmp, bad, sum_by("k"), q._run_twin)
    assert spark.streams.active == []
    assert _scratch_gone(spark, tmp)


@pytest.mark.parametrize("name", [
    "streaming_retention_cohorts", # fold_stream
    "streaming_distinct_keys",     # parquet sink
    "streaming_bitmap_distinct",   # _run_update_stream
    "streaming_train_predict",     # foreachBatch training handler
])
def test_finished_twin_keeps_only_what_its_frame_reads(spark, monkeypatch,
                                                      name):
    made, real_tmp = [], q._twin_tmp

    def recording_tmp(prefix):
        made.append(real_tmp(prefix))
        return made[-1]

    monkeypatch.setattr(q, "_twin_tmp", recording_tmp)
    df = q.QUERIES[name](spark, SF_DIR)
    assert len(made) == 1
    assert _scratch_gone(spark, made[0])
    files = df.inputFiles()
    assert files
    fs = HadoopFS.for_path(made[0], spark)
    assert all(fs.exists(f) for f in files)
    assert df.count() > 0
