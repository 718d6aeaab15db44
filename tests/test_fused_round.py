"""The fused BSP round: train_batch trains every live pipeline in one pass per
worker layout, and each pipeline ends up exactly where training it alone
(one single-model trainer.fit / trainer.fit_groups call per pipeline)
leaves it."""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from omldm_spark.functions.preprocess import apply_chain
from omldm_spark.learners import get_learner, trainer
from omldm_spark.learners.protocols import protocol_round
from omldm_spark.plans.catalog import PipelineCatalog
from omldm_spark.streaming.training_loop import (
    PER_WORKER_PROTOCOLS,
    _account_hub_shards,
    _deser,
    _ser,
    _state_bytes,
    train_batch,
)

DIM, PARTS = 3, 4

MIXED = [
    *[(lrn, proto) for lrn in ("PA", "SVM", "RegressorPA", "NN")
      for proto in ("Synchronous", "FGM")],
    ("PA", "SSP"),
    ("SVM", "EASGD"),
    ("HT", "SingleLearner"),
    ("ORR", "Synchronous", {"HubParallelism": "2"}),
    ("PA", "Synchronous", {}, [{"name": "StandardScaler"}]),
]


def _catalog(configs):
    cat = PipelineCatalog(parallelism=PARTS)
    for pid, cfg in enumerate(configs):
        lrn, proto, conf, chain = (*cfg, {}, [])[:4]
        hyper = {"grace_period": "50"} if lrn == "HT" else {}
        assert cat.apply_request({
            "id": pid, "request": "Create",
            "learner": {"name": lrn, "hyperParameters": hyper},
            "preProcessors": chain,
            "trainingConfiguration": {"protocol": proto, **conf},
        }) == "Create"
    return cat


def _batches(spark, n=240, rounds=2):
    rng = np.random.default_rng(7)
    out = []
    for r in range(rounds):
        X = rng.normal(size=(n, DIM))
        y = np.sign(X @ np.array([1.5, -1.0, 0.5]) + 0.2 * rng.normal(size=n))
        y[y == 0] = 1.0
        out.append(spark.createDataFrame(pd.DataFrame({
            "id": range(r * n, (r + 1) * n),
            "features": [list(map(float, x)) for x in X],
            "label": y.astype(float),
        })))
    return out


def _per_pipeline_round(df, cat):
    """The round as one single-model trainer call per pipeline, followed by
    the same driver-side merge, protocol round and statistics."""
    for spec in cat.live():
        learner = get_learner(spec.learner)
        hyper = dict(spec.hyper)
        init = _deser(spec.model) if spec.model is not None else None
        train_df, eff_dim, fcol = df, DIM, "features"
        if spec.preprocessors:
            train_df, eff_dim, spec.preproc_state = apply_chain(
                df, spec.preprocessors, "features", DIM, spec.preproc_state)
            fcol = "_pp_features"
        parts = 1 if spec.protocol in ("SingleLearner", "CentralizedTraining") \
            else PARTS
        if (spec.protocol in PER_WORKER_PROTOCOLS and parts > 1
                and not getattr(learner, "uses_blob", False)
                and not getattr(learner, "closed_form", False)):
            g_state = init or learner.init_state(eff_dim, hyper)
            prev = {int(k): _deser(v)
                    for k, v in (spec.worker_models or {}).items()} \
                or {w: dict(g_state) for w in range(parts)}
            dfw = train_df.withColumn(
                "_wk", F.pmod(F.col("id"), F.lit(parts)).cast("int"))
            new = trainer.fit_groups(
                dfw, spec.learner, eff_dim, hyper, key_col="_wk",
                features_col=fcol, order_cols=["id"], init_states=prev)
            state, workers, shipped = protocol_round(
                spec.protocol, learner, learner.init_state(eff_dim, hyper),
                g_state, {**prev, **new}, spec.rounds, hyper)
            spec.worker_models = {str(k): _ser(v) for k, v in workers.items()}
        else:
            state = trainer.fit(
                train_df, spec.learner, dim=eff_dim, hyper=hyper,
                features_col=fcol, num_partitions=parts, init_state=init)
            shipped = parts
        spec.model = _ser(state)
        spec.rounds += 1
        spec.fitted = int(state["n"])
        spec.cum_loss = float(state["cum_loss"])
        spec.models_shipped += shipped
        spec.bytes_shipped += shipped * _state_bytes(state)
        _account_hub_shards(spec, state, shipped)


FIELDS = ("model", "worker_models", "fitted", "cum_loss", "models_shipped",
          "bytes_shipped", "hub_stats", "preproc_state")


def test_fused_round_equals_per_pipeline_training(spark):
    fused, alone = _catalog(MIXED), _catalog(MIXED)
    for b, df in enumerate(_batches(spark)):
        stats = train_batch(df, fused, dim=DIM, num_partitions=PARTS,
                            batch_id=b)
        assert [s.pipeline for s in stats] == list(fused.pipelines)
        assert len({s.wall_ms for s in stats}) == 1   # the round's wall
        _per_pipeline_round(df, alone)
    for pid, spec in fused.pipelines.items():
        ref = alone.pipelines[pid]
        assert spec.fitted == 480
        for f in FIELDS:
            assert getattr(spec, f) == getattr(ref, f), (spec.learner,
                                                         spec.protocol, f)
    assert fused.pipelines[11].hub_stats            # ORR sharded over 2 hubs
    assert fused.pipelines[9].worker_models         # EASGD kept its workers


@pytest.mark.parametrize("configs", [
    MIXED,
    # chains only: the first pass to run is a chain's, before anything fitted
    [("PA", "Synchronous", {}, [{"name": scaler}])
     for scaler in ("StandardScaler", "RobustScaler")],
])
def test_empty_batch_trains_nothing(spark, configs):
    cat = _catalog(configs)
    empty = _batches(spark)[0].limit(0)
    assert train_batch(empty, cat, dim=DIM, num_partitions=PARTS) == []
    assert all(s.rounds == 0 and s.model is None and s.preproc_state is None
               for s in cat.live())


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"fused-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "train_batch job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("rounds", [1, 2])
def test_round_jobs_do_not_grow_with_pipelines(spark, rounds):
    """Spark jobs per train_batch are a property of the worker layouts, not
    of the number of chainless pipelines sharing them."""
    df = _batches(spark, rounds=1)[0]
    two = _catalog([("PA", "Synchronous"), ("PA", "FGM")])
    eight = _catalog(MIXED[:8])
    counts = []
    for cat in (two, eight):
        for b in range(rounds - 1):
            train_batch(df, cat, dim=DIM, num_partitions=PARTS, batch_id=b)
        counts.append(_jobs(spark, lambda cat=cat: train_batch(
            df, cat, dim=DIM, num_partitions=PARTS, batch_id=rounds)))
    assert counts[0] > 0
    assert counts[1] <= counts[0], counts
