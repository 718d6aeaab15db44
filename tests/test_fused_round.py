"""The fused BSP round: train_batch trains every multi-worker pipeline,
chained or not, in one keyed pass, and each pipeline ends up exactly where
training it alone (one single-model trainer.fit / trainer.fit_groups call
per pipeline, then the same driver-side merge) leaves it.

Placement: every pipeline on more than one worker — per-worker and
global-state protocols alike, with or without a preprocessor chain — trains
on the rows keyed by ``pmod(id, parts)`` and sorted by id within each
worker. The key is a pure
function of the row, so the models do not depend on how the rows happen to
be partitioned upstream; round-robin placement would make them a function
of the upstream partitioning as well."""

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
    collect_batch,
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
    ("SVM", "FGM", {}, [{"name": "MinMaxScaler"}]),
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
        # sparse ids: the workers of pmod(id, PARTS) get uneven row counts,
        # so a merge weighted by anything but this round's counts shows
        ids = r * 10 * n + np.sort(rng.choice(10 * n, size=n, replace=False))
        X = rng.normal(size=(n, DIM))
        y = np.sign(X @ np.array([1.5, -1.0, 0.5]) + 0.2 * rng.normal(size=n))
        y[y == 0] = 1.0
        out.append(spark.createDataFrame(pd.DataFrame({
            "id": ids,
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
        per_worker = (spec.protocol in PER_WORKER_PROTOCOLS
                      and not getattr(learner, "uses_blob", False)
                      and not getattr(learner, "closed_form", False))
        keyed = parts > 1 and not getattr(learner, "closed_form", False)
        if keyed:
            g_state = init or learner.init_state(eff_dim, hyper)
            if per_worker:
                prev = {int(k): _deser(v)
                        for k, v in (spec.worker_models or {}).items()} \
                    or {w: dict(g_state) for w in range(parts)}
            else:
                # every worker starts from the global model; counts zeroed
                # so the partials carry this round's n for the merge
                prev = {w: {**g_state, "n": 0, "cum_loss": 0.0}
                        for w in range(parts)}
            dfw = train_df.withColumn(
                "_wk", F.pmod(F.col("id"), F.lit(parts)).cast("int"))
            new = trainer.fit_groups(
                dfw, spec.learner, eff_dim, hyper, key_col="_wk",
                features_col=fcol, order_cols=["id"], init_states=prev)
            if per_worker:
                state, workers, shipped = protocol_round(
                    spec.protocol, learner, learner.init_state(eff_dim, hyper),
                    g_state, {**prev, **new}, spec.rounds, hyper)
                spec.worker_models = {str(k): _ser(v)
                                      for k, v in workers.items()}
            else:
                state = trainer.merge_round(
                    learner, g_state, [new[k] for k in sorted(new)])
                shipped = parts
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
    # chains only: every pass reads a chain's column, before anything fitted
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
    """Spark jobs per train_batch are a property of the passes, not of the
    number of chainless pipelines sharing them."""
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


def test_global_state_and_per_worker_share_one_pass(spark):
    """A chainless catalog mixing a global-state and a per-worker protocol
    trains in one keyed pass: as many Spark jobs per round as a catalog
    with one pipeline."""
    df = _batches(spark, rounds=1)[0]
    counts = [
        _jobs(spark, lambda cat=_catalog(cfgs): train_batch(
            df, cat, dim=DIM, num_partitions=PARTS))
        for cfgs in ([("PA", "Synchronous")],
                     [("PA", "Synchronous"), ("PA", "FGM")])
    ]
    assert counts[0] > 0
    assert counts[1] == counts[0], counts


def test_null_id_rows_train_in_an_order_of_their_content(spark):
    """A training row with a NULL id is keyed by a hash of its features and
    label and trains after the id-ordered rows of its worker, in hash
    order. One rule in both placements of the keyed pass (on the driver
    over the collected batch, grouped over the DataFrame), whatever order
    the rows
    arrive in; one worker (CentralizedTraining) makes the two NULL-id rows
    share a worker, four (Synchronous) spread them by their hash."""
    data = [(0, [1.0, 0.0, 0.0], 1.0), (None, [1.0, 1.0, 0.0], -1.0),
            (None, [0.0, 1.0, 1.0], 1.0), (5, [0.0, 0.0, 1.0], 1.0)]
    schema = "id long, features array<double>, label double"
    hyper = {"C": 10.0}
    protocols = ("CentralizedTraining", "Synchronous")
    models = []
    for driver, arrival in ((True, data), (False, data), (True, data[::-1]),
                            (False, data[::-1])):
        cat = PipelineCatalog(parallelism=PARTS)
        for pid, proto in enumerate(protocols):
            assert cat.apply_request({
                "id": pid, "request": "Create",
                "learner": {"name": "PA", "hyperParameters": hyper},
                "trainingConfiguration": {"protocol": proto},
            }) == "Create"
        batch = spark.createDataFrame(arrival, schema).repartition(3)
        if driver:
            batch = collect_batch(batch, 4, "features", "label")
        stats = train_batch(batch, cat, dim=DIM, num_partitions=PARTS)
        assert [s.fitted for s in stats] == [4, 4]
        models.append([cat.pipelines[pid].model
                       for pid in range(len(protocols))])
    assert all(m == models[0] for m in models)
    got = [_deser(m)["w"] for m in models[0]]

    ln = get_learner("PA")
    start = ln.begin_pass({**ln.init_state(DIM, hyper), "n": 0,
                           "cum_loss": 0.0})
    hashed = spark.createDataFrame(data, schema).select(
        "id", "features", "label",
        F.xxhash64("features", "label").alias("h")).collect()
    # the NULL-id rows, in hash order, after the id-ordered ones
    ordered = sorted(hashed, key=lambda r: (r.id is None, r.id or 0, r.h))

    def replay(rows_, parts):
        workers: dict[int, list] = {}
        for r in rows_:
            workers.setdefault((r.h if r.id is None else r.id) % parts,
                               []).append(r)
        return ln.merge([
            ln.partial_fit(np.array([r.features for r in ws]),
                           np.array([r.label for r in ws]), dict(start),
                           hyper)
            for _, ws in sorted(workers.items())])["w"]

    assert np.array_equal(got[0], replay(ordered, 1))
    assert np.array_equal(got[1], replay(ordered, PARTS))
    # the order matters: the two NULL-id rows the other way round give
    # another one-worker model
    assert not np.array_equal(
        got[0], replay(ordered[:2] + ordered[:1:-1], 1))
