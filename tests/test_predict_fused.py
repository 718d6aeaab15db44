"""Forecast scoring in one projection per preprocessor chain: predict_batch
scores each record once against every pipeline that reads the same frame,
and its rows equal scoring each pipeline on its own."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from omldm_spark.functions.preprocess import apply_chain
from omldm_spark.functions.vector import linear_predict
from omldm_spark.learners import get_learner
from omldm_spark.plans.catalog import PipelineCatalog
from omldm_spark.streaming.training_loop import predict_batch, train_batch

DIM = 3
SCALER = [{"name": "StandardScaler"}]
CATALOG = [
    ("PA", []),
    ("SVM", []),
    ("RegressorPA", []),
    ("NN", []),                      # no linear model: scores no row
    ("PA", SCALER),                  # these two share one fitted chain
    ("RegressorPA", SCALER),
    ("SVM", [{"name": "MinMaxScaler"}]),
]


def _catalog(configs):
    cat = PipelineCatalog(parallelism=4)
    for pid, (learner, chain) in enumerate(configs):
        assert cat.apply_request({
            "id": pid, "request": "Create", "learner": {"name": learner},
            "preProcessors": chain,
            "trainingConfiguration": {"protocol": "Synchronous"},
        }) == "Create"
    return cat


def _frame(spark, path, n, seed):
    rng = np.random.default_rng(seed)
    X = rng.normal(loc=2.0, scale=3.0, size=(n, DIM))
    y = np.sign(X @ np.array([1.5, -1.0, 0.5]) - 1.0)
    y[y == 0] = 1.0
    spark.createDataFrame(pd.DataFrame({
        "id": range(n),
        "features": [list(map(float, x)) for x in X],
        "label": y.astype(float),
    })).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def _per_pipeline(df, cat):
    """Each linear pipeline scored on its own frame with its own select."""
    rows = []
    for spec in cat.live():
        if not spec.model or "w" not in spec.model:
            continue
        src, fcol = df, "features"
        if spec.preprocessors:
            src, _, _ = apply_chain(df, spec.preprocessors, "features", DIM,
                                    spec.preproc_state, update=False)
            fcol = "_pp_features"
        w = list(map(float, spec.model["w"]))
        raw = linear_predict(fcol, w[:-1], w[-1])
        if get_learner(spec.learner).is_classifier:
            raw = F.when(raw >= 0, 1.0).otherwise(-1.0)
        rows += src.select(F.lit(spec.id).cast("long"),
                           F.col("id").cast("long"), raw).collect()
    return sorted(tuple(r) for r in rows)


def test_fused_prediction_equals_per_pipeline_scoring(spark, tmp_path):
    cat = _catalog(CATALOG)
    train_batch(_frame(spark, str(tmp_path / "train"), 300, 1), cat,
                dim=DIM, num_partitions=4)
    scaled = [s for s in cat.live() if s.preprocessors == SCALER]
    assert scaled[0].preproc_state == scaled[1].preproc_state
    fc = _frame(spark, str(tmp_path / "fc"), 120, 2)

    got = predict_batch(fc, cat, dim=DIM)
    assert got.columns == ["pipelineId", "recordId", "prediction"]
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == _per_pipeline(fc, cat)
    # every linear pipeline scored every record; NN (id 3) scored none
    assert sorted({r[0] for r in rows}) == [0, 1, 2, 4, 5, 6]
    assert len(rows) == 6 * 120


def test_chainless_prediction_reads_the_batch_once(spark, tmp_path):
    cat = _catalog([(lrn, []) for lrn in ("PA", "SVM", "RegressorPA") * 2])
    df = _frame(spark, str(tmp_path / "b"), 200, 3)
    train_batch(df, cat, dim=DIM, num_partitions=4)
    plan = predict_batch(df, cat, dim=DIM)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "Union" not in plan
    assert len(re.findall(r"Relation \[", plan)) == 1
