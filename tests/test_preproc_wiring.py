"""Preprocessor chain wired into the training path (r1 VERDICT item 1).

Reference: pipelines chain PolynomialFeatures/StandardScaler/MinMaxScaler
before the learner (PipelineMap.scala:25-29; the learner struct carries the
chain to every worker, FlinkNetwork.scala:160-176). These tests prove a
Create carrying preProcessors trains on TRANSFORMED features — the catalog
-> train_batch -> trainer path, not the standalone operators."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from omldm_spark.functions.preprocess import (
    apply_chain,
    mean_std_from_moments,
    poly_expand_expr,
)
from omldm_spark.learners import trainer
from omldm_spark.plans.catalog import PipelineCatalog
from omldm_spark.streaming.training_loop import (  # noqa: F401
    build_query_responses,
    predict_batch,
    train_batch,
)

RNG = np.random.default_rng(7)


def _pdf(n=400, dim=2):
    X = RNG.normal(loc=5.0, scale=3.0, size=(n, dim))
    y = np.sign(X @ np.arange(1, dim + 1) - X.mean())
    y[y == 0] = 1.0
    return pd.DataFrame(
        {
            "id": range(n),
            "features": [list(map(float, r)) for r in X],
            "label": y.astype(float),
        }
    )


def _create(cat, pid, learner, pres, protocol="CentralizedTraining", hyper=None):
    cat.apply_request(
        {
            "id": pid,
            "request": "Create",
            "learner": {"name": learner, "hyperParameters": hyper or {}},
            "preProcessors": pres,
            "trainingConfiguration": {"protocol": protocol},
        }
    )


def test_create_with_scaler_trains_on_scaled_features(spark):
    """Catalog-driven train_batch with StandardScaler == manual
    apply_chain + trainer.fit; and != training on raw features."""
    df = spark.createDataFrame(_pdf())
    cat = PipelineCatalog()
    _create(cat, 0, "PA", [{"name": "StandardScaler"}])
    train_batch(df, cat, dim=2, num_partitions=1)
    w_loop = np.asarray(cat.pipelines[0].model["w"], dtype=float)

    scaled, eff_dim, _ = apply_chain(df, [{"name": "StandardScaler"}], "features", 2)
    assert eff_dim == 2
    manual = trainer.fit(
        scaled, "PA", dim=2, features_col="_pp_features", label_col="label",
        num_partitions=1,
    )
    assert np.allclose(w_loop, np.asarray(manual["w"]), atol=1e-12)

    raw = trainer.fit(df, "PA", dim=2, num_partitions=1)
    assert not np.allclose(w_loop, np.asarray(raw["w"]))


def test_scaler_stats_accumulate_across_batches(spark):
    """Running moments: two half-batches end with the same integer moments
    as one full batch (exact int sums — order/batching independent)."""
    pdf = _pdf()
    df = spark.createDataFrame(pdf)
    half1 = spark.createDataFrame(pdf.iloc[:200])
    half2 = spark.createDataFrame(pdf.iloc[200:])

    cat1 = PipelineCatalog()
    _create(cat1, 0, "PA", [{"name": "StandardScaler"}])
    train_batch(half1, cat1, dim=2, num_partitions=1, batch_id=0)
    train_batch(half2, cat1, dim=2, num_partitions=1, batch_id=1)

    cat2 = PipelineCatalog()
    _create(cat2, 0, "PA", [{"name": "StandardScaler"}])
    train_batch(df, cat2, dim=2, num_partitions=1)

    st1, st2 = cat1.pipelines[0].preproc_state[0], cat2.pipelines[0].preproc_state[0]
    assert st1["n"] == st2["n"] == 400
    assert list(map(int, st1["s"])) == list(map(int, st2["s"]))
    assert list(map(int, st1["ss"])) == list(map(int, st2["ss"]))
    m1 = mean_std_from_moments(st1, 0)
    m2 = mean_std_from_moments(st2, 0)
    assert m1 == m2


def test_poly_then_scaler_chain_dims(spark):
    """PolynomialFeatures(deg 2) -> MinMaxScaler: dim 2 -> 5, learner sees
    the expanded width; degree 3 expands to 9."""
    df = spark.createDataFrame(_pdf())
    chain = [
        {"name": "PolynomialFeatures", "hyperParameters": {"degree": 2}},
        {"name": "MinMaxScaler"},
    ]
    out, eff_dim, state = apply_chain(df, chain, "features", 2)
    assert eff_dim == 5
    row = out.select(F.size("_pp_features").alias("s")).first()
    assert row["s"] == 5
    # minmax output bounded in [0, 1]
    bounds = out.select(
        F.array_min("_pp_features").alias("lo"),
        F.array_max("_pp_features").alias("hi"),
    ).agg(F.min("lo").alias("lo"), F.max("hi").alias("hi")).first()
    # min/max stats are quantized at 1e-6 resolution, so bounds can
    # overshoot [0, 1] by up to ~1e-6/range — the documented envelope
    assert bounds["lo"] >= -1e-6 and bounds["hi"] <= 1.0 + 1e-6

    _, d3 = poly_expand_expr("features", 2, 3)
    assert d3 == 9

    cat = PipelineCatalog()
    _create(cat, 0, "PA", chain)
    train_batch(df, cat, dim=2, num_partitions=1)
    assert len(cat.pipelines[0].model["w"]) == 6  # 5 features + bias


def test_predict_batch_applies_fitted_chain(spark):
    """Forecast scoring goes through the same fitted transform: predictions
    from the loop equal the manual scaled-scoring formula."""
    pdf = _pdf()
    df = spark.createDataFrame(pdf)
    cat = PipelineCatalog()
    _create(cat, 0, "PA", [{"name": "StandardScaler"}])
    train_batch(df, cat, dim=2, num_partitions=1)
    spec = cat.pipelines[0]
    preds = predict_batch(df, cat, dim=2).toPandas().set_index("recordId")

    st = spec.preproc_state[0]
    means_stds = [mean_std_from_moments(st, i) for i in range(2)]
    w = np.asarray(spec.model["w"], dtype=float)
    X = np.asarray(pdf["features"].tolist())
    Z = np.stack(
        [(X[:, i] - m) / s for i, (m, s) in enumerate(means_stds)], axis=1
    )
    raw = Z @ w[:-1] + w[-1]
    expect = np.where(raw >= 0, 1.0, -1.0)
    got = preds.loc[pdf["id"], "prediction"].to_numpy()
    assert (got == expect).all()


def test_query_response_scores_holdout(spark):
    """ADVICE fix: Query score = holdout performance (accuracy for PA), not
    the -loss proxy; NaN without a holdout."""
    pdf = _pdf()
    df = spark.createDataFrame(pdf)
    cat = PipelineCatalog()
    _create(cat, 0, "PA", [])
    train_batch(df, cat, dim=2, num_partitions=1)
    cat.apply_request({"id": 0, "request": "Query", "requestId": 1})
    r = build_query_responses(cat, df, dim=2)[0]
    assert 0.0 <= r["score"] <= 1.0  # accuracy on holdout

    cat.apply_request({"id": 0, "request": "Query", "requestId": 2})
    r2 = build_query_responses(cat)[0]
    assert np.isnan(r2["score"])


def test_orr_closed_form_matches_numpy_ridge(spark):
    """Registered ORR learner: trainer.fit == numpy ridge normal equations
    on the same (quantized) data, any partitioning."""
    pdf = _pdf(300)
    pdf["label"] = [float(x[0] * 2 - x[1] + 1) for x in pdf["features"]]
    df = spark.createDataFrame(pdf)
    state = trainer.fit(df, "ORR", dim=2, hyper={"lambda": "0.1"}, num_partitions=4)
    w = np.asarray(state["w"], dtype=float)

    X = np.asarray(pdf["features"].tolist())
    y = pdf["label"].to_numpy()
    Xa = np.hstack([X, np.ones((len(X), 1))])
    A = (Xa.T @ Xa) / len(X) + 0.1 * np.eye(3)
    b = (Xa.T @ y) / len(X)
    expect = np.linalg.solve(A, b)
    assert np.allclose(w, expect, atol=1e-4)  # quantization + round(.,6)
    assert state["n"] == 300 and state["cum_loss"] >= 0


def test_orr_batching_invariance(spark):
    """Sufficient statistics are exactly additive: two batches through the
    loop produce bit-identical weights to one batch."""
    pdf = _pdf(300)
    pdf["label"] = [float(x[0] - 3 * x[1]) for x in pdf["features"]]

    cat1 = PipelineCatalog()
    _create(cat1, 0, "ORR", [], protocol="Synchronous", hyper={"lambda": "0.1"})
    train_batch(spark.createDataFrame(pdf.iloc[:150]), cat1, dim=2,
                num_partitions=4, batch_id=0)
    train_batch(spark.createDataFrame(pdf.iloc[150:]), cat1, dim=2,
                num_partitions=4, batch_id=1)

    cat2 = PipelineCatalog()
    _create(cat2, 0, "ORR", [], protocol="Synchronous", hyper={"lambda": "0.1"})
    train_batch(spark.createDataFrame(pdf), cat2, dim=2, num_partitions=8)

    w1 = list(cat1.pipelines[0].model["w"])
    w2 = list(cat2.pipelines[0].model["w"])
    assert w1 == w2  # exact, not approximate
    assert cat1.pipelines[0].model["sxx"] == cat2.pipelines[0].model["sxx"]


def test_orr_general_dim_and_prediction_path(spark):
    """ORR at d=3 (numpy solve path, no shared-SQL Cramer) still matches
    the closed-form ridge, and predict_batch scores with it."""
    pdf = _pdf(250, dim=3)
    pdf["label"] = [float(x[0] - 2 * x[1] + 0.5 * x[2]) for x in pdf["features"]]
    df = spark.createDataFrame(pdf)
    cat = PipelineCatalog()
    _create(cat, 0, "ORR", [], protocol="Synchronous", hyper={"lambda": "0.01"})
    train_batch(df, cat, dim=3, num_partitions=4)
    w = np.asarray(cat.pipelines[0].model["w"], dtype=float)

    X = np.asarray(pdf["features"].tolist())
    y = pdf["label"].to_numpy()
    Xa = np.hstack([X, np.ones((len(X), 1))])
    A = (Xa.T @ Xa) / len(X) + 0.01 * np.eye(4)
    b = (Xa.T @ y) / len(X)
    assert np.allclose(w, np.linalg.solve(A, b), atol=1e-3)

    preds = predict_batch(df, cat, dim=3).toPandas()
    assert len(preds) == 250
    # regressor: raw w.x + b, not sign
    got = preds.sort_values("recordId")["prediction"].to_numpy()
    want = Xa @ w
    assert np.allclose(got, want, atol=1e-9)


def test_create_with_maxabs_and_normalizer_chain(spark):
    """The two beyond-reference preprocessors through the SAME catalog ->
    train_batch path: MaxAbsScaler (stats from the running min/max
    moments) then Normalizer (stateless row-local L2) — the loop result
    equals manual apply_chain + fit and differs from raw training."""
    chain = [{"name": "MaxAbsScaler"}, {"name": "Normalizer"}]
    df = spark.createDataFrame(_pdf())
    cat = PipelineCatalog()
    _create(cat, 0, "PA", chain)
    train_batch(df, cat, dim=2, num_partitions=1)
    w_loop = np.asarray(cat.pipelines[0].model["w"], dtype=float)

    scaled, eff_dim, _ = apply_chain(df, chain, "features", 2)
    assert eff_dim == 2
    manual = trainer.fit(
        scaled, "PA", dim=2, features_col="_pp_features", label_col="label",
        num_partitions=1,
    )
    assert np.allclose(w_loop, np.asarray(manual["w"]), atol=1e-12)

    raw = trainer.fit(df, "PA", dim=2, num_partitions=1)
    assert not np.allclose(w_loop, np.asarray(raw["w"]))

    # transformed rows: |x| <= 1 after MaxAbs, unit (or zero) norm after L2
    rows = scaled.select("_pp_features").limit(50).collect()
    for r in rows:
        v = np.asarray(r["_pp_features"], dtype=float)
        n = np.linalg.norm(v)
        assert n == pytest.approx(1.0, abs=1e-9) or n == 0.0


def test_normalizer_rejected_before_fit_is_fine_stateless(spark):
    """Normalizer needs no fitted stats: a transform-only (update=False)
    application with empty state succeeds, while a scaler correctly
    raises."""
    df = spark.createDataFrame(_pdf(n=50))
    out, _, _ = apply_chain(
        df, [{"name": "Normalizer"}], "features", 2, update=False)
    assert out.select("_pp_features").count() == 50
    with pytest.raises(ValueError, match="no fitted stats"):
        apply_chain(df, [{"name": "MaxAbsScaler"}], "features", 2,
                    update=False)


def test_robust_scaler_chain_histogram_state(spark):
    """RobustScaler through the catalog: histogram state accumulates
    exactly across batches (two halves == one full batch), training uses
    median/IQR-scaled features, and transform-only without a fit raises."""
    chain = [{"name": "RobustScaler"}]
    pdf = _pdf()
    df = spark.createDataFrame(pdf)
    half1 = spark.createDataFrame(pdf.iloc[:200])
    half2 = spark.createDataFrame(pdf.iloc[200:])

    cat1 = PipelineCatalog()
    _create(cat1, 0, "PA", chain)
    train_batch(half1, cat1, dim=2, num_partitions=1, batch_id=0)
    train_batch(half2, cat1, dim=2, num_partitions=1, batch_id=1)

    cat2 = PipelineCatalog()
    _create(cat2, 0, "PA", chain)
    train_batch(df, cat2, dim=2, num_partitions=1)

    h1 = cat1.pipelines[0].preproc_state[0]["h"]
    h2 = cat2.pipelines[0].preproc_state[0]["h"]
    assert h1 == h2
    assert sum(h1[0].values()) == 400
    w1 = np.asarray(cat1.pipelines[0].model["w"], dtype=float)

    # == manual apply_chain + fit on the full batch
    scaled, _, _ = apply_chain(df, chain, "features", 2)
    manual = trainer.fit(
        scaled, "PA", dim=2, features_col="_pp_features", label_col="label",
        num_partitions=1,
    )
    w2 = np.asarray(cat2.pipelines[0].model["w"], dtype=float)
    assert np.allclose(w2, np.asarray(manual["w"]), atol=1e-12)
    assert not np.allclose(w1, np.zeros_like(w1))

    with pytest.raises(ValueError, match="no fitted stats"):
        apply_chain(df, chain, "features", 2, update=False)


def test_robust_scaler_grid_clamp_bounds_state(spark):
    """VERDICT r4 item 2: the RobustScaler histogram grid is CLAMPED —
    with a tiny bound the per-dim state stays under it whatever the
    value range (the driver never holds an unbounded histogram), the
    coarsening level k rises, and the coarse-grid quantiles stay within
    2^k quanta of the exact ones."""
    import pandas as pd

    from omldm_spark.functions.preprocess import (
        _hist_quantiles, apply_chain)

    rng = np.random.default_rng(7)
    vals = rng.uniform(-5000.0, 5000.0, size=500)   # ~10^6 cents span
    pdf = pd.DataFrame({"features": [[float(v), 0.0] for v in vals]})
    df = spark.createDataFrame(pdf)

    chain = [{"name": "RobustScaler"}]
    bound = 64
    out, _, st = apply_chain(
        df, chain, "features", 2, robust_hist_max=bound)
    h, ks = st[0]["h"], st[0]["k"]
    assert len(h[0]) <= bound
    assert ks[0] > 0                      # wide dim was coarsened
    assert ks[1] == 0                     # constant dim stayed exact
    assert sum(h[0].values()) == 500      # no mass lost to coarsening

    # coarse-grid disc quantiles within one coarse bin of the exact ones
    q = sorted(int(round(v * 100)) for v in vals)
    import math
    for p, got in zip((0.25, 0.5, 0.75),
                      _hist_quantiles(h[0], (0.25, 0.5, 0.75))):
        exact = q[math.ceil(p * len(q)) - 1]
        assert abs((got << ks[0]) - exact) <= (1 << ks[0])

    # second batch folds into the already-coarse state and stays bounded
    out2, _, st2 = apply_chain(
        df, chain, "features", 2, state=st, robust_hist_max=bound)
    assert len(st2[0]["h"][0]) <= bound
    assert sum(st2[0]["h"][0].values()) == 1000
    assert out2.select("_pp_features").count() == 500
