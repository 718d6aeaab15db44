"""Placement of a micro-batch round: a batch that fits one Arrow batch is
collected once and handled on the driver; any other runs as Spark jobs.
Both rounds must leave the same catalog, write the same prediction rows
and answer the same Query responses, bit for bit: these tests run the same
batches through both (the Spark round forced by lowering
``spark.sql.execution.arrow.maxRecordsPerBatch``) and compare."""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from omldm_spark.functions.preprocess import _moment_aggs, _moment_row_np
from omldm_spark.functions.vector import spark_round
from omldm_spark.job import JobConfig, run_job
from omldm_spark.learners import get_learner
from omldm_spark.plans.catalog import PipelineCatalog
from omldm_spark.streaming import training_loop

from test_unified_streaming import (
    UNIFIED_SCHEMA,
    _data_rows,
    _request_row,
    _write_ordered,
)

DIM = 2
CAP = "spark.sql.execution.arrow.maxRecordsPerBatch"
NAMED = StructType([StructField("name", StringType()),
                    StructField("hyperParameters",
                                MapType(StringType(), StringType()))])
SCHEMA = StructType([
    StructField("kind", StringType()),
    StructField("id", LongType()),
    StructField("features", ArrayType(DoubleType())),
    StructField("label", DoubleType()),
    StructField("operation", StringType()),
    StructField("request", StringType()),
    StructField("requestId", LongType()),
    StructField("learner", NAMED),
    StructField("preProcessors", ArrayType(NAMED)),
    StructField("trainingConfiguration", MapType(StringType(), StringType())),
])
# values whose quantized form lands on an exact half: x * 1e6 for the scaler
# moments and the ORR Gram (2^-7 * 1e6 = 7812.5), x * 100 for the
# RobustScaler histogram (0.125 * 100 = 12.5)
HALVES = [2.0 ** -7, -(2.0 ** -7), 3 * 2.0 ** -7, 0.125, -0.125, 0.375]
PIPELINES = [  # (learner, protocol, chain, hyper)
    ("PA", "Synchronous",
     [("PolynomialFeatures", {"degree": "2"}), ("StandardScaler", {})], {}),
    ("SVM", "FGM", [("MinMaxScaler", {}), ("Normalizer", {})], {}),
    ("RegressorPA", "Synchronous", [("MaxAbsScaler", {})], {}),
    ("PA", "CentralizedTraining", [("RobustScaler", {})], {"C": "0.5"}),
    ("ORR", "Synchronous", [("StandardScaler", {})], {"lambda": "0.1"}),
    ("ORR", "CentralizedTraining",
     [("PolynomialFeatures", {"degree": "2"})], {}),
    ("SVM", "Synchronous", [], {}),
]


def _create(pid, rid, spec=None):
    lrn, proto, chain, hyper = spec or PIPELINES[pid]
    return ("request", pid, None, None, None, "Create", rid,
            {"name": lrn, "hyperParameters": hyper},
            [{"name": n, "hyperParameters": h} for n, h in chain],
            {"protocol": proto})


def _request(req, pid, rid):
    return ("request", pid, None, None, None, req, rid, None, None, None)


def _data(rng, ids, nan=False):
    """Data rows: every fourth one forecasts; some features are exact
    halves; the label is the sign of a fixed hyperplane, or for a half
    feature that half itself (the regressors and ORR see half labels)."""
    rows = []
    for k, i in enumerate(ids):
        x = rng.normal(size=DIM) * 3.0
        if k % 5 == 0:
            x[k % DIM] = HALVES[k % len(HALVES)]
        y = float(np.sign(x @ [1.0, -2.0]) or 1.0)
        if k % 7 == 0:
            y = HALVES[k % len(HALVES)]
        if nan and k in (3, 4):  # a training and a forecasting row
            x[1] = math.nan
        rows.append(("data", i, [float(v) for v in x], y,
                     "forecasting" if k % 4 == 0 else "training",
                     None, None, None, None, None))
    return rows


def _batches(spark):
    rng = np.random.default_rng(11)
    fresh = iter(range(1000))
    ids = [next(fresh) for _ in range(40)]
    # NULL ids, and ids sent twice in a batch
    b0 = ([_create(pid, 10 + pid) for pid in range(len(PIPELINES))]
          + [_request("Create", 99, None)]
          + _data(rng, ids + [None, None, ids[3], ids[4]]))
    b1 = ([_request("Query", 0, 30), _request("Query", 2, 31),
           _request("Query", 4, 32)]
          + _data(rng, [next(fresh) for _ in range(50)] + [None, ids[5]]))
    # a NaN feature: every scaler fit skips it, the RobustScaler's too
    b2 = ([_request("Query", 1, 34)]
          + _data(rng, [next(fresh) for _ in range(45)] + [None], nan=True))
    b3 = ([_request("Query", pid, 40 + pid) for pid in range(len(PIPELINES))]
          + _data(rng, [next(fresh) for _ in range(30)]))
    return [spark.createDataFrame(b, SCHEMA) for b in (b0, b1, b2, b3)]


def _placements(monkeypatch) -> list[bool]:
    """Record, per round, whether train_batch got the collected Table."""
    placed: list[bool] = []
    train = training_loop.train_batch

    def placed_train(batch, *args, **kwargs):
        placed.append(isinstance(batch, pa.Table))
        return train(batch, *args, **kwargs)

    monkeypatch.setattr(training_loop, "train_batch", placed_train)
    return placed


def _run(spark, monkeypatch, batches, holdout, path, cap):
    cat = PipelineCatalog(parallelism=4)
    stats, responses = [], []
    with monkeypatch.context() as m:
        placed = _placements(m)
        old = spark.conf.get(CAP)
        spark.conf.set(CAP, cap)
        try:
            handle = training_loop.make_batch_handler(
                spark, cat, dim=DIM, num_partitions=4, stats_sink=stats,
                predictions_path=str(path), responses_sink=responses,
                holdout_df=holdout)
            for b, df in enumerate(batches):
                handle(df, b)
        finally:
            spark.conf.set(CAP, old)
    files = sorted(p for p in path.iterdir() if p.suffix == ".parquet")
    rows = [r for f in files for r in pq.read_table(f).to_pylist()]
    return {
        "placed": placed,
        "catalog": {pid: json.dumps(json.loads(s.to_json()), sort_keys=True)
                    for pid, s in cat.pipelines.items()},
        "stats": [(s.batch_id, s.pipeline, s.fitted, s.models_shipped,
                   s.bytes_shipped, repr(s.loss_sum)) for s in stats],
        "predictions": sorted(repr(tuple(r.values())) for r in rows),
        "schemas": {pq.read_schema(f).remove_metadata().to_string()
                    for f in files},
        "responses": [json.dumps(r, sort_keys=True) for r in responses],
    }


def test_driver_round_equals_spark_round(spark, tmp_path, monkeypatch):
    batches = _batches(spark)
    rng = np.random.default_rng(5)
    X = rng.normal(size=(40, DIM)) * 3.0
    holdout = spark.createDataFrame(pd.DataFrame({
        "features": [list(map(float, r)) for r in X],
        "label": [float(np.sign(r @ [1.0, -2.0]) or 1.0) for r in X],
    }))
    driver = _run(spark, monkeypatch, batches, holdout, tmp_path / "driver",
                  "10000")
    spark_ = _run(spark, monkeypatch, batches, holdout, tmp_path / "spark",
                  "0")
    # batches of 52, 55, 48 and 37 rows, of which 33, 39, 34 and 22 train:
    # Spark rounds whose training rows fit, and train on the driver
    mixed = _run(spark, monkeypatch, batches, holdout, tmp_path / "mixed",
                 "39")

    assert driver["placed"] == [True] * 4
    assert spark_["placed"] == [False] * 4
    assert mixed["placed"] == [True] * 4
    for key in ("catalog", "stats", "predictions", "schemas", "responses"):
        assert driver[key] == spark_[key] == mixed[key], key
    # the round did its work: every pipeline trained, ORR on half labels,
    # the NaN batch scored, and 3 + 1 + 7 Queries were answered
    assert sorted(driver["catalog"]) == [0, 1, 2, 3, 4, 5, 6]
    assert len(driver["responses"]) == 11
    assert any("nan" in p for p in driver["predictions"])
    assert len(driver["schemas"]) == 1


def test_an_all_nan_feature_dimension_keeps_every_scaler_live(
        spark, tmp_path, monkeypatch):
    """A batch whose second feature is NaN in every row: the scalers' fits
    skip it, so that dimension adds nothing to the moments and, with no
    finite value yet, scales as a constant column. Both rounds leave the
    same catalog and predictions, and the next batch trains every
    pipeline."""
    specs = [("PA", "Synchronous", [("StandardScaler", {})], {}),
             ("SVM", "FGM", [("MinMaxScaler", {})], {}),
             ("RegressorPA", "Synchronous", [("MaxAbsScaler", {})], {}),
             ("PA", "CentralizedTraining", [("RobustScaler", {})], {})]
    rng = np.random.default_rng(4)
    nan = [r[:2] + ([r[2][0], math.nan],) + r[3:]
           for r in _data(rng, range(30))]
    b0 = [_create(pid, pid, spec) for pid, spec in enumerate(specs)] + nan
    b1 = _data(rng, range(30, 60))
    batches = [spark.createDataFrame(b, SCHEMA) for b in (b0, b1)]
    driver = _run(spark, monkeypatch, batches, None, tmp_path / "driver",
                  "10000")
    spark_ = _run(spark, monkeypatch, batches, None, tmp_path / "spark", "0")
    assert driver["placed"] == [True, True]
    assert spark_["placed"] == [False, False]
    for key in ("catalog", "stats", "predictions"):
        assert driver[key] == spark_[key], key
    trained = sum(r[4] == "training" for r in b0[len(specs):])
    for pid in range(len(specs)):
        spec = json.loads(driver["catalog"][pid])
        assert spec["rounds"] == 2
        assert spec["fitted"] == trained + sum(
            r[4] == "training" for r in b1), pid
    assert len(driver["predictions"]) == len(specs) * sum(
        r[4] == "forecasting" for r in b0 + b1)


def test_short_features_array_takes_the_spark_round(spark, tmp_path,
                                                    monkeypatch):
    """A forecasting row with one feature fewer than ``dim`` sends the
    batch to the Spark round, where ``zip_with`` pads the short array and
    the regressor's prediction for it is NULL."""
    cat = PipelineCatalog(parallelism=4)
    assert cat.apply_request({
        "id": 0, "request": "Create", "learner": {"name": "RegressorPA"},
        "trainingConfiguration": {"protocol": "Synchronous"}}) == "Create"
    rows = _data(np.random.default_rng(2), range(20))
    rows.append(("data", 99, [1.0], 0.0, "forecasting",
                 None, None, None, None, None))
    placed = _placements(monkeypatch)
    handle = training_loop.make_batch_handler(
        spark, cat, dim=DIM, num_partitions=4,
        predictions_path=str(tmp_path / "preds"))
    handle(spark.createDataFrame(rows, SCHEMA), 0)
    assert placed == [False]
    preds = {r["recordId"]: r["prediction"]
             for r in spark.read.parquet(str(tmp_path / "preds")).collect()}
    assert preds[99] is None
    assert len(preds) == 1 + sum(r[4] == "forecasting" for r in rows[:-1])


def test_over_cap_batch_under_exact_dedup(spark, tmp_path, monkeypatch):
    """Batches larger than the cap run the Spark round behind the exact
    dedup. The collect stops at its bound, yet the dedup sees every row:
    the ids batch 1 re-sends are dropped, and the catalog, the predictions
    and the responses equal the driver round's."""
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    src = str(tmp_path / "src")
    _write_ordered(src, [
        _request_row("Create", 1, t0, learner="PA"),
        _data_rows(range(0, 100), t0),
        pd.concat([_data_rows(range(100, 200), t0),
                   _data_rows(range(0, 40), t0)], ignore_index=True),
        _request_row("Query", 2, t0),
    ])
    out = []
    for name, cap in (("driver", "10000"), ("spark", "50")):
        with monkeypatch.context() as m:
            placed = _placements(m)
            old = spark.conf.get(CAP)
            spark.conf.set(CAP, cap)
            try:
                cfg = JobConfig(
                    parallelism=4, input_path=src,
                    input_schema=UNIFIED_SCHEMA, max_files_per_trigger=1,
                    checkpoint_dir=str(tmp_path / name / "ckpt"),
                    predictions_path=str(tmp_path / name / "preds"),
                    dedup_key="id", stats_sink=[], timeout_ms=180_000)
                cat = run_job(spark, cfg)
            finally:
                spark.conf.set(CAP, old)
        preds = sorted(tuple(r) for r in
                       spark.read.parquet(cfg.predictions_path).collect())
        out.append((placed, cat.pipelines[1].to_json(),
                    [(s.batch_id, s.fitted) for s in cfg.stats_sink], preds,
                    [json.dumps(r, sort_keys=True)
                     for r in cfg.responses_sink]))
    # the one-row request batches fit either cap (the Query batch, after a
    # large one, as a Spark round with no training row to collect)
    assert out[0][0] == [True] * 4
    assert out[1][0] == [True, False, False, True]
    assert out[0][1:] == out[1][1:]
    # ids 0-199 once each: every tenth forecasts, the rest train
    assert out[1][2] == [(1, 90), (2, 90)]
    assert len(out[1][3]) == 20
    assert json.loads(out[1][4][0])["dataFitted"] == 180


def test_buffered_rows_join_either_round(spark, tmp_path, monkeypatch):
    """Rows that arrive before the first Create are buffered as Arrow
    slices of the collect and join the next round: on the driver when the
    batches together fit the cap, as Spark jobs over the buffered rows and
    the batch when they do not. The buffered rows lead the round as one
    partition of their own in both, so ORR adds its SSE in the same order,
    and both leave the same catalog and predictions."""
    rng = np.random.default_rng(4)
    early = [spark.createDataFrame(_data(rng, ids), SCHEMA)
             for ids in (range(0, 15), range(15, 30))]
    late = spark.createDataFrame(
        [_create(0, 1), _create(4, 2), _create(5, 3)]
        + _data(rng, range(30, 50)), SCHEMA)
    out = []
    for name, cap in (("driver", "10000"), ("spark", "40")):
        cat = PipelineCatalog(parallelism=4)
        path = tmp_path / name
        with monkeypatch.context() as m:
            placed = _placements(m)
            old = spark.conf.get(CAP)
            spark.conf.set(CAP, cap)
            try:
                handle = training_loop.make_batch_handler(
                    spark, cat, dim=DIM, num_partitions=4,
                    predictions_path=str(path))
                for b, df in enumerate(early + [late]):
                    handle(df, b)
            finally:
                spark.conf.set(CAP, old)
        rows = spark.read.parquet(str(path)).collect()
        out.append((placed, {pid: s.to_json()
                             for pid, s in cat.pipelines.items()},
                    sorted(repr(tuple(r)) for r in rows)))
    assert [o[0] for o in out] == [[True], [False]]
    assert out[0][1:] == out[1][1:]
    for pid in (0, 4, 5):  # 3 of 4 rows train
        assert json.loads(out[0][1][pid])["fitted"] == 37
    assert len(out[0][2]) == 3 * 13


def test_buffered_rows_join_a_batch_with_a_short_features_array(
        spark, tmp_path, monkeypatch):
    """Buffered rows join the round whichever way the batch goes: here
    buffered and new rows together fit the cap, but a short features
    array sends the batch to the Spark round, which must train and score
    the buffered rows too, as the forced Spark round does."""
    rng = np.random.default_rng(6)
    early = spark.createDataFrame(_data(rng, range(0, 20)), SCHEMA)
    create = ("request", 0, None, None, None, "Create", 1,
              {"name": "RegressorPA", "hyperParameters": {}}, [],
              {"protocol": "Synchronous"})
    late = spark.createDataFrame(
        [create] + _data(rng, range(20, 40))
        + [("data", 99, [1.0], 0.0, "forecasting",
            None, None, None, None, None)], SCHEMA)
    out = []
    for name, cap in (("fits", "10000"), ("spark", "0")):
        cat = PipelineCatalog(parallelism=4)
        path = tmp_path / name
        with monkeypatch.context() as m:
            placed = _placements(m)
            old = spark.conf.get(CAP)
            spark.conf.set(CAP, cap)
            try:
                handle = training_loop.make_batch_handler(
                    spark, cat, dim=DIM, num_partitions=4,
                    predictions_path=str(path))
                handle(early, 0)
                handle(late, 1)
            finally:
                spark.conf.set(CAP, old)
        preds = {r["recordId"]: r["prediction"]
                 for r in spark.read.parquet(str(path)).collect()}
        out.append((placed, cat.pipelines[0].to_json(), preds))
    assert [o[0] for o in out] == [[False], [False]]
    assert out[0][1:] == out[1][1:]
    assert json.loads(out[0][1])["fitted"] == 30  # 3 of 4 rows of 40 train
    preds = out[0][2]
    assert sorted(preds) == [*range(0, 40, 4), 99]
    assert preds[99] is None


def test_a_batch_after_one_over_the_cap_skips_the_collect(
        spark, tmp_path, monkeypatch):
    """After a batch over the cap the handler expects another and runs the
    Spark round without the collect. On a unified stream the request
    collect counts the batch, so the first small batch after the large
    ones still skips it (its training rows, which fit, are collected on
    their own and train on the driver) and the next one collects again;
    without a ``kind`` column nothing counts a skipped batch, and the
    next one collects."""
    rng = np.random.default_rng(8)
    ids = iter(range(1000))

    def rows(n):  # every fourth row forecasts
        return _data(rng, [next(ids) for _ in range(n)])

    unified = [spark.createDataFrame(b, SCHEMA) for b in (
        [_create(6, 1)] + rows(79), rows(80), rows(20), rows(20))]
    plain = [df.select("id", "features", "label", "operation")
             for df in (spark.createDataFrame(rows(n), SCHEMA)
                        for n in (80, 80, 20))]
    out = []
    for batches in (unified, plain):
        cat = PipelineCatalog(parallelism=4)
        if batches is plain:
            assert cat.apply_request(
                {"id": 6, "request": "Create", "learner": {"name": "SVM"},
                 "trainingConfiguration": {"protocol": "Synchronous"}})
        collects = []  # (batch, rows collected)
        collect = training_loop.collect_batch

        def counted(*args):
            table = collect(*args)
            collects.append((len(placed), table.num_rows))
            return table

        with monkeypatch.context() as m:
            placed = _placements(m)
            m.setattr(training_loop, "collect_batch", counted)
            old = spark.conf.get(CAP)
            spark.conf.set(CAP, "50")
            try:
                handle = training_loop.make_batch_handler(
                    spark, cat, dim=DIM, num_partitions=4,
                    predictions_path=str(tmp_path / str(len(out))))
                for b, df in enumerate(batches):
                    handle(df, b)
            finally:
                spark.conf.set(CAP, old)
        out.append((collects, placed, cat.pipelines[6].fitted))
    assert out[0] == ([(0, 51), (2, 15), (3, 20)],
                      [False, False, True, True], 59 + 60 + 15 + 15)
    assert out[1] == ([(0, 51), (2, 20)], [False, False, True],
                      60 + 60 + 15)


def test_spark_round_rounds_half_away_from_zero(spark):
    """``spark_round`` is Spark's ``round(v, 0)`` on the halves, the values
    next to them, NaN and the infinities."""
    vals = [0.5, 1.5, 2.5, -0.5, -2.5, 7812.5, -7812.5, 12.5,
            np.nextafter(0.5, 0), np.nextafter(2.5, 3), -0.0, -0.3, 1e300,
            math.nan, math.inf, -math.inf]
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    want = [r[0] for r in df.selectExpr("round(v, 0)").collect()]
    got = spark_round(np.array(vals))
    assert [repr(float(v)) for v in got] == [repr(v) for v in want]


def test_orr_partial_fit_sums_equal_fit_dataframe_on_halves(spark):
    """ORR's numpy ``partial_fit`` quantizes as Spark's ``round`` does, so
    its exact integer sums equal ``fit_dataframe``'s on inputs that land on
    halves (2^-7 * 1e6 = 7812.5: ``np.rint`` gives 7812, Spark 7813)."""
    X = np.array([[2.0 ** -7, 1.0], [-(2.0 ** -7), 3 * 2.0 ** -7],
                  [0.5, -2.5e-6], [2.5, 2.0 ** -8]])
    y = np.array([2.0 ** -7, -0.5, 1.25, 3 * 2.0 ** -7])
    ln = get_learner("ORR")
    hyper = {"lambda": "0.1"}
    got = ln.partial_fit(X, y, ln.init_state(2, hyper), hyper)
    df = spark.createDataFrame(
        [([float(a) for a in x], float(t)) for x, t in zip(X, y)],
        "features array<double>, label double")
    want = ln.fit_dataframe(df, 2, hyper)
    for k in ("sxx", "sx", "sxy", "sy", "n"):
        assert got[k] == want[k], k
    assert got["sxx"][0] == 2 * 7813 ** 2 + 500000 ** 2 + 2500000 ** 2


def test_moment_row_fails_where_the_spark_aggregate_fails(spark):
    """The driver's scaler moments raise exactly where Spark's aggregate
    raises under ANSI: a finite quantized value outside BIGINT (its min or
    max cast, 9.3e12 * 1e6 > 2^63) or beyond DECIMAL(38,0), and a sum of
    squares of 10^38 or more. Elsewhere they return the aggregate's row,
    a NaN or infinite value skipped."""
    cases = [[[9.3e12, 1.0], [2.0, 1.0]], [[-9.3e12, 1.0], [2.0, 1.0]],
             [[1e40, 1.0], [2.0, 1.0]], [[3.0e12, 1.0]] * 12,
             [[9.2e12, 1.0], [-9.2e12, 1.0]], [[math.inf, 1.0], [2.0, 1.0]],
             [[math.nan, 1.0], [-math.inf, 2.0]]]
    quant = 10 ** 6
    for X in cases:
        df = spark.createDataFrame([(r,) for r in X], "f array<double>")
        try:
            want = df.selectExpr(*_moment_aggs("f", DIM, quant)).first()
        except Exception:
            want = None
        try:
            got = _moment_row_np(np.array(X), quant)
        except ArithmeticError:
            got = None
        if want is None:
            assert got is None, X
        else:
            assert got == {k: None if v is None else int(v)
                           for k, v in want.asDict().items()}, X
