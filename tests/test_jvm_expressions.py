"""Expressions built from model or scaler state go to the JVM as SQL text:
the double literal round-trips bit-exactly, linear scoring keeps its
left-to-right summation, building the per-batch frames costs a number of
py4j round trips that does not grow with the feature dimension, and a new
model or scaler state compiles no new generated code."""

from __future__ import annotations

import math
import random
import re
import struct

import numpy as np
import pytest
from py4j import protocol as proto
from py4j.clientserver import ClientServerConnection

from omldm_spark.functions.preprocess import apply_chain, mean_std_from_moments
from omldm_spark.functions.vector import linear_predict, sql_col, sql_double
from omldm_spark.learners import trainer
from omldm_spark.learners.trainer import Task
from omldm_spark.plans.catalog import PipelineCatalog
from omldm_spark.streaming.training_loop import predict_batch

DOUBLES = [0.1, 1 / 3, -0.0, 5e-324, 2.2250738585072014e-308,
           1.7976931348623157e308, math.nan, math.inf, -math.inf]


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_sql_double_round_trips_bit_exact(spark):
    df = spark.range(1).selectExpr(
        *[f"{sql_double(v)} AS c{i}" for i, v in enumerate(DOUBLES)])
    assert {t for _, t in df.dtypes} == {"double"}
    row = df.first()
    assert [_bits(row[i]) for i in range(len(DOUBLES))] == \
        [_bits(v) for v in DOUBLES]


def test_sql_col_quotes_backquotes(spark):
    df = spark.range(1).selectExpr("id AS `we``ird col`")
    assert df.selectExpr(f"{sql_col('we`ird col')} + 1 AS x").first()["x"] == 1


def test_linear_predict_sums_left_to_right(spark):
    rng = random.Random(3)
    dim = 8
    w = [rng.uniform(-2, 2) for _ in range(dim)]
    b = rng.uniform(-1, 1)
    rows = [(i, [rng.uniform(-1e3, 1e3) * rng.random() for _ in range(dim)])
            for i in range(200)]
    df = spark.createDataFrame(rows, "id long, features array<double>")
    got = dict(df.select("id", linear_predict("features", w, b)).collect())
    for i, x in rows:
        acc = 0.0
        for xi, wi in zip(x, w):
            acc += xi * wi
        assert _bits(got[i]) == _bits(acc + b), i


@pytest.fixture
def jvm_calls(monkeypatch):
    """Counts py4j commands sent to the JVM while it is in use, except the
    deferred frees of garbage-collected proxies, whose timing is the
    Python collector's."""
    count = [0]
    send = ClientServerConnection.send_command
    free = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(self, command, *args, **kwargs):
        count[0] += not command.startswith(free)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    return count


def _points(spark, dim):
    rng = np.random.default_rng(dim)
    X = rng.normal(size=(64, dim))
    return spark.createDataFrame(
        [(i, list(map(float, x)), 1.0) for i, x in enumerate(X)],
        "id long, features array<double>, label double")


def _build_calls(spark, jvm_calls, dim):
    """py4j commands spent building each per-batch frame at ``dim``."""
    df = _points(spark, dim)
    rng = np.random.default_rng(0)
    cat = PipelineCatalog(parallelism=2)
    for pid, learner in enumerate(["PA", "SVM", "RegressorPA"] * 2):
        cat.apply_request({
            "id": pid, "request": "Create", "learner": {"name": learner},
            "trainingConfiguration": {"protocol": "Synchronous"}})
    for spec in cat.live():
        spec.model = {"w": rng.normal(size=dim + 1).tolist()}
    tasks = [Task(s.learner, dim, {}, {"w": np.asarray(s.model["w"])})
             for s in cat.live()]
    chain = [{"name": "StandardScaler"}, {"name": "MinMaxScaler"},
             {"name": "PolynomialFeatures"}]
    _, _, state = apply_chain(df, chain[:2], "features", dim)
    state = state + [None]

    out = {}
    jvm_calls[0] = 0
    predict_batch(df, cat, dim=dim)
    out["predict_batch"] = jvm_calls[0]

    # the list-form holdout aggregate, built but not run
    frames = []
    with pytest.MonkeyPatch.context() as m:
        m.setattr(type(df), "first",
                  lambda self: frames.append(self) or {"n": 0})
        jvm_calls[0] = 0
        trainer.evaluate_linear(df, tasks)
        out["evaluate_linear"] = jvm_calls[0]
    assert len(frames) == 1

    jvm_calls[0] = 0
    apply_chain(df, chain, "features", dim, state, update=False)
    out["apply_chain"] = jvm_calls[0]
    return out


def test_frame_build_round_trips_do_not_grow_with_dim(spark, jvm_calls):
    small = _build_calls(spark, jvm_calls, 8)
    large = _build_calls(spark, jvm_calls, 64)
    assert all(small.values()), small  # the counter sees the gateway
    assert large == small


def _compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def _scaler_state(spark, chain, seed):
    rng = np.random.default_rng(seed)
    fit = spark.createDataFrame(
        [(i, list(map(float, rng.normal(size=3) * 3 + 1))) for i in range(50)],
        "id long, features array<double>")
    return apply_chain(fit, chain, "features", 3)[2]


@pytest.mark.parametrize("name", ["StandardScaler", "MinMaxScaler",
                                  "MaxAbsScaler", "RobustScaler"])
def test_new_scaler_state_compiles_no_code(spark, name):
    """The scaler state sits inside CodegenFallback lambdas, not in the
    generated Java source: the same transform over a second state compiles
    nothing."""
    chain = [{"name": name}]
    df = _points(spark, 3)
    runs = []
    for seed in (1, 2):
        st = _scaler_state(spark, chain, seed)
        out = apply_chain(df, chain, "features", 3, st, update=False)[0]
        before = _compiles(spark)
        rows = out.select("_pp_features").collect()
        runs.append((_compiles(spark) - before, rows))
    assert runs[0][1] != runs[1][1]      # the two states scale differently
    assert runs[1][0] == 0, runs[1][0]


def test_new_linear_model_compiles_no_code(spark):
    df = _points(spark, 3)
    runs = []
    for b in (0.25, -1.5):
        before = _compiles(spark)
        df.select(linear_predict("features", [0.5, -1.0, 2.0], b)).collect()
        runs.append(_compiles(spark) - before)
    assert runs[1] == 0, runs


def test_scaler_keeps_row_shape_on_malformed_rows(spark):
    """One element per fitted dimension whatever the row holds: a short
    array scales the elements it has, a NULL array gives NULL elements, and
    a zero-std dimension is 0.0 without reading the row."""
    chain = [{"name": "StandardScaler"}]
    fit = spark.createDataFrame(
        [(i, [float(i), float(i * i % 7), 4.0]) for i in range(10)],
        "id long, features array<double>")
    st = apply_chain(fit, chain, "features", 3)[2]
    bad = spark.createDataFrame([(1, [1.0, 2.0]), (2, None)],
                                "id long, features array<double>")
    out = apply_chain(bad, chain, "features", 3, st, update=False)[0]
    rows = dict(out.select("id", "_pp_features").collect())
    (m0, s0), (m1, s1) = (mean_std_from_moments(st[0], i) for i in (0, 1))
    assert rows[1] == [(1.0 - m0) / s0, (2.0 - m1) / s1, 0.0]
    assert rows[2] == [None, None, 0.0]


def test_scaler_does_not_inline_the_previous_step_per_element(spark):
    """In the optimized plan, each per-element lambda of a chain reads only
    lambda variables and literals: the previous step's array (here the
    polynomial expansion) is evaluated once per row, not once per element."""
    chain = [{"name": "PolynomialFeatures"}, {"name": "StandardScaler"},
             {"name": "MinMaxScaler"}]
    df = _points(spark, 3)
    st = _scaler_state(spark, chain, 1)
    out = apply_chain(df, chain, "features", 3, st, update=False)[0]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    bodies = re.findall(r"CASE WHEN \(element_at\(\[.*?END", plan)
    assert len(bodies) == 2, plan
    for body in bodies:
        refs = re.findall(r"(lambda )?(\w+)#\d+", body)
        assert refs and all(lam for lam, _ in refs), body
