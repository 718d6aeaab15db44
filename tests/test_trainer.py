"""BSP trainer: determinism, single-partition == sequential, merge math."""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from omldm_spark.learners import get_learner, trainer
from sparktrace import PYTHON_NODE, runs_python_or_shuffle, traced
from test_learners import _hex

RNG = np.random.default_rng(25)


@pytest.fixture(scope="module")
def points(spark):
    n = 500
    X = RNG.normal(size=(n, 3))
    y = np.sign(X @ np.array([1.0, -2.0, 0.5]) + 0.05 * RNG.normal(size=n))
    y[y == 0] = 1.0
    pdf = pd.DataFrame(
        {
            "id": range(n),
            "worker": [i % 4 for i in range(n)],
            "features": [list(map(float, r)) for r in X],
            "label": y.astype(float),
        }
    )
    return spark.createDataFrame(pdf)


def test_fit_deterministic(spark, points):
    kw = dict(
        dim=3, hyper={"C": 0.1}, num_partitions=4, partition_col="worker",
        order_cols=["id"],
    )
    s1 = trainer.fit(points, "PA", **kw)
    s2 = trainer.fit(points, "PA", **kw)
    assert np.allclose(s1["w"], s2["w"])
    assert s1["n"] == s2["n"] == 500


def test_single_partition_matches_sequential(spark, points):
    state = trainer.fit(
        points, "PA", dim=3, hyper={"C": 0.1}, num_partitions=1,
        partition_col="worker", order_cols=["id"],
    )
    pdf = points.orderBy("id").toPandas()
    X = np.asarray(pdf["features"].tolist())
    y = pdf["label"].to_numpy()
    ln = get_learner("PA")
    ref = ln.partial_fit(X, y, ln.init_state(3, {"C": 0.1}), {"C": 0.1})
    # repartition(1, worker) holds every row; in-partition order is the sort
    assert np.allclose(state["w"], ref["w"])


def test_fit_learns_and_evaluates(spark, points):
    state = trainer.fit(
        points, "PA", dim=3, hyper={"C": 1.0}, epochs=3, num_partitions=4,
        partition_col="worker", order_cols=["id"],
    )
    ev = trainer.evaluate(points, "PA", state)
    assert ev["n_test"] == 500
    assert ev["score"] > 0.8  # separable-ish data, merged model still learns


def test_epochs_accumulate_counts(spark, points):
    s1 = trainer.fit(points, "SVM", dim=3, hyper={}, epochs=2, num_partitions=2,
                     partition_col="worker", order_cols=["id"])
    assert s1["n"] == 1000  # 2 epochs x 500 points


def test_evaluate_linear_matches_numpy_evaluate(spark, points):
    state = trainer.fit(
        points, "PA", dim=3, hyper={"C": 1.0}, num_partitions=4,
        partition_col="worker", order_cols=["id"],
    )
    ev_np = trainer.evaluate(points, "PA", state)
    ev_sql = trainer.evaluate_linear(points, "PA", state)
    assert ev_sql["n_test"] == ev_np["n_test"]
    assert abs(ev_sql["score"] - ev_np["score"]) < 1e-12
    assert abs(ev_sql["loss"] - ev_np["loss"]) < 1e-9
    # regressor path too
    st_r = trainer.fit(points, "RegressorPA", dim=3, hyper={}, num_partitions=4,
                       partition_col="worker", order_cols=["id"])
    ev_np = trainer.evaluate(points, "RegressorPA", st_r)
    ev_sql = trainer.evaluate_linear(points, "RegressorPA", st_r)
    assert abs(ev_sql["loss"] - ev_np["loss"]) < 1e-9


def test_fit_groups_states_do_not_depend_on_task_count(spark, points):
    """One keyed pass trains two models on two features columns of one
    frame. Over the training loop's collect of the frame it runs on the
    driver: the collect is one one-task job, with no Python stage and no
    shuffle, and the pass adds none. Over the DataFrame it runs the grouped
    applyInPandas in the session's shuffle partitions (AQE off, as under a
    stateful stream, so they are not coalesced). Both placements return
    bit-identical states."""
    from pyspark.sql import functions as F

    from omldm_spark.streaming.training_loop import collect_batch

    frame = points.withColumn("scaled",
                              F.expr("transform(features, x -> 2 * x)"))
    tasks = [trainer.Task("PA", 3, {"C": 0.1}),
             trainer.Task("SVM", 3, {}, None, "scaled")]

    def run(src):
        return trainer.fit_groups(src, tasks, key_col="worker",
                                  order_cols=["id"])

    one, one_tasks, one_plans = traced(spark, lambda: run(
        collect_batch(frame, 500, "features", "label")))
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        grouped, grouped_tasks, grouped_plans = traced(spark,
                                                       lambda: run(frame))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert one_tasks == [[1]] and len(one_plans) == 1
    assert not runs_python_or_shuffle(one_plans)
    assert any(PYTHON_NODE.search(p) for p in grouped_plans)
    assert max(n for job in grouped_tasks for n in job) > 1
    assert len(grouped) == len(one) == 2
    for got, want in zip(grouped, one):
        assert sorted(got) == sorted(want) == [0, 1, 2, 3]
        for key in want:
            assert sorted(got[key]) == sorted(want[key])
            for f, v in want[key].items():
                assert np.array_equal(got[key][f], v), (key, f)
    alone = trainer.fit_groups(frame, "SVM", 3, {}, key_col="worker",
                               features_col="scaled", order_cols=["id"])
    for key, state in alone.items():
        assert np.array_equal(state["w"], one[1][key]["w"])


def test_multi_partition_fit_equals_numpy_replay(spark, points):
    """fit over 4 workers, bit for bit: each worker is a hash partition of
    ``worker`` (Spark's ``pmod(hash(worker), 4)``), trains its rows in id
    order from the initial state, and the partials merge in worker order."""
    from pyspark.sql import functions as F

    hyper = {"C": 0.1}
    state = trainer.fit(points, "PA", dim=3, hyper=hyper, num_partitions=4,
                        partition_col="worker", order_cols=["id"])
    pdf = points.withColumn(
        "grp", F.pmod(F.hash("worker"), F.lit(4))).toPandas()
    ln = get_learner("PA")
    partials = []
    for _, g in sorted(pdf.groupby("grp"), key=lambda kv: kv[0]):
        g = g.sort_values("id")
        start = ln.begin_pass({**ln.init_state(3, hyper), "n": 0,
                               "cum_loss": 0.0})
        partials.append(ln.partial_fit(np.asarray(g["features"].tolist()),
                                       g["label"].to_numpy(), start, hyper))
    assert len(partials) > 1
    ref = ln.merge(partials)
    assert np.array_equal(state["w"], ref["w"])
    assert state["n"] == 500
    assert state["cum_loss"] == sum(p["cum_loss"] for p in partials)
    with pytest.raises(ValueError, match="partition_col"):
        trainer.fit(points, "PA", dim=3, hyper=hyper, num_partitions=2)


def test_single_worker_round_runs_one_task_without_shuffle(spark):
    """A train_batch round whose pipelines all train on one worker (an HT
    SingleLearner and a CentralizedTraining PA) over the training loop's
    collect of a small batch: the collect is one one-task job, with no
    Python stage and no shuffle, and the round adds none.
    The PA model is the one-worker fit over the batch in id order, whatever
    its arrival order."""
    from omldm_spark.plans.catalog import PipelineCatalog
    from omldm_spark.streaming.training_loop import (
        _deser,
        collect_batch,
        train_batch,
    )

    rng = np.random.default_rng(3)
    n = 200
    X = rng.normal(size=(n, 3))
    y = np.sign(X @ np.array([1.0, -1.0, 0.5]))
    y[y == 0] = 1.0
    batch = spark.createDataFrame(pd.DataFrame({
        "id": rng.permutation(n),
        "features": [list(map(float, r)) for r in X],
        "label": y.astype(float),
    }))
    cat = PipelineCatalog(parallelism=4)
    for pid, (lrn, proto, hyper) in enumerate([
            ("HT", "SingleLearner", {"grace_period": "50"}),
            ("PA", "CentralizedTraining", {"C": "0.1"})]):
        assert cat.apply_request({
            "id": pid, "request": "Create",
            "learner": {"name": lrn, "hyperParameters": hyper},
            "trainingConfiguration": {"protocol": proto},
        }) == "Create"
    stats, tasks, plans = traced(
        spark, lambda: train_batch(
            collect_batch(batch, n, "features", "label"), cat, dim=3,
            num_partitions=4))
    assert tasks == [[1]] and len(plans) == 1
    assert not runs_python_or_shuffle(plans)
    assert [s.fitted for s in stats] == [n, n]
    pa = cat.pipelines[1]
    want = trainer.fit(batch, "PA", dim=3, hyper={"C": "0.1"},
                       order_cols=["id"])
    assert np.array_equal(_deser(pa.model)["w"], want["w"])


# every streamed learner, as one fused pass trains them
STREAMED = [("PA", {"C": 0.1}), ("SVM", {}), ("RegressorPA", {}),
            ("MultiClassPA", {}), ("NN", {}), ("HT", {"grace_period": 5}),
            ("K-means", {"k": 4})]


def test_fit_groups_streams_each_keys_sorted_rows_in_arrow_batches(spark):
    """Over a DataFrame, ``fit_groups`` repartitions by the key, lets Spark
    sort each key's rows by ``order_cols`` (NULLs last) and feeds them to
    the kernel as Arrow batches of ``maxRecordsPerBatch`` rows: at 7, every
    key spans several batches. The rows arrive shuffled over three
    partitions, with NULL and repeated ids. Every learner's per-key state
    equals the Table form's and a numpy replay of one ``partial_fit`` over
    the key's rows in ``(id, _tie)`` order, bit for bit; the pass adds one
    Exchange and one Sort under the grouped Arrow node."""
    from pyspark.sql import functions as F

    def batches(key: Tuple[pa.Scalar, ...],
                it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield pa.RecordBatch.from_pydict({"n": [sum(1 for _ in it)]})

    rng = np.random.default_rng(8)
    ids = [int(i) for i in rng.permutation(50)] + [None] * 6 + [4, 9, 9]
    rows = [(i, [float(v) for v in rng.normal(size=3)],
             float(rng.choice([-1.0, 1.0]))) for i in ids]
    rows = [rows[j] for j in rng.permutation(len(rows))]
    frame = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3),
        "id long, features array<double>, label double")
    tie = F.xxhash64("features", "label")
    frame = frame.withColumns({
        "_wk": F.pmod(F.coalesce(F.col("id"), tie), F.lit(2)).cast("int"),
        "_tie": tie}).persist()
    tasks = [trainer.Task(lrn, 3, hyper) for lrn, hyper in STREAMED]
    cap = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(cap)
    spark.conf.set(cap, "7")
    try:
        per_key = frame.groupBy("_wk").applyInArrow(
            batches, "n long").toArrow().column("n").to_pylist()
        got, _, plans = traced(spark, lambda: trainer.fit_groups(
            frame, tasks, key_col="_wk", order_cols=["id", "_tie"]))
        table = frame.toArrow()
    finally:
        spark.conf.set(cap, old)
        frame.unpersist()
    assert len(per_key) == 2 and min(per_key) >= 3
    on_driver = trainer.fit_groups(table, tasks, key_col="_wk",
                                   order_cols=["id", "_tie"])
    keyed = {}
    for r in table.to_pylist():
        keyed.setdefault(r["_wk"], []).append(r)
    assert sorted(keyed) == [0, 1]
    for (lrn, hyper), g, d in zip(STREAMED, got, on_driver):
        ln = get_learner(lrn)
        assert sorted(g) == sorted(d) == [0, 1]
        for key, kr in keyed.items():
            kr = sorted(kr, key=lambda r: (r["id"] is None, r["id"] or 0,
                                           r["_tie"]))
            start = ln.begin_pass({**ln.init_state(3, hyper), "n": 0,
                                   "cum_loss": 0.0})
            want = ln.partial_fit(
                np.array([r["features"] for r in kr]),
                np.array([r["label"] for r in kr]), start, hyper)
            assert _hex(g[key]) == _hex(d[key]) == _hex(want), (lrn, key)
    tree = plans[-1].split("\n\n")[0]
    final = tree.split("== Initial Plan ==")[0]
    assert "FlatMapGroupsInArrow" in final
    under = final.split("FlatMapGroupsInArrow", 1)[1]
    assert under.count("Exchange (") == 1 and under.count("Sort (") == 1
    assert "REPARTITION_BY_COL" in plans[-1]
