"""Learner kernels vs single-threaded reference implementations.

SURVEY.md §5: online-SGD learners are order-dependent, so they are pinned
against a naive pure-python loop on identical data order (the reference's
fixed-seed replay discipline, FlinkSpoke.scala:52).
"""

from __future__ import annotations

import numpy as np
import pytest

from omldm_spark.learners import get_learner
from omldm_spark.learners.linear import _xb

RNG = np.random.default_rng(25)  # seed 25 mirrors FlinkSpoke.scala:52


def _toy(n=200, d=4, classification=True):
    X = RNG.normal(size=(n, d))
    w_true = RNG.normal(size=d)
    raw = X @ w_true + 0.1 * RNG.normal(size=n)
    y = np.sign(raw) if classification else raw
    y[y == 0] = 1.0
    return X, y


def test_pa_matches_naive_loop():
    X, y = _toy()
    ln = get_learner("PA")
    hyper = {"C": 0.1}
    state = ln.partial_fit(X, y, ln.init_state(4, hyper), hyper)
    # naive reference
    w = np.zeros(5)
    C = 0.1
    for xi, yi in zip(_xb(X), y):
        loss = max(0.0, 1.0 - yi * (w @ xi))
        if loss > 0:
            w += min(C, loss / (xi @ xi)) * yi * xi
    assert np.allclose(state["w"], w)
    assert state["n"] == 200


def test_pa_learns_separable():
    X, y = _toy(n=1000)
    ln = get_learner("PA")
    hyper = {"C": 1.0}
    st = ln.init_state(4, hyper)
    for _ in range(3):
        st = ln.partial_fit(X, y, st, hyper)
    assert ln.score(X, y, st) > 0.9


def test_regressor_pa_converges():
    X, y = _toy(n=1000, classification=False)
    ln = get_learner("RegressorPA")
    hyper = {"C": 1.0, "epsilon": 0.01}
    st = ln.init_state(4, hyper)
    for _ in range(5):
        st = ln.partial_fit(X, y, st, hyper)
    assert ln.loss(X, y, st) < 0.1  # near-noiseless linear data


def test_svm_matches_naive_pegasos():
    X, y = _toy()
    ln = get_learner("SVM")
    hyper = {"lambda": 1e-3}
    state = ln.partial_fit(X, y, ln.init_state(4, hyper), hyper)
    w = np.zeros(5)
    lam, t = 1e-3, 0
    for xi, yi in zip(_xb(X), y):
        t += 1
        eta = 1.0 / (lam * t)
        margin = yi * (w @ xi)
        w *= 1 - eta * lam
        if margin < 1:
            w += eta * yi * xi
    assert np.allclose(state["w"], w)


def test_multiclass_pa_learns():
    X = RNG.normal(size=(900, 2)) + np.repeat(
        np.array([[0.0, 0.0], [6.0, 0.0], [0.0, 6.0]]), 300, axis=0
    )
    y = np.repeat([0.0, 1.0, 2.0], 300)
    ln = get_learner("MultiClassPA")
    hyper = {"C": 1.0, "numClasses": 3}
    st = ln.init_state(2, hyper)
    for _ in range(3):
        st = ln.partial_fit(X, y, st, hyper)
    assert ln.score(X, y, st) > 0.9


def test_merge_weighted_average():
    ln = get_learner("PA")
    s1 = {"w": np.array([1.0, 3.0]), "n": 1, "cum_loss": 1.0}
    s2 = {"w": np.array([3.0, 5.0]), "n": 3, "cum_loss": 3.0}
    m = ln.merge([s1, s2])
    assert np.allclose(m["w"], [2.5, 4.5])  # (1*0.25 + 3*0.75, ...)
    assert m["n"] == 4


def test_kmeans_count_weighted_merge():
    """Delta merge from a zero prior reproduces plain count weighting."""
    ln = get_learner("K-means")
    prior = np.zeros((2, 2))
    s1 = {
        "centroids": np.array([[0.0, 0.0], [2.0, 2.0]]),
        "counts": np.array([2.0, 0.0]),
        "prior_centroids": prior, "d_counts": np.array([2.0, 0.0]),
        "initialized": 1.0, "n": 2, "cum_loss": 0.0,
    }
    s2 = {
        "centroids": np.array([[4.0, 4.0], [2.0, 2.0]]),
        "counts": np.array([2.0, 4.0]),
        "prior_centroids": prior, "d_counts": np.array([2.0, 4.0]),
        "initialized": 1.0, "n": 6, "cum_loss": 0.0,
    }
    m = ln.merge([s1, s2])
    assert np.allclose(m["centroids"][0], [2.0, 2.0])  # (0*2 + 4*2)/4
    assert np.allclose(m["centroids"][1], [2.0, 2.0])
    assert m["n"] == 8
    assert np.allclose(m["counts"], [4.0, 4.0])


def test_kmeans_parallel_merge_counts_prior_once():
    """r2 ADVICE regression: P partitions starting from the same broadcast
    prior must not multiply the prior mass — merged counts grow ONLY by the
    points actually seen, and an untouched centroid stays put."""
    ln = get_learner("K-means")
    hyper = {"k": 2}
    prior = {
        "centroids": np.array([[0.0, 0.0], [10.0, 10.0]]),
        "counts": np.array([100.0, 100.0]),
        "prior_centroids": np.zeros((2, 2)), "d_counts": np.zeros(2),
        "initialized": 1.0, "n": 200, "cum_loss": 0.0,
    }
    parts = []
    for shift in (-1.0, 1.0, 3.0):
        local = ln.begin_pass({**prior, "n": 0, "cum_loss": 0.0})
        X = np.full((10, 2), shift)  # all near centroid 0
        parts.append(ln.partial_fit(X, None, local, hyper))
    m = ln.merge(parts)
    assert np.allclose(m["counts"], [130.0, 100.0])  # 100+30, untouched
    assert m["n"] == 30
    assert np.allclose(m["centroids"][1], [10.0, 10.0])  # no pull on c1
    # c0 moved toward the (count-weighted) mean of the three local passes
    assert 0.0 < m["centroids"][0][0] < 1.0


def test_kmeans_clusters_separated_data():
    a = RNG.normal(size=(200, 2))
    b = RNG.normal(size=(200, 2)) + 10.0
    X = np.empty((400, 2))
    X[0::2], X[1::2] = a, b  # interleave so first-k seeding sees both blobs
    ln = get_learner("K-means")
    hyper = {"k": 2}
    st = ln.partial_fit(X, None, ln.init_state(2, hyper), hyper)
    pred = ln.predict(X, st)
    # each blob lands (almost) entirely in one cluster
    assert np.mean(pred[0::2] == pred[0]) > 0.95
    assert np.mean(pred[1::2] == pred[1]) > 0.95
    assert ln.loss(X, None, st) < 10.0


def _hex(v):
    """A state as nested plain values, every number as its float's hex, so
    equal means equal bit for bit (ints and floats compare alike)."""
    if isinstance(v, dict):
        return {str(k): _hex(x) for k, x in v.items()}
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_hex(x) for x in v]
    if isinstance(v, (bool, str)) or v is None:
        return v
    return float(v).hex()


@pytest.mark.parametrize("name,hyper", [
    ("PA", {"C": 0.1}), ("SVM", {}), ("RegressorPA", {}),
    ("MultiClassPA", {"numClasses": 3}), ("NN", {}),
    ("HT", {"grace_period": 5}), ("K-means", {"k": 4})])
def test_partial_fit_over_consecutive_slices_is_one_call(name, hyper):
    """The training kernel feeds a pass to ``partial_fit`` one Arrow batch
    at a time, so two calls over consecutive slices must equal one call
    over both, bit for bit. K-means cut before its k seeds are placed is
    the case a restarted seeding got wrong."""
    X = RNG.normal(size=(60, 3))
    y = (RNG.integers(0, 3, size=60).astype(float) if name == "MultiClassPA"
         else np.sign(RNG.normal(size=60)))
    ln = get_learner(name)

    def start():
        return ln.begin_pass({**ln.init_state(3, hyper), "n": 0,
                              "cum_loss": 0.0})

    one = _hex(ln.partial_fit(X, y, start(), hyper))
    for cut in (1, 3, 5, 41):
        first = ln.partial_fit(X[:cut], y[:cut], start(), hyper)
        two = ln.partial_fit(X[cut:], y[cut:], first, hyper)
        assert _hex(two) == one, cut


def test_unknown_learner_raises():
    with pytest.raises(ValueError, match="unknown learner"):
        get_learner("nope")


def test_cramer_sql_generator_matches_numpy_and_2d_text():
    """The generated shared-Cramer text (any d) solves the ridge system:
    agrees with numpy's solve on random SPD systems, and with the
    hand-written d=2 text to 1e-9 (same rounding, same lam placement)."""
    import duckdb
    import numpy as np

    from omldm_spark.learners.orr import CRAMER_2D_SQL, cramer_sql

    rng = np.random.default_rng(0)
    for d in (2, 3):
        A = rng.normal(size=(d + 1, d + 1))
        A = A @ A.T + np.eye(d + 1)
        b = rng.normal(size=d + 1)
        cols, vals = [], []
        for i in range(d):
            for j in range(i, d):
                cols.append(f"m_{i}_{j}"); vals.append(A[i, j])
            cols.append(f"m_{i}_b"); vals.append(A[i, d])
            cols.append(f"v_{i}"); vals.append(b[i])
        cols += ["v_b", "n"]; vals += [b[d], 100]
        rel = "SELECT " + ", ".join(
            f"CAST({v!r} AS DOUBLE) AS {c}" for c, v in zip(cols, vals)
        )
        con = duckdb.connect()
        out = con.execute(
            cramer_sql(d).format(g=f"({rel})", lam=0.1)
        ).fetchdf()
        A2 = A.copy()
        A2[d, d] = 1.0
        w = np.linalg.solve(A2 + 0.1 * np.eye(d + 1), b)
        got = [out[f"w{k}"][0] for k in range(d)] + [out["bias"][0]]
        assert np.allclose(got, w, atol=1e-5), (d, got, w)
        if d == 2:
            ref = con.execute(
                CRAMER_2D_SQL.format(g=f"({rel})", lam=0.1)
            ).fetchdf()
            for c in ("w0", "w1", "bias"):
                assert abs(ref[c][0] - out[c][0]) < 1e-9


def test_orr_kfold_weights_are_complement_ridge(spark):
    """orr_kfold_cv fold-f weights == numpy ridge solved on the points
    OUTSIDE fold f (proves the complement-subtraction gram is the real
    leave-fold-out estimator, not just cross-engine-consistent)."""
    import numpy as np

    from omldm_spark.queries import ORR_LAMBDA, QUERIES, _points

    sf = "/root/testdata/sf0.001"
    out = {int(r["fold"]): r for r in QUERIES["orr_kfold_cv"](spark, sf).collect()}
    pts = _points(spark, sf).select("id", "x0", "x1", "y").toPandas()
    fold = pts["id"].to_numpy() % 5
    for f in (0, 3):
        mask = fold != f
        X = pts.loc[mask, ["x0", "x1"]].to_numpy()
        y = pts.loc[mask, "y"].to_numpy()
        Xb = np.hstack([X, np.ones((len(X), 1))])
        A = Xb.T @ Xb / len(X) + ORR_LAMBDA * np.eye(3)
        A[2, 2] = 1.0 + ORR_LAMBDA
        w = np.linalg.solve(A, Xb.T @ y / len(X))
        assert out[f]["n_train"] == int(mask.sum())
        assert np.allclose(
            [out[f]["w0"], out[f]["w1"], out[f]["bias"]], w, atol=2e-4)


def test_nb_separable_corpus_and_unseen_fallback(spark):
    """NB on a hand-separable corpus predicts the right class for every
    doc, and a doc made ONLY of tokens unseen in either class falls back
    to priors + lp0 (the larger class wins)."""
    import math

    from omldm_spark.learners.nbayes import nb_model, nb_scores

    rows = [
        (1, "cat cat purr", "en"),
        (2, "cat purr purr", "en"),
        (3, "chat chat ronron", "fr"),
        (4, "zzz qqq", "en"),  # unseen tokens relative to a fit on 1-3
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    fit = docs.filter("doc_id <= 3")

    model = {(r["cls"], r["tok"]): r for r in nb_model(fit).collect()}
    # exact sufficient statistics: 'cat' appears 3x in en; vocab = 4
    assert model[("en", "cat")]["cnt"] == 3
    assert model[("en", "cat")]["cls_total"] == 6
    assert model[("en", "cat")]["vsz"] == 4
    # quantized ln matches the HALF-UP rule on python floats
    lp = math.floor(math.log((3 + 1) / float(6 + 4)) * 1e6 + 0.5)
    assert model[("en", "cat")]["lp_mu"] == lp

    # scoring the FIT frame: every doc classified correctly
    scored = {r["doc_id"]: r for r in nb_scores(fit).collect()}
    assert scored[1]["pred_cls"] == "en" and scored[1]["correct"]
    assert scored[3]["pred_cls"] == "fr" and scored[3]["correct"]

    # all-unseen doc: scores collapse to prior + 2*lp0 per class; the
    # 2-doc 'en' prior beats the 1-doc 'fr' prior only if lp0 agrees —
    # en has the LARGER class total (6 vs 3) so smaller lp0; verify the
    # argmax against the hand fold
    full = {r["doc_id"]: r for r in nb_scores(docs).collect()}
    assert full[4]["pred_cls"] in ("en", "fr")
    m4 = {(r["cls"], r["tok"]): r["lp_mu"]
          for r in nb_model(docs).collect()}
    vsz = 6  # cat purr chat ronron zzz qqq
    by_cls = {}
    for cls, n_cls, tot in (("en", 3, 8), ("fr", 1, 3)):
        prior = math.floor(math.log(n_cls / 4.0) * 1e6 + 0.5)
        lp0 = math.floor(math.log(1.0 / (tot + vsz)) * 1e6 + 0.5)
        s = prior
        for t in ("zzz", "qqq"):
            s += m4.get((cls, t), lp0)
        by_cls[cls] = s
    want = max(sorted(by_cls), key=lambda c: (by_cls[c], ))
    assert full[4]["pred_cls"] == want
    assert full[4]["score_mu"] == by_cls[want]


def test_stump_picks_the_separating_feature(spark):
    """On a corpus where f1 separates the label perfectly at v <= 1 and f2
    is noise, the stump must choose f1 at threshold 1 with a pure split."""
    from omldm_spark.learners.stump import best_splits

    rows = [(v, v % 3, 1 if v <= 1 else 0) for v in range(4) for _ in range(10)]
    df = spark.createDataFrame(rows, "f1 long, f2 long, y long")
    out = {r["feat"]: r for r in best_splits(df, ["f1", "f2"], "y").collect()}
    top = next(r for r in out.values() if r["rn"] == 1)
    assert top["feat"] == "f1" and top["thr"] == 1
    assert top["pos_l"] == 20 and top["pos_r"] == 0
    assert top["n_l"] == 20 and top["n_r"] == 20
    # a perfect split scores (20^2+0)/20 + (0+20^2)/20 = 40
    assert abs(top["score"] - 40.0) < 1e-9
    assert out["f2"]["score"] < 40.0


def test_tree_depth2_refines_the_stump(spark):
    """Depth-2 on a 2-bit XOR-ish corpus: the root splits on f1, each
    child then splits on f2 — and the child splits are pure."""
    from omldm_spark.learners.stump import tree_depth2

    # y = 1 iff (f1 <= 0 and f2 <= 0); counts chosen so the f1 root
    # scores 104/12 + 144/12 = 20.67 vs f2's 200/20 + 16/4 = 14
    counts = {(0, 0, 1): 10, (0, 1, 0): 2, (1, 0, 0): 10, (1, 1, 0): 2}
    rows = [k for k, n in counts.items() for _ in range(n)]
    df = spark.createDataFrame(rows, "f1 long, f2 long, y long")
    out = {r["branch"]: r for r in tree_depth2(df, ["f1", "f2"], "y").collect()}
    assert set(out) == {-1, 0, 1}
    assert out[-1]["feat"] == "f1" and out[-1]["thr"] == 0
    # left branch (f1 <= 0): f2 separates perfectly (10 pos / 2 neg)
    assert out[0]["feat"] == "f2" and out[0]["thr"] == 0
    assert out[0]["pos_l"] == 10 and out[0]["pos_r"] == 0
    assert out[0]["n_l"] == 10 and out[0]["n_r"] == 2
    # right branch is all-negative; any split stays pure
    assert out[1]["pos_l"] == 0 and out[1]["pos_r"] == 0


def test_conformal_coverage_near_level(spark):
    """The split-conformal interval must actually cover ~90% of the
    disjoint forecast partition (finite-sample guarantee: >= 0.9 in
    expectation; allow sampling slack below)."""
    from omldm_spark.queries import QUERIES

    r = QUERIES["conformal_interval_orr"](
        spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n_cal"] > 50 and r["n_test"] > 50
    assert 850000 <= r["coverage_ppm"] <= 980000
    assert r["q_hat_u"] > 0


def test_tree_train_depth_consistency(spark):
    """tree_train depth=1 equals the stump's rn=1 row; depth=2's first
    two levels equal tree_depth2's root and children."""
    from omldm_spark.learners.stump import best_splits, tree_depth2, tree_train
    from omldm_spark.io import load_table
    import pyspark.sql.functions as F

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        F.hour("ts").cast("long").alias("f1"),
        (F.dayofweek("ts") - 1).cast("long").alias("f2"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        .cast("long").alias("y"),
    )
    cols = ["f1", "f2"]
    d1 = {r["node"]: r for r in tree_train(ev, cols, "y", 1).collect()}
    stump = best_splits(ev, cols, "y").filter("rn = 1").collect()[0]
    assert d1[""]["feat"] == stump["feat"] and d1[""]["thr"] == stump["thr"]

    d2 = {r["node"]: r for r in tree_train(ev, cols, "y", 2).collect()}
    t2 = {r["branch"]: r for r in tree_depth2(ev, cols, "y").collect()}
    assert d2[""]["feat"] == t2[-1]["feat"] and d2[""]["thr"] == t2[-1]["thr"]
    assert d2["0"]["feat"] == t2[0]["feat"] and d2["0"]["thr"] == t2[0]["thr"]
    assert d2["1"]["feat"] == t2[1]["feat"] and d2["1"]["thr"] == t2[1]["thr"]
    # depth-3 node partition sizes: children partition the parent
    d3 = {r["node"]: r for r in tree_train(ev, cols, "y", 3).collect()}
    for parent in ("", "0", "1"):
        kids = [d3.get(parent + "0"), d3.get(parent + "1")]
        if all(k is not None for k in kids):
            assert (kids[0]["n_l"] + kids[0]["n_r"]
                    + kids[1]["n_l"] + kids[1]["n_r"]) == (
                d3[parent]["n_l"] + d3[parent]["n_r"])


def test_bagged_stumps_determinism_and_oob_mass(spark):
    """The bootstrap is reproducible (two runs identical) and the weight
    distribution tracks Poisson(1): ~37% zeros per tree."""
    from omldm_spark.learners.stump import bag_weight_sql
    from omldm_spark.queries import QUERIES
    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, QUERIES["bagged_stumps_events"](spark, sf).collect()))
    b = sorted(map(tuple, QUERIES["bagged_stumps_events"](spark, sf).collect()))
    assert a == b and len(a) == 5

    w = (
        spark.range(4000).select(F.lit(0).cast("long").alias("tree"),
                                 F.col("id"))
        .withColumn("w", F.expr(bag_weight_sql("CAST(id AS STRING)")))
        .groupBy("w").count().collect()
    )
    dist = {r["w"]: r["count"] / 4000 for r in w}
    assert 0.33 < dist.get(0, 0) < 0.41   # e^-1 = 0.368
    assert 0.33 < dist.get(1, 0) < 0.41
    assert 0.14 < dist.get(2, 0) < 0.22   # e^-1/2 = 0.184


def test_logreg_irls_round_referee(spark):
    # numpy referee: one Newton step from w=0 with ridge 0.1 (the 4*lam
    # Cramer reduction) reproduces the query's weights to the round(,6)
    # quantum, and accuracy matches a direct scoring pass
    import numpy as np

    from omldm_spark.queries import QUERIES

    row = QUERIES["logreg_irls_round"](
        spark, "/root/testdata/sf0.001").collect()[0]
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW lineitem AS SELECT * FROM "
                "read_parquet('/root/testdata/sf0.001/lineitem.parquet')")
    pts = con.execute(
        "SELECT CAST(round(l_quantity * 100, 0) AS BIGINT) AS q0,"
        " CAST(round(l_discount * 100, 0) AS BIGINT) AS q1,"
        " CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END AS s"
        " FROM lineitem").df()
    X = np.column_stack([pts.q0.to_numpy() / 100.0,
                         pts.q1.to_numpy() / 100.0,
                         np.ones(len(pts))])
    s = pts.s.to_numpy().astype(float)
    n = len(pts)
    M = X.T @ X / n
    v = 2.0 * (X.T @ s) / n
    lam4 = 0.4
    w = np.linalg.solve(M + lam4 * np.eye(3), v)
    assert abs(row.w0 - w[0]) < 2e-6
    assert abs(row.w1 - w[1]) < 2e-6
    assert abs(row.bias - w[2]) < 2e-6
    pred = np.where(X @ np.array([row.w0, row.w1, row.bias]) > 0, 1, -1)
    assert row.n == n
    assert row.n_correct == int((pred == pts.s.to_numpy()).sum())
    assert 0 < row.acc_ppm <= 1_000_000
