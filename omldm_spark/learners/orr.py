"""ORR — Online Ridge Regression, exactly computable (SURVEY.md §2.9).

The reference dispatches an ``ORR`` learner by name
(src/main/scala/omldm/utils/parsers/requestStream/PipelineMap.scala:68); the
implementation lives in the external OnlineMachineLearning library. Ridge has
a closed form, so the Spark-native plan is pure aggregation — no Python in
the hot path, no iteration:

    A = (1/n) Σ x̃ x̃ᵀ + λI      b = (1/n) Σ x̃ y        w = A⁻¹ b

with x̃ = [x, 1] (bias absorbed). The Σ terms are a single ``agg`` of
``avg(x_i * x_j)`` products — map-side combinable, one shuffle of one tiny
row, whole-stage codegen end to end. This is the textbook treeAggregate
shape; at 100 TB it is scan-bound, which is optimal.

Oracle parity: DuckDB and Spark sum floats in different orders, so raw
Gram entries differ at ~1e-12 relative. We therefore ROUND the Gram entries
(both sides, same digits) and then run the IDENTICAL Cramer-solve SQL text
in both engines — IEEE arithmetic on identical inputs with an identical
expression tree is bit-identical, so the final weights hash-match exactly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import spark_round, sql_col, sql_double


def gram_aggregate(
    points: DataFrame, feature_cols: list[str], target_col: str, round_digits: int | None = None
) -> DataFrame:
    """One-row DataFrame of averaged Gram products over explicit columns.

    Output columns: n, m_{i}_{j} = avg(x_i*x_j) for i<=j (bias = last
    pseudo-feature, constant 1), v_{i} = avg(x_i*y), v_b = avg(y).
    """
    cols = [F.col(c) for c in feature_cols]
    d = len(cols)

    def rnd(c):
        return F.round(c, round_digits) if round_digits is not None else c

    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i in range(d):
        for j in range(i, d):
            aggs.append(rnd(F.avg(cols[i] * cols[j])).alias(f"m_{i}_{j}"))
        aggs.append(rnd(F.avg(cols[i])).alias(f"m_{i}_b"))  # x_i * bias
        aggs.append(rnd(F.avg(cols[i] * F.col(target_col))).alias(f"v_{i}"))
    aggs.append(rnd(F.avg(F.col(target_col))).alias("v_b"))
    return points.agg(*aggs)


def solve_ridge_np(gram_row: dict, d: int, lam: float) -> np.ndarray:
    """General-d driver-side solve from a collected gram row (tiny)."""
    A = np.zeros((d + 1, d + 1))
    b = np.zeros(d + 1)
    for i in range(d):
        for j in range(i, d):
            A[i, j] = A[j, i] = gram_row[f"m_{i}_{j}"]
        A[i, d] = A[d, i] = gram_row[f"m_{i}_b"]
        b[i] = gram_row[f"v_{i}"]
    A[d, d] = 1.0
    b[d] = gram_row["v_b"]
    A += lam * np.eye(d + 1)
    return np.linalg.solve(A, b)


# Shared Cramer solve for d=2 (+ bias): identical text runs in Spark SQL and
# DuckDB so the arithmetic tree — hence the IEEE result — is identical.
# Expects a relation {g} with columns m_0_0, m_0_1, m_0_b, m_1_1, m_1_b,
# v_0, v_1, v_b, n; lam is substituted literally.
CRAMER_2D_SQL = """
SELECT
  n,
  round((v_0 * (dd * ff - ee * ee) - bb * (v_1 * ff - ee * v_b) + cc * (v_1 * ee - dd * v_b)) / det, 6) AS w0,
  round((aa * (v_1 * ff - v_b * ee) - v_0 * (bb * ff - cc * ee) + cc * (bb * v_b - v_1 * cc)) / det, 6) AS w1,
  round((aa * (dd * v_b - ee * v_1) - bb * (bb * v_b - cc * v_1) + v_0 * (bb * ee - cc * dd)) / det, 6) AS bias
FROM (
  SELECT n, v_0, v_1, v_b,
         m_0_0 + {lam} AS aa, m_0_1 AS bb, m_0_b AS cc,
         m_1_1 + {lam} AS dd, m_1_b AS ee, 1.0 + {lam} AS ff,
         (m_0_0 + {lam}) * ((m_1_1 + {lam}) * (1.0 + {lam}) - m_1_b * m_1_b)
         - m_0_1 * (m_0_1 * (1.0 + {lam}) - m_1_b * m_0_b)
         + m_0_b * (m_0_1 * m_1_b - (m_1_1 + {lam}) * m_0_b) AS det
  FROM {g}
)
"""


# ---------------------------------------------------------------------------
# The registered ORR learner (PipelineMap.scala:68 dispatches "ORR" by name)
# ---------------------------------------------------------------------------
#
# State = the sufficient statistics, as EXACT INTEGERS: sxx (upper triangle
# of Σ q̃q̃ᵀ with q = round(x*Q)), sxy (Σ q̃·qy), n — plus the solved weights
# w. Integer sums are order-independent and exactly mergeable across any
# partitioning/batching, so the streaming loop's ORR is deterministic and a
# DuckDB oracle reproduces it bit-for-bit (same envelope note as
# queries.py POINTS_SQL: Spark aggregates DECIMAL(38,0), DuckDB HUGEINT,
# driver accumulates Python ints — nothing overflows).
#
# The trainer dispatches on ``closed_form`` to fit_dataframe(): ONE Catalyst
# aggregation per batch (map-side combinable, whole-stage codegen — the
# treeAggregate normal-equations shape), a tiny driver solve, one more
# aggregation for the batch SSE. No Python in the per-row path.

GRAM_QUANT = 1_000_000
DEFAULT_LAMBDA = 0.1

from .base import Learner, register  # noqa: E402


def _tri(d: int) -> list[tuple[int, int]]:
    """Upper-triangle index pairs for the (d+1)-dim augmented [x, 1] vector;
    bias products reduce to plain sums so only x-x pairs are stored."""
    return [(i, j) for i in range(d) for j in range(i, d)]


@register
class ORRLearner(Learner):
    name = "ORR"
    is_classifier = False
    closed_form = True  # trainer.fit routes to fit_dataframe

    def init_state(self, dim: int, hyper: dict) -> dict:
        d = dim
        return {
            "n": 0,
            "cum_loss": 0.0,
            "sxx": [0] * len(_tri(d)),   # Σ q_i*q_j, exact ints
            "sx": [0] * d,               # Σ q_i        (bias cross terms)
            "sxy": [0] * d,              # Σ q_i*qy
            "sy": 0,                     # Σ qy
            "w": np.zeros(d + 1),        # solved [w_0..w_{d-1}, bias]
        }

    # -- numpy path (tests / non-DataFrame callers) -------------------------

    def partial_fit(self, X: np.ndarray, y: np.ndarray, state: dict, hyper: dict) -> dict:
        quant = int(float(hyper.get("quant", GRAM_QUANT)))
        # Spark's round(v, 0) (half away from zero), as Python ints: the
        # same integers fit_dataframe's DECIMAL sums add
        qX, qy = (np.frompyfunc(int, 1, 1)(
            spark_round(np.asarray(a, dtype=float) * quant)) for a in (X, y))
        d = qX.shape[1]
        sxx = [int(v) for v in np.asarray(state["sxx"]).ravel()]
        for t, (i, j) in enumerate(_tri(d)):
            sxx[t] += int((qX[:, i] * qX[:, j]).sum())
        state = dict(state)
        state["sxx"] = sxx
        state["sx"] = [int(a) + int(b) for a, b in zip(
            np.asarray(state["sx"]).ravel(), qX.sum(axis=0))]
        state["sxy"] = [int(a) + int((qX[:, i] * qy).sum())
                        for i, a in enumerate(np.asarray(state["sxy"]).ravel())]
        state["sy"] = int(state["sy"]) + int(qy.sum())
        state["n"] = int(state["n"]) + len(qX)
        state["w"] = self._solve(state, d, hyper)
        err = self.predict(X, state) - np.asarray(y, dtype=float)
        state["cum_loss"] = float(state["cum_loss"]) + float((err * err).sum())
        return state

    def merge(self, states: list[dict]) -> dict:
        """Sufficient statistics SUM exactly — no weighted averaging."""
        d = len(np.asarray(states[0]["sx"]).ravel())
        out = {
            "n": sum(int(s["n"]) for s in states),
            "cum_loss": sum(float(s["cum_loss"]) for s in states),
            "sxx": [sum(int(np.asarray(s["sxx"]).ravel()[t]) for s in states)
                    for t in range(len(_tri(d)))],
            "sx": [sum(int(np.asarray(s["sx"]).ravel()[i]) for s in states)
                   for i in range(d)],
            "sxy": [sum(int(np.asarray(s["sxy"]).ravel()[i]) for s in states)
                    for i in range(d)],
            "sy": sum(int(s["sy"]) for s in states),
        }
        out["w"] = self._solve(out, d, {})
        return out

    def _gram_doubles(self, state: dict, d: int, quant: int) -> dict:
        """Integer sums -> averaged double Gram entries. Operation sequence
        mirrors the oracle SQL: each int -> double FIRST, then one divide."""
        n = int(state["n"])
        nd = float(n)
        q = float(quant)
        g: dict = {"n": n}
        for t, (i, j) in enumerate(_tri(d)):
            g[f"m_{i}_{j}"] = float(int(np.asarray(state["sxx"]).ravel()[t])) / (nd * q * q)
        for i in range(d):
            g[f"m_{i}_b"] = float(int(np.asarray(state["sx"]).ravel()[i])) / (nd * q)
            g[f"v_{i}"] = float(int(np.asarray(state["sxy"]).ravel()[i])) / (nd * q * q)
        g["v_b"] = float(int(state["sy"])) / (nd * q)
        return g

    def _solve(self, state: dict, d: int, hyper: dict,
               spark=None) -> np.ndarray:
        if int(state["n"]) == 0:
            return np.zeros(d + 1)
        lam = float(hyper.get("lambda", DEFAULT_LAMBDA))
        quant = int(float(hyper.get("quant", GRAM_QUANT)))
        g = self._gram_doubles(state, d, quant)
        if d == 2 and spark is not None:
            # run the SHARED Cramer text so the weights are bit-identical
            # to the DuckDB oracle (round 6 happens inside the SQL)
            import uuid

            view = f"omldm_orr_gram_{uuid.uuid4().hex[:8]}"
            spark.createDataFrame([g]).createOrReplaceTempView(view)
            w = spark.sql(CRAMER_2D_SQL.format(g=view, lam=lam)).first()
            spark.catalog.dropTempView(view)
            return np.array([w["w0"], w["w1"], w["bias"]])
        return solve_ridge_np(g, d, lam)

    def predict(self, X: np.ndarray, state: dict) -> np.ndarray:
        w = np.asarray(state["w"], dtype=float)
        return np.asarray(X, dtype=float) @ w[:-1] + w[-1]

    def loss(self, X: np.ndarray, y: np.ndarray, state: dict) -> float:
        err = self.predict(X, state) - np.asarray(y, dtype=float)
        return float(np.mean(err * err))

    # -- Catalyst path (the trainer's closed_form dispatch) -----------------

    def fit_dataframe(
        self,
        points: DataFrame,
        dim: int,
        hyper: dict,
        *,
        features_col: str = "features",
        label_col: str = "label",
        init_state: dict | None = None,
        part_col: str | None = None,
    ) -> dict:
        """One exact-integer Gram aggregation over the batch + driver solve +
        one SSE aggregation (cum_loss, computed with the POST-solve weights —
        the closed-form analogue of prequential loss).

        The SSE is a double sum, so its last bits depend on the order Spark
        adds in: each partition left to right, then the partitions' sums in
        partition order. ``part_col`` names a column holding the partition
        each row came from in a frame the rows were collected from; the SSE
        is then summed per such partition and the sums added in that order,
        as the aggregate over the original frame adds them."""
        quant = int(float(hyper.get("quant", GRAM_QUANT)))
        state = init_state or self.init_state(dim, hyper)
        d = dim

        def el(i):
            return f"element_at({sql_col(features_col)}, {i + 1})"

        def q(c):
            return f"CAST(round({c} * {quant}, 0) AS DECIMAL(38,0))"

        y = sql_col(label_col)
        aggs = ["CAST(count(1) AS BIGINT) AS n"]
        for t, (i, j) in enumerate(_tri(d)):
            aggs.append(f"sum({q(el(i))} * {q(el(j))}) AS sxx_{t}")
        for i in range(d):
            aggs.append(f"sum({q(el(i))}) AS sx_{i}")
            aggs.append(f"sum({q(el(i))} * {q(y)}) AS sxy_{i}")
        aggs.append(f"sum({q(y)}) AS sy")
        row = points.selectExpr(*aggs).first()
        if int(row["n"]) == 0:
            return state

        state = dict(state)
        state["sxx"] = [int(np.asarray(state["sxx"]).ravel()[t]) + int(row[f"sxx_{t}"])
                        for t in range(len(_tri(d)))]
        state["sx"] = [int(np.asarray(state["sx"]).ravel()[i]) + int(row[f"sx_{i}"])
                       for i in range(d)]
        state["sxy"] = [int(np.asarray(state["sxy"]).ravel()[i]) + int(row[f"sxy_{i}"])
                        for i in range(d)]
        state["sy"] = int(state["sy"]) + int(row["sy"])
        state["n"] = int(state["n"]) + int(row["n"])
        state["w"] = self._solve(state, d, hyper, spark=points.sparkSession)

        w = state["w"]
        pred = " + ".join([sql_double(w[-1])]
                          + [f"{sql_double(w[i])} * {el(i)}" for i in range(d)])
        err = f"({y} - ({pred}))"
        if part_col is None:
            sse = points.selectExpr(f"sum({err} * {err}) AS sse").first()["sse"]
        else:
            sse = None
            parts = points.groupBy(part_col).agg(
                F.expr(f"sum({err} * {err})").alias("s")).collect()
            for r in sorted(parts, key=lambda r: r[part_col]):
                if r["s"] is not None:
                    sse = r["s"] if sse is None else sse + r["s"]
        state["cum_loss"] = float(state["cum_loss"]) + float(sse or 0.0)
        return state


def cramer_sql(d: int) -> str:
    """Generate the shared Cramer solve text for general ``d`` (+ bias):
    one SELECT over a relation {g} (gram_aggregate column layout), solving
    (A + lam*I) w = b by Leibniz-expansion determinants. The SAME generated
    text runs in Spark SQL and DuckDB, so the floating-point operation tree
    — hence the IEEE result — is identical on both engines (the d=2 case
    is the hand-written CRAMER_2D_SQL above; this generalizes the recipe;
    reference ORR solves arbitrary d, mlAPI ORR.scala).

    (d+1)! terms per determinant — intended for the small-d closed-form
    regime (d <= 4); beyond that use solve_ridge_np driver-side.
    """
    from itertools import permutations

    m = d + 1

    def entry(i: int, j: int) -> str:
        # matrix text with ridge lam added on the diagonal; {lam} is a
        # substitution slot like in CRAMER_2D_SQL
        if i == d and j == d:
            return "(1.0 + {lam})"
        if i == d:
            return f"m_{j}_b"
        if j == d:
            return f"m_{i}_b"
        lo, hi = min(i, j), max(i, j)
        base = f"m_{lo}_{hi}"
        return f"({base} + {{lam}})" if i == j else base

    def rhs(i: int) -> str:
        return "v_b" if i == d else f"v_{i}"

    def det_text(col_replaced: int | None) -> str:
        terms = []
        for perm in permutations(range(m)):
            sign = 1
            p = list(perm)
            # permutation parity by counting inversions
            inv = sum(
                1 for a in range(m) for b in range(a + 1, m) if p[a] > p[b]
            )
            sign = -1 if inv % 2 else 1
            factors = [
                rhs(r) if perm[r] == col_replaced else entry(r, perm[r])
                for r in range(m)
            ]
            terms.append(("- " if sign < 0 else "+ ") + " * ".join(factors))
        return "(" + " ".join(terms).lstrip("+ ") + ")"

    det = det_text(None)
    outs = ["n"]
    for k in range(m):
        name = "bias" if k == d else f"w{k}"
        outs.append(f"round({det_text(k)} / {det}, 6) AS {name}")
    return "SELECT " + ", ".join(outs) + " FROM {g}"
