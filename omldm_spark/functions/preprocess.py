"""Preprocessors: StandardScaler, MinMaxScaler, PolynomialFeatures.

Reference whitelist (src/main/scala/omldm/utils/parsers/requestStream/
PipelineMap.scala:67): pipelines may chain PolynomialFeatures,
StandardScaler, MinMaxScaler before the learner (external implementations in
the mlAPI library; semantics below follow the standard published
definitions, matching pyspark.ml.feature counterparts).

Spark-first shape: fit = ONE aggregation producing a one-row stats frame;
transform = broadcast that row and apply pure column arithmetic — zero
Python, zero extra shuffles. In streaming these stats become running
moments in the training-loop state (SURVEY.md §7 step 5), and the
training-path chain (``apply_chain``) applies them as ``array(...)``
literals inside ``transform`` lambdas: interpreted ``CodegenFallback``
expressions, so each batch's new stats reuse the generated code instead of
compiling fresh classes. Over a collected micro-batch the same chain runs in
numpy on the driver, with the same result bits.
"""

from __future__ import annotations

import math
import operator
from itertools import combinations_with_replacement

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .vector import list_column, matrix, spark_round, sql_col, sql_double


def standard_scaler_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column mean and population std — one pass, one tiny row.

    E[x] and E[x^2] are the sufficient statistics; std = sqrt(E[x^2]-E[x]^2)
    (population variant, matching pyspark.ml StandardScaler withStd default
    up to the n/(n-1) factor which callers can apply).
    """
    aggs = []
    for c in cols:
        aggs.append(F.avg(F.col(c)).alias(f"mean_{c}"))
        aggs.append(
            F.sqrt(F.avg(F.col(c) * F.col(c)) - F.avg(F.col(c)) * F.avg(F.col(c)))
            .alias(f"std_{c}")
        )
    return df.agg(*aggs)


def standard_scale(df: DataFrame, cols: list[str], stats: DataFrame) -> DataFrame:
    """z = (x - mean)/std via a broadcast one-row join."""
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        out = out.withColumn(
            f"{c}_scaled",
            (F.col(c) - F.col(f"mean_{c}")) / F.col(f"std_{c}"),
        )
    return out.drop(*[f"mean_{c}" for c in cols], *[f"std_{c}" for c in cols])


def minmax_scaler_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    aggs = []
    for c in cols:
        aggs.append(F.min(F.col(c)).alias(f"min_{c}"))
        aggs.append(F.max(F.col(c)).alias(f"max_{c}"))
    return df.agg(*aggs)


def minmax_scale(df: DataFrame, cols: list[str], stats: DataFrame) -> DataFrame:
    """x' = (x - min)/(max - min); constant columns map to 0.5 (the
    pyspark.ml MinMaxScaler convention for max == min)."""
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        rng = F.col(f"max_{c}") - F.col(f"min_{c}")
        out = out.withColumn(
            f"{c}_scaled",
            F.when(rng > 0, (F.col(c) - F.col(f"min_{c}")) / rng).otherwise(0.5),
        )
    return out.drop(*[f"min_{c}" for c in cols], *[f"max_{c}" for c in cols])


def polynomial_features(df: DataFrame, cols: list[str], degree: int = 2) -> DataFrame:
    """Degree-N expansion over flat columns: all monomials of degree 1..N in
    combinations-with-replacement order (x0, x1, deg2 -> x0, x1, x0_x0,
    x0_x1, x1_x1; deg3 appends x0_x0_x0 ...) — the column order of
    pyspark.ml PolynomialExpansion."""
    if degree < 1:
        raise ValueError("degree must be >= 1")
    out = df
    for d in range(2, degree + 1):
        for combo in combinations_with_replacement(cols, d):
            e = F.col(combo[0])
            for c in combo[1:]:
                e = e * F.col(c)
            out = out.withColumn("_".join(combo), e)
    return out


# ---------------------------------------------------------------------------
# Training-path chain over ARRAY<DOUBLE> feature columns
# ---------------------------------------------------------------------------
#
# The reference chains preprocessors before the learner inside each pipeline
# (PipelineMap.scala:25-29 validates the chain; the learner struct carries it
# to every worker, FlinkNetwork.scala:160-176). Here the chain is applied to
# the ``features`` array column inside the training loop, with scaler fit
# statistics kept as RUNNING MOMENTS in the pipeline spec — the streaming
# analogue of mlAPI's online scalers.
#
# Exactness design (same quantized-aggregation envelope as the ORR Gram,
# queries.py POINTS_SQL note): scaler moments are sums of round(x*Q) integers
# aggregated as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — exact and
# ORDER-INDEPENDENT, so the fitted transform is deterministic regardless of
# partitioning, and a DuckDB oracle reproduces it bit-for-bit. The mean/std
# derivation below mirrors, operation for operation, the SQL text in
# scaler_stats_sql(); keep the two in sync.
#
# Each step also has a numpy form for the collected micro-batch the training
# loop handles on the driver (``apply_chain`` over a pyarrow Table), equal to
# the Catalyst form bit for bit. Spark's round(v, 0) of a double rounds half
# away from zero on the exact double: it rounds v's shortest decimal string,
# and every decimal string that parses back to v lies on the same side of
# k.5 as v, so ``vector.spark_round`` reproduces the quantizer of the moments
# and of the RobustScaler histogram, summed as Python ints. The transforms
# repeat the SQL's IEEE operations in its order, and a comparison treats
# NaN as Spark does, larger than every double.

STATS_QUANT = 1_000_000  # 1e-6 feature resolution for scaler fit stats
ROBUST_QUANT = 100  # RobustScaler histogram grid (cents)


def _el(col: str, i: int) -> str:
    """SQL text of element ``i`` (0-based) of the array column ``col``."""
    return f"element_at({sql_col(col)}, {i + 1})"


def _array(els: list[str]):
    """One ``array(...)`` column from SQL element texts, parsed in one call."""
    return F.expr(f"array({', '.join(els)})")


def _scale_by_state(col: str, shift, scale, otherwise: str):
    """Per-element ``(x_i - shift_i) / scale_i``, or ``otherwise`` (SQL text)
    where ``scale_i`` is not positive, over the ARRAY<DOUBLE> column
    ``col``.

    The scaler state enters as ``array(...)`` literals inside ``transform``
    lambdas. ``transform`` is a ``CodegenFallback``, interpreted and reached
    through the generated code's ``references``, so a new state compiles no
    new class (a literal outside one is written into the Java source). The
    output has one element per index 0..len(shift)-1 whatever ``col``
    holds: a short array leaves NULLs (or an ANSI index error) where a
    scaled element is missing, a NULL array gives NULL elements, and
    ``otherwise`` never reads ``x``. ``col`` is bound once as the lambda
    variable ``x`` of a one-element ``transform``: referenced directly from
    the per-element lambda, the optimizer would inline an upstream chain
    step's array into it and re-evaluate that array once per element."""
    dim = len(shift)
    s = "array(" + ", ".join(
        sql_double(v if v > 0 else 0.0) for v in scale) + ")"
    m = "array(" + ", ".join(sql_double(v) for v in shift) + ")"
    body = (f"CASE WHEN element_at({s}, i + 1) > 0.0D THEN "
            f"(element_at(x, i + 1) - element_at({m}, i + 1)) / "
            f"element_at({s}, i + 1) ELSE {otherwise} END")
    return F.expr(
        f"element_at(transform(array({sql_col(col)}), x -> "
        f"transform(sequence(0, {dim - 1}), i -> {body})), 1)")


def poly_expand_expr(col: str, dim: int, degree: int):
    """(array expression, out_dim) for degree-1..N monomial expansion of an
    ARRAY<DOUBLE> column. ``col`` must be a materialized column, not an
    inline expression (array lambdas re-evaluate inline inputs per element)."""
    if degree < 1:
        raise ValueError("degree must be >= 1")
    terms = [
        " * ".join(_el(col, i) for i in combo)
        for d in range(1, degree + 1)
        for combo in combinations_with_replacement(range(dim), d)
    ]
    return _array(terms), len(terms)


def poly_expand_np(X: np.ndarray, degree: int) -> np.ndarray:
    """:func:`poly_expand_expr`'s terms over the rows of ``X``, each
    monomial multiplied left to right as the SQL text does."""
    if degree < 1:
        raise ValueError("degree must be >= 1")
    terms = []
    for combo in (c for d in range(1, degree + 1)
                  for c in combinations_with_replacement(range(X.shape[1]), d)):
        t = X[:, combo[0]]
        for i in combo[1:]:
            t = t * X[:, i]
        terms.append(t)
    return np.stack(terms, axis=1)


def _normalize_expr(col: str, dim: int):
    """Row-local L2 over the ARRAY<DOUBLE> column ``col``: x_i / ||x||, or
    0.0 where the norm is not positive (Spark orders NaN above every
    double, so a NaN norm counts as positive)."""
    norm = "sqrt(" + " + ".join(
        ["0.0D"] + [f"{_el(col, i)} * {_el(col, i)}" for i in range(dim)]
    ) + ")"
    return _array([
        f"CASE WHEN {norm} > 0 THEN {_el(col, i)} / {norm} ELSE 0.0D END"
        for i in range(dim)
    ])


def _normalize_np(X: np.ndarray) -> np.ndarray:
    """:func:`_normalize_expr` over the rows of ``X``, bit for bit."""
    acc = np.zeros(len(X))
    for i in range(X.shape[1]):
        acc = acc + X[:, i] * X[:, i]
    norm = np.sqrt(acc)[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where((norm > 0) | np.isnan(norm), X / norm, 0.0)


def _scale_np(X: np.ndarray, shift, scale, otherwise: float) -> np.ndarray:
    """:func:`_scale_by_state` over the rows of ``X``, bit for bit."""
    s = np.array([v if v > 0 else 0.0 for v in scale], dtype=float)
    pos = s > 0
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(pos, (X - np.asarray(shift, dtype=float))
                        / np.where(pos, s, 1.0), otherwise)


def _moment_aggs(col: str, dim: int, quant: int) -> list[str]:
    """One aggregation (``selectExpr`` list) producing exact integer moments
    per element: n, s_i = Σ round(x_i*Q), ss_i = Σ round(x_i*Q)^2, mn_i, mx_i."""
    aggs = ["CAST(count(1) AS BIGINT) AS n"]
    for i in range(dim):
        q = f"CAST(round({_el(col, i)} * {quant}, 0) AS DECIMAL(38,0))"
        aggs += [f"sum({q}) AS s_{i}", f"sum({q} * {q}) AS ss_{i}",
                 f"CAST(min({q}) AS BIGINT) AS mn_{i}",
                 f"CAST(max({q}) AS BIGINT) AS mx_{i}"]
    return aggs


def _moment_row_np(X: np.ndarray, quant: int) -> dict:
    """:func:`_moment_aggs`' one row, over the rows of ``X`` on the driver.
    Spark's DECIMAL cast turns a NaN or infinite ``round(x*Q, 0)`` into
    NULL, which ``count(1)`` counts and the sums, min and max skip. A
    finite value outside BIGINT fails the min/max cast, and a sum of
    squares of 10^38 or more the DECIMAL(38,0) sum, in Spark (ANSI), and
    raises here."""
    Q = spark_round(X * quant)
    fin = Q[np.isfinite(Q)]
    if not ((fin >= -2.0 ** 63) & (fin < 2.0 ** 63)).all():
        raise ArithmeticError(
            "scaler moments: a quantized feature value does not fit BIGINT")
    row: dict = {"n": len(X)}
    for i in range(X.shape[1]):
        q = [int(v) for v in Q[np.isfinite(Q[:, i]), i]]
        row[f"s_{i}"] = sum(q) if q else None
        row[f"ss_{i}"] = sum(v * v for v in q) if q else None
        if q and row[f"ss_{i}"] >= 10 ** 38:
            raise ArithmeticError(
                "scaler moments: a sum of squares does not fit DECIMAL(38,0)")
        row[f"mn_{i}"] = min(q, default=None)
        row[f"mx_{i}"] = max(q, default=None)
    return row


def _merge_moments(state: dict | None, row, dim: int) -> dict:
    """Fold one batch's moment row into the running state (Python ints —
    arbitrary precision, so the driver-side accumulation never overflows).
    A dimension with no finite value in the batch (NULL sums, min and max)
    adds nothing to its sums and keeps its min/max; before its first
    finite value its min/max are None, and it scales as a constant
    column."""
    if not state or not int(state.get("n", 0)):
        state = {"n": 0, "s": [0] * dim, "ss": [0] * dim,
                 "mn": [None] * dim, "mx": [None] * dim}

    def fold(key, op):
        new = (row[f"{key}_{i}"] for i in range(dim))
        return [a if b is None else int(b) if a is None else op(int(a), int(b))
                for a, b in zip(state[key], new)]

    return {"n": int(state["n"]) + int(row["n"]),
            "s": fold("s", operator.add), "ss": fold("ss", operator.add),
            "mn": fold("mn", min), "mx": fold("mx", max)}


def mean_std_from_moments(state: dict, i: int, quant: int = STATS_QUANT):
    """Population mean/std from integer moments. The float operation
    sequence MIRRORS scaler_stats_sql() exactly: each int is converted to
    double first, then divided — identical IEEE ops on identical operands."""
    n = int(state["n"])
    mean = float(int(state["s"][i])) / (float(n) * float(quant))
    var = float(int(state["ss"][i])) / (float(n) * float(quant) * float(quant)) - mean * mean
    std = math.sqrt(var) if var > 0 else 0.0
    return mean, std


def min_max_from_moments(state: dict, i: int, quant: int = STATS_QUANT):
    if state["mn"][i] is None:
        return 0.0, 0.0  # no finite value yet: a constant column
    lo = float(int(state["mn"][i])) / float(quant)
    hi = float(int(state["mx"][i])) / float(quant)
    return lo, hi


def scaler_stats_sql(inner_sql: str, exprs: list[str], quant: int = STATS_QUANT) -> str:
    """DuckDB oracle for the running moments of ONE fit pass over
    ``inner_sql`` (columns given by ``exprs``): mean_i/std_i/min_i/max_i with
    the identical double derivation as mean_std_from_moments()."""
    q = f"{quant}.0"
    parts = ["CAST(count(*) AS BIGINT) AS n"]
    for i, x in enumerate(exprs):
        qi = f"CAST(round(({x}) * {q}, 0) AS HUGEINT)"
        parts.append(f"CAST(sum({qi}) AS DOUBLE) AS s_{i}")
        parts.append(f"CAST(sum({qi} * {qi}) AS DOUBLE) AS ss_{i}")
        parts.append(f"CAST(min({qi}) AS DOUBLE) AS mn_{i}")
        parts.append(f"CAST(max({qi}) AS DOUBLE) AS mx_{i}")
    inner = f"SELECT {', '.join(parts)} FROM ({inner_sql})"
    outs = ["n"]
    for i in range(len(exprs)):
        mean = f"s_{i} / (CAST(n AS DOUBLE) * {q})"
        var = f"ss_{i} / (CAST(n AS DOUBLE) * {q} * {q}) - ({mean}) * ({mean})"
        outs.append(f"({mean}) AS mean_{i}")
        outs.append(f"CASE WHEN ({var}) > 0 THEN sqrt({var}) ELSE 0.0 END AS std_{i}")
        outs.append(f"mn_{i} / {q} AS min_{i}")
        outs.append(f"mx_{i} / {q} AS max_{i}")
    return f"SELECT {', '.join(outs)} FROM ({inner})"


def _hyper(p: dict) -> dict:
    return {k: v for k, v in (p.get("hyperParameters") or {}).items()}


def _scaler_transform(name: str, st: dict, dim: int, quant: int):
    """(shift, scale, otherwise) of a fitted scaler: its transform is
    ``(x_i - shift_i) / scale_i``, or ``otherwise`` where ``scale_i`` is not
    positive."""
    if name == "RobustScaler":
        ks = st.get("k", [0] * dim)
        shift, scale = [], []
        for i in range(dim):
            # a dim with no finite value yet scales as a constant column
            p25, p50, p75 = _hist_quantiles(st["h"][i] or {0: 1},
                                            (0.25, 0.5, 0.75))
            # histogram keys live at grid level k: one bin spans 2^k
            # quanta, so map back to the value scale before building the
            # (exact-at-k=0) scaling expression
            grid = 1 << ks[i]
            p25, p50, p75 = p25 * grid, p50 * grid, p75 * grid
            shift.append(float(p50) / ROBUST_QUANT)
            scale.append(float(p75 - p25) / ROBUST_QUANT)
        return shift, scale, 0.0
    if name == "StandardScaler":
        shift, scale = zip(*(mean_std_from_moments(st, i, quant)
                             for i in range(dim)))
        return list(shift), list(scale), 0.0
    lo, hi = zip(*(min_max_from_moments(st, i, quant) for i in range(dim)))
    if name == "MaxAbsScaler":
        # max|x| falls out of the running min/max moments — no new state
        # shape for the streaming chain; the zero shift keeps x / max|x|
        # bit for bit (x - 0.0 is x)
        return [0.0] * dim, [max(abs(a), abs(b)) for a, b in zip(lo, hi)], 0.0
    return list(lo), [b - a for a, b in zip(lo, hi)], 0.5


def apply_chain(
    df: DataFrame | pa.Table,
    preprocessors: list[dict],
    features_col: str,
    dim: int,
    state: list | None = None,
    *,
    update: bool = True,
    out_col: str = "_pp_features",
    quant: int = STATS_QUANT,
    robust_hist_max: int = 8192,
):
    """Apply the pipeline's preprocessor chain to an ARRAY<DOUBLE> column.

    Returns ``(df_with_out_col, out_dim, new_state)``. ``state`` is a list
    aligned with ``preprocessors`` holding each scaler's running integer
    moments (JSON-serializable; lives in PipelineSpec.preproc_state). With
    ``update=True`` each scaler first folds this DataFrame's moments into its
    running state (one tiny JVM-side aggregation per scaler — the per-batch
    fit step); with ``update=False`` (prediction path) the stored stats are
    applied as-is, matching the reference's transform-only scoring. The
    chain's step columns are named after ``out_col``, so several chains can
    add their outputs to one frame.

    ``df`` may instead be a pyarrow Table whose every ``features_col`` row
    holds ``dim`` non-null doubles (the training loop's collected
    micro-batch). The same steps then run in numpy on the driver, with no
    Spark job, and only ``out_col`` is appended: the fitted state and the
    output bits are the Catalyst form's (see the exactness note above).
    """
    driver = isinstance(df, pa.Table)
    state = list(state) if state else [None] * len(preprocessors)
    if len(state) < len(preprocessors):
        state = state + [None] * (len(preprocessors) - len(state))
    cur, cur_dim = features_col, dim
    X = matrix(df.column(features_col), dim) if driver else None
    for idx, p in enumerate(preprocessors):
        name = p.get("name")
        if name == "PolynomialFeatures":
            degree = int(_hyper(p).get("degree", 2))
            if driver:
                X = poly_expand_np(X, degree)
                cur_dim = X.shape[1]
            else:
                expr, cur_dim = poly_expand_expr(cur, cur_dim, degree)
        elif name == "Normalizer":
            # stateless row-local L2: no fit pass, no state slot
            if driver:
                X = _normalize_np(X)
            else:
                expr = _normalize_expr(cur, cur_dim)
        elif name in ("StandardScaler", "MinMaxScaler", "MaxAbsScaler",
                      "RobustScaler"):
            if update and name == "RobustScaler":
                # state = per-dim value-count histogram over round(x*RQ)
                # integers: exact, batching-order-proof (counter addition
                # is commutative), bounded by the DISTINCT quantized values
                # seen (RQ=100 -> cents grid), not by row count
                state[idx] = _robust_fit_batch(
                    *(_robust_source_np(X) if driver
                      else _robust_source_df(df, cur, cur_dim)),
                    cur_dim, state[idx], robust_hist_max,
                )
            elif update:
                row = (_moment_row_np(X, quant) if driver else
                       df.selectExpr(*_moment_aggs(cur, cur_dim, quant)).first())
                if int(row["n"]) > 0:
                    state[idx] = _merge_moments(state[idx], row, cur_dim)
            st = state[idx]
            if st is None and not update:
                raise ValueError(
                    f"{name} at chain position {idx} has no fitted stats; "
                    "transform-only application requires a prior fit pass"
                )
            if st is None or (name == "RobustScaler" and not any(st["h"])):
                # nothing fitted yet and this fit frame is empty: there is
                # no row to scale, so the column passes through
                expr = F.col(cur)
            else:
                shift, scale, other = _scaler_transform(name, st, cur_dim,
                                                        quant)
                if driver:
                    X = _scale_np(X, shift, scale, other)
                else:
                    expr = _scale_by_state(cur, shift, scale,
                                           sql_double(other))
        else:
            raise ValueError(f"unknown preprocessor {name!r}")
        if not driver:
            tmp = f"{out_col}_{idx}"
            df = df.withColumn(tmp, expr)
            cur = tmp
    if driver:
        return df.append_column(out_col, list_column(X)), cur_dim, state
    df = df.withColumn(out_col, F.col(cur))
    return df, cur_dim, state


def maxabs_scaler_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column max(|x|) — one pass, one tiny row (pyspark.ml
    MaxAbsScaler counterpart; beyond the reference whitelist, SURVEY.md
    §2.11). The statistic is a plain max, so it merges across batches /
    partitions / days exactly — which is why the streaming chain derives
    it from the SAME running min/max moments the other scalers keep."""
    return df.agg(*[
        F.max(F.abs(F.col(c))).alias(f"maxabs_{c}") for c in cols
    ])


def maxabs_scale(df: DataFrame, cols: list[str], stats: DataFrame) -> DataFrame:
    """x' = x / max|x| (sparsity-preserving — zero stays zero; an all-zero
    column maps to 0.0) via a broadcast one-row join."""
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        out = out.withColumn(
            f"{c}_scaled",
            F.when(F.col(f"maxabs_{c}") > 0,
                   F.col(c) / F.col(f"maxabs_{c}")).otherwise(F.lit(0.0)),
        )
    return out.drop(*[f"maxabs_{c}" for c in cols])


def l2_normalize_expr(cols: list[str]):
    """Row-local L2 normalization expressions (pyspark.ml Normalizer
    counterpart): x_i / sqrt(sum x_j^2), zero vector -> 0.0.  Stateless —
    no fit pass, pure codegen arithmetic; sqrt and divide are both
    correctly-rounded IEEE ops so the result is engine-exact."""
    norm = F.sqrt(sum((F.col(c) * F.col(c) for c in cols), F.lit(0.0)))
    return [
        F.when(norm > 0, F.col(c) / norm).otherwise(F.lit(0.0)).alias(f"{c}_nrm")
        for c in cols
    ]


def robust_scaler_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column p25/p50/p75 over INTEGER-VALUED columns via the bounded
    histogram (one melted groupBy whose key space is the distinct
    quantized values, NOT the row count — the two-pass quantile shape
    that scales where rank-per-row doesn't; cf. grouped_quantiles'
    docstring).  Disc semantics: smallest v with cumulative count >=
    ceil(p*n) — a VALUE is picked, never interpolated, so the statistic
    is engine- and partitioning-exact."""
    from pyspark.sql import Window

    melted = df.select(
        F.posexplode(F.array(*[F.col(c).cast("long") for c in cols]))
        .alias("dim", "v")
    )
    hist = melted.groupBy("dim", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wd = Window.partitionBy("dim")
    wc = Window.partitionBy("dim").orderBy("v")
    r = (
        hist.withColumn("n", F.sum("c").over(wd))
        .withColumn("cum", F.sum("c").over(wc))
    )

    def pick(p: float, i: int, name: str):
        return F.min(
            F.when(
                (F.col("dim") == i)
                & (F.col("cum") >= F.ceil(F.lit(p) * F.col("n")).cast("long")),
                F.col("v"),
            )
        ).cast("long").alias(name)

    return r.agg(*[
        pick(p, i, f"{pn}_{c}")
        for i, c in enumerate(cols)
        for p, pn in [(0.25, "p25"), (0.50, "p50"), (0.75, "p75")]
    ])


def robust_scale(df: DataFrame, cols: list[str], stats: DataFrame) -> DataFrame:
    """x' = (x - median) / IQR via a broadcast one-row join; zero IQR
    (constant column) maps to 0.0."""
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        iqr = F.col(f"p75_{c}") - F.col(f"p25_{c}")
        out = out.withColumn(
            f"{c}_scaled",
            F.when(iqr > 0, (F.col(c) - F.col(f"p50_{c}")) / iqr)
             .otherwise(F.lit(0.0)),
        )
    return out.drop(*[f"{pn}_{c}" for c in cols
                      for pn in ("p25", "p50", "p75")])


def _robust_source_df(df: DataFrame, cur: str, cur_dim: int):
    """(probe, hist) of :func:`_robust_fit_batch` over the ARRAY<DOUBLE>
    column ``cur`` of ``df``: each a Spark job, collected. NULL, NaN and
    infinite values are skipped, as the moment scalers skip them (Spark
    orders NaN above every double, so ``abs(x) < inf`` holds only for a
    finite ``x``); a finite value whose quantized form does not fit
    BIGINT raises (ANSI ``CAST_OVERFLOW``)."""
    inf = sql_double(math.inf)
    raw = df.select(
        F.posexplode(_array([
            f"CASE WHEN abs({_el(cur, i)}) < {inf} THEN "
            f"CAST(round({_el(cur, i)} * {ROBUST_QUANT}, 0) AS BIGINT) END"
            for i in range(cur_dim)
        ])).alias("dim", "v")
    ).filter(F.col("v").isNotNull())

    def at_levels(levels):
        karr = f"array({', '.join(str(int(k)) for k in levels)})"
        return raw.withColumn(
            "kk", F.expr(f"element_at({karr}, dim + 1)")
        ).withColumn("vq", F.expr("shiftright(v, kk)"))

    def probe(ks):
        return {
            int(r["dim"]): (int(r["mn"]), int(r["mx"]), int(r["nb"]))
            for r in at_levels(ks).groupBy("dim").agg(
                F.min("v").alias("mn"), F.max("v").alias("mx"),
                F.countDistinct("vq").alias("nb"),
            ).collect()
        }

    def hist(ks):
        # the bounded histogram collect (<= ~hist_max rows per dim by the
        # range bound in _robust_fit_batch)
        return [
            (r["dim"], r["vq"], r["c"]) for r in at_levels(ks)
            .groupBy("dim", "vq")
            .agg(F.count(F.lit(1)).cast("long").alias("c")).collect()
        ]

    return probe, hist


def _robust_source_np(X: np.ndarray):
    """:func:`_robust_source_df` over the rows of ``X`` on the driver: NaN
    and infinite values are skipped, and a finite value whose quantized
    form does not fit BIGINT raises."""
    V = spark_round(X * ROBUST_QUANT)
    fin = np.isfinite(X)
    if not ((V[fin] >= -2.0 ** 63) & (V[fin] < 2.0 ** 63)).all():
        raise ArithmeticError(
            "RobustScaler: a quantized feature value does not fit BIGINT")
    cols = [V[fin[:, i], i].astype(np.int64) for i in range(V.shape[1])]

    def probe(ks):
        return {i: (int(c.min()), int(c.max()), len(np.unique(c >> ks[i])))
                for i, c in enumerate(cols) if len(c)}

    def hist(ks):
        return [(i, v, n) for i, c in enumerate(cols)
                for v, n in zip(*np.unique(c >> ks[i], return_counts=True))]

    return probe, hist


def _robust_fit_batch(probe, hist, cur_dim: int, st: dict | None,
                      hist_max: int) -> dict:
    """Fold one batch into the RobustScaler's per-dim value-count
    histogram state with a BOUNDED driver footprint (grid clamping).

    Each dim carries a coarsening level ``k``: histogram keys are
    ``shiftright(round(x*RQ), k)`` (arithmetic shift — floor semantics on
    negatives in Spark SQL and Python alike), so one bin spans ``2^k``
    quanta.  Before anything sizable is collected, a one-row-per-dim
    probe reads (min, max, distinct-bins); ``k`` is bumped until the
    range-derived bin bound fits ``hist_max/2``, which caps BOTH the
    collected batch histogram and the carried state deterministically —
    the driver never holds more than ~``hist_max`` entries per dim, no
    matter the value range.  At k=0 (any data whose quantized span fits
    the bound) the quantiles are exact and two-halves == full-batch state
    equality holds; at k>0 the disc quantile is exact on the coarse grid,
    i.e. within ``2^k/RQ`` of the true value.  Counter addition stays
    commutative, so batching order cannot change the state either way.
    ``probe(levels)`` returns {dim: (min, max, distinct bins at
    levels)} and ``hist(levels)`` the (dim, bin, count) triples of the
    batch (:func:`_robust_source_df` or :func:`_robust_source_np`)."""
    st = st or {"h": [dict() for _ in range(cur_dim)]}
    hs = [dict(h) for h in st["h"]]
    old = list(st.get("k", [0] * cur_dim))
    ks = list(old)
    target = max(2, hist_max // 2)
    probed = probe(ks)
    for i in range(cur_dim):
        if i not in probed:
            continue  # empty batch for this dim
        mn, mx, nb = probed[i]
        if nb + len(hs[i]) <= target:
            continue  # already fits at the current level
        while ((mx - mn) >> ks[i]) + 1 > target:
            ks[i] += 1
    # coarsen the carried state to the (possibly bumped) level; keep
    # halving past that until the state itself fits the bound
    for i in range(cur_dim):
        while True:
            d = ks[i] - old[i]
            if d and hs[i]:
                merged: dict = {}
                for v, c in hs[i].items():
                    key = str(int(v) >> d)
                    merged[key] = merged.get(key, 0) + int(c)
                hs[i] = merged
                old[i] = ks[i]
            if len(hs[i]) <= target or not hs[i]:
                break
            ks[i] += 1
    for dim_, vq, c in hist(ks):
        key = str(int(vq))
        hs[int(dim_)][key] = hs[int(dim_)].get(key, 0) + int(c)
    return {"h": hs, "k": ks}


def _hist_quantiles(hist: dict, ps: tuple) -> list[int]:
    """Disc quantiles from a {quantized_value: count} histogram: smallest
    v with cumulative count >= ceil(p*n) — the same rule as
    robust_scaler_stats, evaluated on the driver over the tiny histogram."""
    items = sorted((int(v), int(c)) for v, c in hist.items())
    n = sum(c for _, c in items)
    out = []
    for p in ps:
        rank = math.ceil(p * n)
        cum = 0
        val = items[-1][0]
        for v, c in items:
            cum += c
            if cum >= rank:
                val = v
                break
        out.append(val)
    return out
