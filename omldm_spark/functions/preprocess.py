"""Preprocessors: StandardScaler, MinMaxScaler, PolynomialFeatures.

Reference whitelist (src/main/scala/omldm/utils/parsers/requestStream/
PipelineMap.scala:67): pipelines may chain PolynomialFeatures,
StandardScaler, MinMaxScaler before the learner (external implementations in
the mlAPI library; semantics below follow the standard published
definitions, matching pyspark.ml.feature counterparts).

Spark-first shape: fit = ONE aggregation producing a one-row stats frame;
transform = broadcast that row and apply pure column arithmetic — zero
Python, zero extra shuffles, whole-stage codegen. In streaming these stats
become running moments in the training-loop state (SURVEY.md §7 step 5).
"""

from __future__ import annotations

from itertools import combinations_with_replacement

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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

STATS_QUANT = 1_000_000  # 1e-6 feature resolution for scaler fit stats


def _el(col: str, i: int):
    return F.element_at(F.col(col), i + 1)


def poly_expand_expr(col: str, dim: int, degree: int):
    """(array expression, out_dim) for degree-1..N monomial expansion of an
    ARRAY<DOUBLE> column. ``col`` must be a materialized column, not an
    inline expression (array lambdas re-evaluate inline inputs per element)."""
    if degree < 1:
        raise ValueError("degree must be >= 1")
    terms = []
    for d in range(1, degree + 1):
        for combo in combinations_with_replacement(range(dim), d):
            e = _el(col, combo[0])
            for idx in combo[1:]:
                e = e * _el(col, idx)
            terms.append(e)
    return F.array(*terms), len(terms)


def _moment_aggs(col: str, dim: int, quant: int):
    """One aggregation producing exact integer moments per element:
    n, s_i = Σ round(x_i*Q), ss_i = Σ round(x_i*Q)^2, mn_i, mx_i."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i in range(dim):
        q = F.round(_el(col, i) * quant, 0).cast("decimal(38,0)")
        aggs.append(F.sum(q).alias(f"s_{i}"))
        aggs.append(F.sum(q * q).alias(f"ss_{i}"))
        aggs.append(F.min(q).cast("long").alias(f"mn_{i}"))
        aggs.append(F.max(q).cast("long").alias(f"mx_{i}"))
    return aggs


def _merge_moments(state: dict | None, row, dim: int) -> dict:
    """Fold one batch's moment row into the running state (Python ints —
    arbitrary precision, so the driver-side accumulation never overflows)."""
    new = {
        "n": int(row["n"]),
        "s": [int(row[f"s_{i}"]) for i in range(dim)],
        "ss": [int(row[f"ss_{i}"]) for i in range(dim)],
        "mn": [int(row[f"mn_{i}"]) for i in range(dim)],
        "mx": [int(row[f"mx_{i}"]) for i in range(dim)],
    }
    if not state or not int(state.get("n", 0)):
        return new
    return {
        "n": int(state["n"]) + new["n"],
        "s": [int(a) + b for a, b in zip(state["s"], new["s"])],
        "ss": [int(a) + b for a, b in zip(state["ss"], new["ss"])],
        "mn": [min(int(a), b) for a, b in zip(state["mn"], new["mn"])],
        "mx": [max(int(a), b) for a, b in zip(state["mx"], new["mx"])],
    }


def mean_std_from_moments(state: dict, i: int, quant: int = STATS_QUANT):
    """Population mean/std from integer moments. The float operation
    sequence MIRRORS scaler_stats_sql() exactly: each int is converted to
    double first, then divided — identical IEEE ops on identical operands."""
    import math

    n = int(state["n"])
    mean = float(int(state["s"][i])) / (float(n) * float(quant))
    var = float(int(state["ss"][i])) / (float(n) * float(quant) * float(quant)) - mean * mean
    std = math.sqrt(var) if var > 0 else 0.0
    return mean, std


def min_max_from_moments(state: dict, i: int, quant: int = STATS_QUANT):
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


def apply_chain(
    df: DataFrame,
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
    applied as-is, matching the reference's transform-only scoring.
    """
    state = list(state) if state else [None] * len(preprocessors)
    if len(state) < len(preprocessors):
        state = state + [None] * (len(preprocessors) - len(state))
    cur, cur_dim = features_col, dim
    for idx, p in enumerate(preprocessors):
        name = p.get("name")
        tmp = f"_pp{idx}"
        if name == "PolynomialFeatures":
            degree = int(_hyper(p).get("degree", 2))
            expr, cur_dim = poly_expand_expr(cur, cur_dim, degree)
            df = df.withColumn(tmp, expr)
        elif name == "RobustScaler":
            # state = per-dim value-count histogram over round(x*RQ)
            # integers: exact, batching-order-proof (counter addition is
            # commutative), bounded by the DISTINCT quantized values seen
            # (RQ=100 -> cents grid), not by row count
            RQ = 100
            if update:
                state[idx] = _robust_fit_batch(
                    df, cur, cur_dim, state[idx], RQ, robust_hist_max
                )
            st = state[idx]
            if update and not any(st["h"]):
                # nothing fitted yet and this fit frame is empty: there is
                # no row to scale, so the column passes through
                df = df.withColumn(tmp, F.col(cur))
                cur = tmp
                continue
            if st is None:
                raise ValueError(
                    f"{name} at chain position {idx} has no fitted stats; "
                    "transform-only application requires a prior fit pass"
                )
            ks = st.get("k", [0] * cur_dim)
            els = []
            for i in range(cur_dim):
                p25, p50, p75 = _hist_quantiles(st["h"][i], (0.25, 0.5, 0.75))
                # histogram keys live at grid level k: one bin spans 2^k
                # quanta, so map back to the value scale before building
                # the (exact-at-k=0) scaling expression
                scale = 1 << ks[i]
                p25, p50, p75 = p25 * scale, p50 * scale, p75 * scale
                iqr = p75 - p25
                x = _el(cur, i)
                els.append(
                    (x - F.lit(float(p50) / RQ)) / F.lit(float(iqr) / RQ)
                    if iqr > 0 else F.lit(0.0)
                )
            df = df.withColumn(tmp, F.array(*els))
        elif name == "Normalizer":
            # stateless row-local L2: no fit pass, no state slot
            els = []
            norm = sum(
                (_el(cur, i) * _el(cur, i) for i in range(cur_dim)), F.lit(0.0)
            )
            norm = F.sqrt(norm)
            for i in range(cur_dim):
                x = _el(cur, i)
                els.append(F.when(norm > 0, x / norm).otherwise(F.lit(0.0)))
            df = df.withColumn(tmp, F.array(*els))
        elif name in ("StandardScaler", "MinMaxScaler", "MaxAbsScaler"):
            if update:
                row = df.agg(*_moment_aggs(cur, cur_dim, quant)).first()
                if int(row["n"]) > 0:
                    state[idx] = _merge_moments(state[idx], row, cur_dim)
            st = state[idx]
            if st is None and update:
                # nothing fitted yet and this fit frame is empty: there is
                # no row to scale, so the column passes through
                df = df.withColumn(tmp, F.col(cur))
                cur = tmp
                continue
            if st is None:
                raise ValueError(
                    f"{name} at chain position {idx} has no fitted stats; "
                    "transform-only application requires a prior fit pass"
                )
            els = []
            for i in range(cur_dim):
                x = _el(cur, i)
                if name == "StandardScaler":
                    mean, std = mean_std_from_moments(st, i, quant)
                    els.append(
                        (x - F.lit(mean)) / F.lit(std) if std > 0 else F.lit(0.0)
                    )
                elif name == "MaxAbsScaler":
                    # max|x| falls out of the running min/max moments —
                    # no new state shape for the streaming chain
                    lo, hi = min_max_from_moments(st, i, quant)
                    ma = max(abs(lo), abs(hi))
                    els.append(x / F.lit(ma) if ma > 0 else F.lit(0.0))
                else:
                    lo, hi = min_max_from_moments(st, i, quant)
                    rng = hi - lo
                    els.append(
                        (x - F.lit(lo)) / F.lit(rng) if rng > 0 else F.lit(0.5)
                    )
            df = df.withColumn(tmp, F.array(*els))
        else:
            raise ValueError(f"unknown preprocessor {name!r}")
        cur = tmp
    df = df.withColumn(out_col, F.col(cur))
    return df, cur_dim, state


def chain_out_dim(preprocessors: list[dict], dim: int) -> int:
    """Feature dimensionality after the chain (scalers preserve dim,
    PolynomialFeatures expands to all monomials of degree 1..N)."""
    from math import comb

    d = dim
    for p in preprocessors:
        if p.get("name") == "PolynomialFeatures":
            degree = int(_hyper(p).get("degree", 2))
            d = sum(comb(d + k - 1, k) for k in range(1, degree + 1))
    return d


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


def _robust_fit_batch(
    df: DataFrame, cur: str, cur_dim: int, st: dict | None,
    rq: int, hist_max: int,
) -> dict:
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
    commutative, so batching order cannot change the state either way."""
    st = st or {"h": [dict() for _ in range(cur_dim)]}
    hs = [dict(h) for h in st["h"]]
    old = list(st.get("k", [0] * cur_dim))
    ks = list(old)
    target = max(2, hist_max // 2)
    raw = df.select(
        F.posexplode(
            F.array(*[
                F.round(_el(cur, i) * rq, 0).cast("long")
                for i in range(cur_dim)
            ])
        ).alias("dim", "v")
    )

    def at_levels(levels):
        karr = F.array(*[F.lit(int(k)) for k in levels])
        return raw.withColumn(
            "kk", F.element_at(karr, F.col("dim") + 1)
        ).withColumn("vq", F.expr("shiftright(v, kk)"))

    probe = {
        int(r["dim"]): (int(r["mn"]), int(r["mx"]), int(r["nb"]))
        for r in at_levels(ks).groupBy("dim").agg(
            F.min("v").alias("mn"), F.max("v").alias("mx"),
            F.countDistinct("vq").alias("nb"),
        ).collect()
    }
    for i in range(cur_dim):
        if i not in probe:
            continue  # empty batch for this dim
        mn, mx, nb = probe[i]
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
    # the bounded histogram collect (<= ~hist_max rows per dim by the
    # range bound above)
    for r in (
        at_levels(ks).groupBy("dim", "vq")
        .agg(F.count(F.lit(1)).cast("long").alias("c")).collect()
    ):
        key = str(int(r["vq"]))
        hs[int(r["dim"])][key] = hs[int(r["dim"])].get(key, 0) + int(r["c"])
    return {"h": hs, "k": ks}


def _hist_quantiles(hist: dict, ps: tuple) -> list[int]:
    """Disc quantiles from a {quantized_value: count} histogram: smallest
    v with cumulative count >= ceil(p*n) — the same rule as
    robust_scaler_stats, evaluated on the driver over the tiny histogram."""
    import math

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
