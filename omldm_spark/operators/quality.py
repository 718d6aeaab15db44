"""Declarative data-quality validation (beyond-reference §2.11; the
Deequ/Great-Expectations idea as engine-level DataFrame ops).

A constraint suite compiles into the MINIMUM number of passes:

* all row-local checks (not-null, range, set-membership, custom
  predicate) become ``sum(CASE WHEN violated)`` terms of ONE aggregate
  over one scan — adding a check costs zero extra reads;
* a uniqueness check adds one keyed groupBy (count rows in groups of
  size > 1);
* a referential check adds one LEFT ANTI join against the parent keys
  (broadcast when the parent is a dim).

Every metric is an exact BIGINT violation count, so the report is
oracle-checkable — no sampled or approximate validation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def not_null(col: str) -> tuple[str, Column]:
    return (f"not_null({col})", F.col(col).isNull())


def in_range(col: str, lo, hi) -> tuple[str, Column]:
    """Violated when non-null and outside [lo, hi]."""
    c = F.col(col)
    return (f"in_range({col},{lo},{hi})",
            c.isNotNull() & ((c < F.lit(lo)) | (c > F.lit(hi))))


def in_set(col: str, values: list) -> tuple[str, Column]:
    c = F.col(col)
    return (f"in_set({col})", c.isNotNull() & ~c.isin(values))


def dq_report(
    df: DataFrame,
    row_checks: list[tuple[str, Column]],
    unique: list[list[str]] | None = None,
    references: list[tuple[str, DataFrame, str]] | None = None,
) -> DataFrame:
    """Run the suite; returns (constraint, violations, passed) — one row
    per constraint, violations an exact row count.

    ``unique``: each entry is a key-column list that must be unique.
    ``references``: (child_col, parent_df, parent_col) — child values
    (non-null) must exist in the parent."""
    spark = df.sparkSession
    agg = df.agg(*[
        F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"_c{i}")
        for i, (_, cond) in enumerate(row_checks)
    ])
    reports = [
        agg.select(
            F.array(*[
                F.struct(
                    F.lit(name).alias("check_name"),
                    F.col(f"_c{i}").alias("violations"),
                )
                for i, (name, _) in enumerate(row_checks)
            ]).alias("_a")
        ).select(F.explode("_a").alias("_r")).select("_r.*")
    ]
    for cols in unique or []:
        dup = (
            df.groupBy(*cols).agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .agg(F.coalesce(F.sum("_n"), F.lit(0)).cast("long")
                 .alias("violations"))
            .select(
                F.lit(f"unique({','.join(cols)})").alias("check_name"),
                "violations",
            )
        )
        reports.append(dup)
    for child_col, parent, parent_col in references or []:
        orphans = (
            df.filter(F.col(child_col).isNotNull())
            .join(
                parent.select(F.col(parent_col).alias(child_col)).distinct(),
                on=child_col, how="left_anti",
            )
            .agg(F.count(F.lit(1)).cast("long").alias("violations"))
            .select(
                F.lit(f"references({child_col})").alias("check_name"),
                "violations",
            )
        )
        reports.append(orphans)
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.withColumn("passed", F.col("violations") == 0)


def table_diff(a: DataFrame, b: DataFrame, key: str,
               val_cols: list[str]) -> DataFrame:
    """Reconciliation diff of two keyed snapshots (the anti-entropy /
    migration-validation primitive): one row per differing key with
    status 'added' (in b only), 'removed' (in a only) or 'changed'
    (both present, any value column differs — null-safe comparison).
    Identical keys produce NO row, so diffing replicas of a 100 TB
    table returns only the (tiny) discrepancy set.

    One co-partitioned full-outer join on the key; values compare
    inside the join projection, so nothing but the keys and compared
    columns ever shuffles."""
    # presence must come from the join side, not a value column (a value
    # may legitimately be null): carry explicit marker columns
    pa = a.select(key, F.lit(1).alias("_ina"), *val_cols).alias("a")
    pb = b.select(key, F.lit(1).alias("_inb"), *val_cols).alias("b")
    j = pa.join(pb, on=key, how="full_outer")
    changed = None
    for v in val_cols:
        ne = ~F.col(f"a.{v}").eqNullSafe(F.col(f"b.{v}"))
        changed = ne if changed is None else (changed | ne)
    status = (
        F.when(F.col("a._ina").isNull(), F.lit("added"))
        .when(F.col("b._inb").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(key, "status")
    )


def column_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column profiling in ONE aggregate pass: (col_name, n_rows,
    n_nulls, n_distinct) — the stats a warehouse uses to pick encodings,
    sort keys and partition columns (distinct ratio ~1 => id column,
    tiny => dictionary-encode / partition-by candidate).

    All count_distinct aggregates share a single Expand-based aggregate,
    so profiling k columns still reads the table ONCE; every metric is
    an exact BIGINT (no approx_count_distinct — at profile time you
    want truth; the HLL family covers the streaming/approximate case)."""
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("_rows"),
        *[F.sum(F.col(c).isNull().cast("long")).cast("long")
          .alias(f"_n_{c}") for c in cols],
        *[F.countDistinct(c).cast("long").alias(f"_d_{c}") for c in cols],
    )
    return agg.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.col("_rows").alias("n_rows"),
                    F.col(f"_n_{c}").alias("n_nulls"),
                    F.col(f"_d_{c}").alias("n_distinct"),
                )
                for c in cols
            ])
        ).alias("_r")
    ).select("_r.*")


# ---------------------------------------------------------------------------
# Robust (median/MAD) outlier detection
# ---------------------------------------------------------------------------

def mad_outliers(df: DataFrame, group_col: str, val_col: str,
                 key_col: str, k_x10000: int = 44478) -> DataFrame:
    """Per-group robust outliers: flag rows where |x - median| exceeds
    k * MAD, the median-absolute-deviation rule that survives the garbage
    values a mean/stddev z-score is wrecked by (k_x10000 = 44478 is the
    classic 3 * 1.4826 consistency-scaled threshold, carried x10000 so
    the comparison is an exact BIGINT cross-multiplication — no floats
    anywhere).

    Both the median and the MAD are EXACT disc quantiles from value-count
    histograms (the robust_scaler bound: aggregation key space = distinct
    quantized values per group, not rows): one histogram pass for the
    median, one for the deviations, each followed by a window scan over
    the tiny per-group CDF; the fact table is read twice and shuffled
    zero times (group stats broadcast back).  Returns ONLY the flagged
    rows: (key, group, val, med, mad, dev)."""
    from pyspark.sql import Window

    def _disc_median(frame: DataFrame, col: str, out: str) -> DataFrame:
        hist = frame.groupBy(group_col, F.col(col).alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        w = Window.partitionBy(group_col).orderBy("v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        tot = Window.partitionBy(group_col)
        cdf = hist.select(
            group_col, "v",
            F.sum("c").over(w).cast("long").alias("cum"),
            F.sum("c").over(tot).cast("long").alias("n"),
        )
        return (
            cdf.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
            .groupBy(group_col)
            .agg(F.min("v").cast("long").alias(out))
        )

    med = _disc_median(df, val_col, "med")
    with_med = df.join(F.broadcast(med), group_col).withColumn(
        "dev", F.abs(F.col(val_col) - F.col("med")).cast("long")
    )
    mad = _disc_median(with_med, "dev", "mad")
    return (
        with_med.join(F.broadcast(mad), group_col)
        .filter(F.col("dev") * 10000 > F.lit(k_x10000) * F.col("mad"))
        .select(
            F.col(key_col), F.col(group_col), F.col(val_col).alias("val"),
            "med", "mad", "dev",
        )
    )


def MAD_OUTLIERS_SQL(select_sql: str, group_col: str, val_col: str,
                     key_col: str, k_x10000: int = 44478) -> str:
    """DuckDB oracle: identical histogram-CDF disc medians and BIGINT
    cross-multiplied threshold."""
    return f"""
WITH base AS ({select_sql}),
h1 AS (
  SELECT {group_col} AS g, {val_col} AS v, CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY 1, 2
),
c1 AS (
  SELECT g, v,
         CAST(sum(c) OVER (PARTITION BY g ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM h1
),
med AS (
  SELECT g, CAST(min(v) AS BIGINT) AS med FROM c1
  WHERE cum >= (n + 1) // 2 GROUP BY g
),
devs AS (
  SELECT b.{key_col} AS key, b.{group_col} AS g, b.{val_col} AS val,
         m.med, CAST(abs(b.{val_col} - m.med) AS BIGINT) AS dev
  FROM base b JOIN med m ON b.{group_col} = m.g
),
h2 AS (
  SELECT g, dev AS v, CAST(count(*) AS BIGINT) AS c FROM devs GROUP BY 1, 2
),
c2 AS (
  SELECT g, v,
         CAST(sum(c) OVER (PARTITION BY g ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM h2
),
mad AS (
  SELECT g, CAST(min(v) AS BIGINT) AS mad FROM c2
  WHERE cum >= (n + 1) // 2 GROUP BY g
)
SELECT d.key AS {key_col}, d.g AS {group_col}, d.val, d.med, a.mad, d.dev
FROM devs d JOIN mad a ON d.g = a.g
WHERE d.dev * 10000 > {k_x10000} * a.mad
"""


def source_loo_value(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Leave-one-source-out data valuation: how much does each source
    move the corpus quality pass rate?  The additive-metric special
    case of data-Shapley-style valuation (Ghorbani & Zou 2019) that IS
    computable in one pass: because the metric (funnel pass rate) is a
    ratio of per-doc sums, every leave-one-out counterfactual derives
    from the per-source sufficient statistics — no retraining, no
    resampling, ONE scan.

    Per source: (source, n_docs, n_pass, pass_ppm, loo_pass_ppm,
    loo_delta_ppm) where loo_pass_ppm is the corpus pass rate with the
    source REMOVED and loo_delta_ppm = loo - overall (positive means
    removing the source would RAISE corpus quality, i.e. the source has
    negative marginal value).  A single-source corpus reports NULL for
    its own counterfactual (no corpus left).

    The per-doc pass flag is the full conjunction of the quality-funnel
    rules (functions/text.FUNNEL_RULES) — the same predicate that
    decides survival in quality_filter_funnel, so valuation and
    filtering agree by construction.

    Scale: the funnel feature pass (tokenize + one doc-keyed top-word
    agg) feeds ONE groupBy(source); totals ride a window over the
    |sources|-row frame.  The signed delta subtracts two floor-ppm
    integers — exact."""
    from pyspark.sql import Window

    from ..functions.text import FUNNEL_RULES, funnel_features

    conj = " AND ".join(pred for _, pred in FUNNEL_RULES)
    per_doc = funnel_features(docs, text_col, id_col,
                              extra_cols=("source",)).select(
        "source", F.expr(conj).alias("pass"))
    per_src = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).cast("long")
        .alias("n_pass"),
    )
    w = Window.partitionBy()
    tot = per_src.select(
        "source", "n_docs", "n_pass",
        F.sum("n_docs").over(w).cast("long").alias("nn"),
        F.sum("n_pass").over(w).cast("long").alias("kk"),
    )
    return tot.select(
        "source", "n_docs", "n_pass",
        F.expr("kk * 1000000 div nn").cast("long").alias("pass_ppm"),
        F.expr("CASE WHEN nn = n_docs THEN NULL ELSE"
               " (kk - n_pass) * 1000000 div (nn - n_docs) END")
        .cast("long").alias("loo_pass_ppm"),
        F.expr("CASE WHEN nn = n_docs THEN NULL ELSE"
               " (kk - n_pass) * 1000000 div (nn - n_docs)"
               " - kk * 1000000 div nn END")
        .cast("long").alias("loo_delta_ppm"),
    )


def SOURCE_LOO_SQL(table: str = "documents", text_expr: str = "text",
                   id_col: str = "doc_id") -> str:
    from ..functions.text import FUNNEL_FEATURES_CTES, FUNNEL_RULES

    conj = " AND ".join(pred for _, pred in FUNNEL_RULES)
    return f"""
WITH {FUNNEL_FEATURES_CTES(table, text_expr, id_col, extra="source,")},
per_doc AS (
  SELECT source, ({conj}) AS pass FROM f),
per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
  FROM per_doc GROUP BY 1),
tot AS (
  SELECT source, n_docs, n_pass,
         CAST(sum(n_docs) OVER () AS BIGINT) AS nn,
         CAST(sum(n_pass) OVER () AS BIGINT) AS kk
  FROM per_src)
SELECT source, n_docs, n_pass,
       CAST(kk * 1000000 // nn AS BIGINT) AS pass_ppm,
       CAST(CASE WHEN nn = n_docs THEN NULL ELSE
            (kk - n_pass) * 1000000 // (nn - n_docs) END AS BIGINT)
         AS loo_pass_ppm,
       CAST(CASE WHEN nn = n_docs THEN NULL ELSE
            (kk - n_pass) * 1000000 // (nn - n_docs)
            - kk * 1000000 // nn END AS BIGINT) AS loo_delta_ppm
FROM tot
"""


def disparate_impact_report(docs: DataFrame) -> DataFrame:
    """Disparate-impact audit of the quality funnel across languages —
    the EEOC four-fifths rule applied to data curation (Feldman et al.
    KDD 2015 framing): when a filter's pass rate for some group falls
    below 80% of the most-passed group's rate, the filter is skewing
    the corpus against that group (the documented failure mode of
    English-tuned quality heuristics on other languages).

    Per language: docs, funnel passes (the FULL rule conjunction from
    the ONE shared funnel_features derivation — the report cannot
    drift from the funnel it audits), floor-ppm pass rate, the ratio
    to the best group's rate, the four-fifths flag, and the signed gap
    to the overall rate.

    Exactness: counts BIGINT; rates floor-ppm; the ratio divides two
    already-quantized ppm values; the gap is plain integer
    subtraction.  Scale: one tokenized scan -> |langs| aggregate ->
    windows over the |langs| frame.  No joins beyond the shared
    top-word agg inside funnel_features."""
    return disparate_impact_from_counts(disparate_impact_counts(docs))


def disparate_impact_counts(docs: DataFrame) -> DataFrame:
    """(lang, n_docs, n_pass): the audit's ADDITIVE sufficient
    statistic (the pass flag is row-local), the carried state of the
    streaming twin."""
    from ..functions.text import FUNNEL_RULES, funnel_features

    conj = " AND ".join(pred for _, pred in FUNNEL_RULES)
    f = funnel_features(docs, extra_cols=("lang",))
    return f.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.expr(f"CASE WHEN {conj} THEN 1 ELSE 0 END"))
        .cast("long").alias("n_pass"),
    )


def disparate_impact_from_counts(per: DataFrame) -> DataFrame:
    """The four-fifths report from a (lang, n_docs, n_pass) frame."""
    from pyspark.sql import Window

    w = Window.partitionBy()
    rated = per.select(
        "lang", "n_docs", "n_pass",
        F.expr("n_pass * 1000000 div n_docs").cast("long")
        .alias("pass_ppm"),
        F.sum("n_docs").over(w).alias("_nd"),
        F.sum("n_pass").over(w).alias("_np"),
    ).select(
        "lang", "n_docs", "n_pass", "pass_ppm",
        F.max("pass_ppm").over(w).alias("_best"),
        F.expr("_np * 1000000 div _nd").cast("long").alias("_overall"),
    )
    return rated.select(
        "lang", "n_docs", "n_pass", "pass_ppm",
        F.expr("CASE WHEN _best = 0 THEN NULL"
               " ELSE pass_ppm * 1000000 div _best END").cast("long")
        .alias("ratio_to_best_ppm"),
        F.expr("CASE WHEN _best = 0 THEN NULL"
               " ELSE pass_ppm * 1000000 div _best < 800000 END")
        .alias("below_four_fifths"),
        (F.col("pass_ppm") - F.col("_overall")).cast("long")
        .alias("gap_ppm"),
    )


def DISPARATE_IMPACT_SQL(table: str = "documents") -> str:
    from ..functions.text import FUNNEL_FEATURES_CTES, FUNNEL_RULES

    conj = " AND ".join(pred for _, pred in FUNNEL_RULES)
    return f"""
WITH {FUNNEL_FEATURES_CTES(table, extra="lang,")},
per AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN {conj} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass
  FROM f GROUP BY 1
),
rated AS (
  SELECT lang, n_docs, n_pass,
         CAST(n_pass * 1000000 // n_docs AS BIGINT) AS pass_ppm,
         CAST(sum(n_docs) OVER () AS BIGINT) AS _nd,
         CAST(sum(n_pass) OVER () AS BIGINT) AS _np
  FROM per
),
best AS (
  SELECT lang, n_docs, n_pass, pass_ppm,
         CAST(max(pass_ppm) OVER () AS BIGINT) AS _best,
         CAST(_np * 1000000 // _nd AS BIGINT) AS _overall
  FROM rated
)
SELECT lang, n_docs, n_pass, pass_ppm,
       CAST(CASE WHEN _best = 0 THEN NULL
            ELSE pass_ppm * 1000000 // _best END AS BIGINT)
         AS ratio_to_best_ppm,
       CASE WHEN _best = 0 THEN NULL
       ELSE pass_ppm * 1000000 // _best < 800000 END
         AS below_four_fifths,
       CAST(pass_ppm - _overall AS BIGINT) AS gap_ppm
FROM best
"""


SHAPLEY_TOP_SOURCES = 8       # top-k sources are individual players...
SHAPLEY_OTHER = "__other__"   # ...the tail pools into one player


def source_shapley_value(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         top_k: int = SHAPLEY_TOP_SOURCES,
                         cache_out: list | None = None) -> DataFrame:
    """EXACT Shapley data valuation of sources against the corpus
    quality pass rate (Ghorbani & Zou, ICML 2019, for the
    sufficient-statistic metric where exactness is actually reachable)
    — the coalition generalization of source_loo_value: instead of one
    leave-one-out counterfactual per source, every source is credited
    its average marginal contribution over ALL orders of assembly, so
    a junk source that only looks harmless next to a worse one gets a
    NEGATIVE value the LOO report can miss.

    Player set: the top ``top_k`` sources by (n_docs DESC, source) are
    individual players; the tail pools into ``__other__`` — the player
    count is <= top_k+1 BY CONSTRUCTION, so the 2^n coalition frame is
    bounded (<= 512 rows) without the runtime guard the channel
    operator needs.  v(S) = floor-ppm pass rate of the union of S's
    docs (v(∅) = 0), computed from per-player sufficient statistics —
    quantize-then-Shapley, so every marginal is an exact BIGINT on
    both engines.

    Output per player: (player, n_players, n_docs, n_pass, phi_numer,
    shapley_ppm) with phi_numer = φ·n! exact (possibly NEGATIVE — the
    whole point) and shapley_ppm its signed floor division by n!.
    Efficiency identity: Σ phi_numer = n! · overall pass_ppm.

    Envelope: |marginal| <= 1e6, weights <= (n-1)! <= 8!, 2^n <= 512
    terms → |phi_numer| <= 9!·1e6 ≈ 3.6e11, exact in BIGINT and in
    the floor-double division (< 2^53).

    Scale: ONE fact-scale pass (the shared funnel_features derivation)
    collapses to |sources| rows; all coalition math runs on broadcast
    <= 512-row frames — the shapley_attribution shape with the mask
    histogram replaced by per-player sufficient statistics."""
    return source_shapley_from_stats(
        source_pass_counts(docs, text_col, id_col), top_k, cache_out)


def source_pass_counts(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(source, n_docs, n_pass) funnel sufficient statistics — the
    ADDITIVE state the streaming twin folds (row-local pass flag, so
    counts merge by plain keyed sum under any arrival order)."""
    from ..functions.text import FUNNEL_RULES, funnel_features

    conj = " AND ".join(pred for _, pred in FUNNEL_RULES)
    per_doc = funnel_features(docs, text_col, id_col,
                              extra_cols=("source",)).select(
        "source", F.expr(conj).alias("pass"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).cast("long")
        .alias("n_pass"),
    )


def source_shapley_from_stats(per_src: DataFrame,
                              top_k: int = SHAPLEY_TOP_SOURCES,
                              cache_out: list | None = None) -> DataFrame:
    """The coalition half, from (source, n_docs, n_pass) sufficient
    statistics — shared by the batch operator and the streaming twin
    (whose additive state reconstructs exactly this frame)."""
    from pyspark.sql import Window

    from .attribution import _fact_case

    ranked = per_src.select(
        "source", "n_docs", "n_pass",
        F.row_number().over(
            Window.orderBy(F.desc("n_docs"), F.asc("source"))).alias("rk"),
    )
    players = ranked.select(
        F.when(F.col("rk") <= top_k, F.col("source"))
        .otherwise(F.lit(SHAPLEY_OTHER)).alias("player"),
        "n_docs", "n_pass",
    ).groupBy("player").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_pass").cast("long").alias("n_pass"),
    )
    idx = players.select(
        "player", "n_docs", "n_pass",
        (F.row_number().over(Window.orderBy("player")) - 1).alias("idx"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("int")
        .alias("np"),
    )
    coal = idx.select("np").distinct().select(
        "np",
        F.explode(F.expr(
            "sequence(CAST(0 AS BIGINT),"
            " (CAST(1 AS BIGINT) << np) - 1)")).alias("s"),
    )
    vq = (
        coal.join(F.broadcast(idx.select("idx", "n_docs", "n_pass")))
        .groupBy("np", "s")
        .agg(
            F.sum(F.expr(
                "CASE WHEN (s & (CAST(1 AS BIGINT) << idx)) != 0"
                " THEN n_docs ELSE 0 END")).cast("long").alias("dd"),
            F.sum(F.expr(
                "CASE WHEN (s & (CAST(1 AS BIGINT) << idx)) != 0"
                " THEN n_pass ELSE 0 END")).cast("long").alias("pp"),
        )
        .select("np", "s",
                F.expr("CASE WHEN dd = 0 THEN CAST(0 AS BIGINT)"
                       " ELSE pp * 1000000 div dd END").alias("v"))
    ).persist()
    if cache_out is not None:
        cache_out.append(vq)
    pairs = (
        vq.join(F.broadcast(idx.select("player", "idx", "n_docs",
                                       "n_pass")))
        .filter(F.expr("(s & (CAST(1 AS BIGINT) << idx)) = 0"))
        .select(
            "player", "np", "n_docs", "n_pass",
            F.expr("s + (CAST(1 AS BIGINT) << idx)").alias("s1"),
            F.col("v").alias("v0"),
            F.expr("bit_count(s)").cast("int").alias("k"),
        )
        .join(F.broadcast(vq.select(F.col("s").alias("s1"),
                                    F.col("v").alias("v1"))), "s1")
    )
    phi = pairs.groupBy("player", "np", "n_docs", "n_pass").agg(
        F.sum(F.expr(
            f"{_fact_case('k')} * {_fact_case('np - 1 - k')} * (v1 - v0)"
        )).cast("long").alias("phi_numer"))
    return phi.select(
        "player",
        F.col("np").cast("long").alias("n_players"),
        "n_docs", "n_pass", "phi_numer",
        F.expr(
            "CAST(floor(CAST(phi_numer AS DOUBLE)"
            f" / CAST({_fact_case('np')} AS DOUBLE)) AS BIGINT)"
        ).alias("shapley_ppm"),
    )


def SOURCE_SHAPLEY_SQL(table: str = "documents", text_expr: str = "text",
                       id_col: str = "doc_id",
                       top_k: int = SHAPLEY_TOP_SOURCES) -> str:
    from ..functions.text import FUNNEL_FEATURES_CTES, FUNNEL_RULES
    from .attribution import _fact_case

    conj = " AND ".join(pred for _, pred in FUNNEL_RULES)
    return f"""
WITH {FUNNEL_FEATURES_CTES(table, text_expr, id_col, extra="source,")},
per_doc AS (
  SELECT source, ({conj}) AS pass FROM f),
per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
  FROM per_doc GROUP BY 1),
ranked AS (
  SELECT source, n_docs, n_pass,
         row_number() OVER (ORDER BY n_docs DESC, source) AS rk
  FROM per_src),
players AS (
  SELECT CASE WHEN rk <= {top_k} THEN source
         ELSE '{SHAPLEY_OTHER}' END AS player,
         CAST(sum(n_docs) AS BIGINT) AS n_docs,
         CAST(sum(n_pass) AS BIGINT) AS n_pass
  FROM ranked GROUP BY 1),
idx AS (
  SELECT player, n_docs, n_pass,
         row_number() OVER (ORDER BY player) - 1 AS idx,
         count(*) OVER () AS np
  FROM players),
coal AS (
  SELECT np, CAST(unnest(generate_series(
           CAST(0 AS BIGINT), (CAST(1 AS BIGINT) << np) - 1)) AS BIGINT)
           AS s
  FROM (SELECT DISTINCT np FROM idx)),
vq AS (
  SELECT coal.np AS np, s,
         CASE WHEN sum(CASE WHEN (s & (CAST(1 AS BIGINT) << idx)) != 0
                       THEN n_docs ELSE 0 END) = 0 THEN CAST(0 AS BIGINT)
         ELSE CAST(sum(CASE WHEN (s & (CAST(1 AS BIGINT) << idx)) != 0
                        THEN n_pass ELSE 0 END) * 1000000
              // sum(CASE WHEN (s & (CAST(1 AS BIGINT) << idx)) != 0
                     THEN n_docs ELSE 0 END) AS BIGINT) END AS v
  FROM coal CROSS JOIN idx GROUP BY 1, 2),
pairs AS (
  SELECT i.player, v0.np, i.n_docs, i.n_pass, v0.v AS v0, v1.v AS v1,
         CAST(bit_count(v0.s) AS INT) AS k
  FROM vq v0
  CROSS JOIN idx i
  JOIN vq v1 ON v1.s = v0.s + (CAST(1 AS BIGINT) << i.idx)
  WHERE (v0.s & (CAST(1 AS BIGINT) << i.idx)) = 0),
phi AS (
  SELECT player, np, n_docs, n_pass,
         CAST(sum({_fact_case('k')} * {_fact_case('np - 1 - k')}
                  * (v1 - v0)) AS BIGINT) AS phi_numer
  FROM pairs GROUP BY 1, 2, 3, 4)
SELECT player, CAST(np AS BIGINT) AS n_players, n_docs, n_pass,
       phi_numer,
       CAST(floor(CAST(phi_numer AS DOUBLE)
            / CAST({_fact_case('np')} AS DOUBLE)) AS BIGINT)
         AS shapley_ppm
FROM phi
"""
