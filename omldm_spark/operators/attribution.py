"""Exact Shapley multi-touch attribution over channel coalitions.

Completes the attribution triad beside linear_attribution_credits
(positional) and markov_removal_attribution (path-based removal
effects, Anderl et al. IJRM 2016): the game-theoretic model
(Dalessandro et al., ADKDD 2012 "Causally motivated attribution")
credits each channel its Shapley value under the coalition-reach
characteristic function

    v(S) = #converted users whose pre-conversion channel set ⊆ S

i.e. the conversions that coalition S could have produced on its own.
v is monotone by construction (superset coalitions reach at least as
many users), so every marginal v(S∪{i}) − v(S) is >= 0 and the exact
efficiency identity Σ_i φ_i = v(N) − v(∅) holds (v(∅) = users who
converted with no prior touch).

Exactness: Shapley weights |S|!(n−1−|S|)!/n! are rationals, so the
operator reports φ_i · n! — an exact BIGINT (every term is
factorial × count).  Factorials come from a shared CASE ladder over
the 0..12 domain; the channel count is hard-asserted <= 12 (4096
coalitions) — Shapley attribution is inherently a small-n marketing
model, and past ~12 channels the 2^n enumeration is the wrong tool
(sampling estimators exist but are not exact, so they do not belong
behind this oracle-gated contract).  Envelope: φ·n! <=
n! · v(N) · n <= 12! · 1e9 · 12 ≈ 5.7e18 < 2^63 — int64-safe through
a billion converted users at 12 channels; the ppm SHARE multiplies by
another 1e6 and therefore computes in DECIMAL(38,0)/HUGEINT.

Scale: the ONLY fact-scale work is the per-user first-purchase window
and the distinct (user, channel) collapse — one user-keyed exchange,
the markov_removal discipline.  Everything downstream lives on
coalition-scale frames (<= 4096 rows) that broadcast: mask histogram
(<= 2^n rows after the user groupBy), coalition×mask subset-sum,
channel×coalition marginals.  At 100 TB the plan is one keyed shuffle
plus arithmetic on a few thousand broadcast rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MAX_CHANNELS = 12

_FACTS = [1, 1, 2, 6, 24, 120, 720, 5040, 40320, 362880, 3628800,
          39916800, 479001600]


# Bound enforcement on a CONSUMED expression (ADVICE r10): the CASE is
# lazily evaluated on both engines, so valid inputs pass idx/nch through
# unchanged and a 13th channel raises before the 2^n explode can run.
# Spark spells the raise raise_error(), DuckDB spells it error().
_GUARDED = ("CASE WHEN nch0 <= " + str(MAX_CHANNELS) + " THEN {col}"
            " ELSE CAST(raise_error('shapley: more than "
            + str(MAX_CHANNELS) + " channels — the exact 2^n enumeration"
            " is the wrong tool; sample instead') AS INT) END")
_GUARDED_SQL = ("CASE WHEN nch0 <= " + str(MAX_CHANNELS) + " THEN {col}"
                " ELSE CAST(error('shapley: more than "
                + str(MAX_CHANNELS) + " channels') AS BIGINT) END")


def _fact_case(expr: str) -> str:
    """Shared-text factorial ladder over 0..12 (NULL past the asserted
    bound, which would poison the sum loudly rather than silently)."""
    whens = " ".join(f"WHEN {k} THEN {v}" for k, v in enumerate(_FACTS))
    return f"(CASE {expr} {whens} ELSE NULL END)"


def shapley_attribution(events: DataFrame,
                        cache_out: list | None = None) -> DataFrame:
    """(channel, n_channels, n_fact, v_empty, v_all, phi_numer,
    phi_share_ppm): exact Shapley credit per channel, φ·n! as BIGINT
    and the floor-ppm share of total credited conversions
    (phi_numer / (n! · (v_all − v_empty)); NULL when no conversion has
    any prior touch).  ``cache_out`` collects the persisted coalition
    frame so sweep callers can release it (the plsa/oriented_triangles
    discipline)."""
    # r12-opt (guide §2.3): the row_number + purchase-groupBy + fact
    # self-join truncation is one unbounded-frame window min instead —
    # first-purchase key fpk = min (ts, event_id) over purchase rows of
    # the user's partition (row_number is monotone in that total order,
    # so rn <= fp_rn  ⟺  (ts, event_id) <= fpk), and the converted set
    # never needed row numbers at all.  Plan: 2 window sorts + SMJ →
    # ONE window (partition-key sort only) + a purchase-rows distinct.
    wp = Window.partitionBy("user_id")
    fpk = F.min(F.when(F.col("event_type") == "purchase",
                       F.struct("ts", "event_id"))).over(wp)
    touches = (
        events.select("user_id", "event_type", "ts", "event_id")
        .withColumn("fpk", fpk)
        .filter(
            (F.col("fpk").isNull()
             | (F.struct("ts", "event_id") <= F.col("fpk")))
            & (F.col("event_type") != "purchase"))
        .select("user_id", F.col("event_type").alias("ch")).distinct()
    )
    conv = events.filter(F.col("event_type") == "purchase").select(
        "user_id").distinct()
    return shapley_core(conv, touches, cache_out)


def shapley_core(conv: DataFrame, touches: DataFrame,
                 cache_out: list | None = None) -> DataFrame:
    """The coalition half of shapley_attribution, from the two frames
    the fact-scale stage produces: ``conv`` = converted users
    (user_id) and ``touches`` = distinct PRE-conversion (user_id, ch)
    rows over ALL users.  Shared by the batch operator and the
    streaming min-fold twin (whose state reconstructs exactly these
    frames)."""
    # channel index: bounded frame (guarded <= MAX_CHANNELS), global
    # name order so the bit assignment is deterministic on both engines.
    # The guard lives INSIDE the consumed idx/nch expressions (ADVICE
    # r10: a projected-then-dropped assert_true column is pruned by
    # Catalyst and never evaluates) — every downstream consumer (the
    # mask shift, the 2^nch coalition explode, the factorial ladder)
    # reads through the CASE, so >MAX_CHANNELS raises loudly on BOTH
    # engines before any unbounded work or silent-NULL sum can happen.
    chans = touches.select("ch").distinct()
    idx = chans.select(
        "ch",
        (F.row_number().over(Window.orderBy("ch")) - 1).alias("idx0"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nch0"),
    ).select(
        "ch",
        F.expr(_GUARDED.format(col="idx0")).cast("int").alias("idx"),
        F.expr(_GUARDED.format(col="nch0")).cast("int").alias("nch"),
    )
    masks = (
        conv.join(touches, "user_id", "left")
        .join(F.broadcast(idx.select("ch", "idx")), "ch", "left")
        .groupBy("user_id")
        .agg(F.expr("coalesce(sum(DISTINCT (CAST(1 AS BIGINT) << idx)), 0)")
             .cast("long").alias("mask"))
    )
    mc = masks.groupBy("mask").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    nch = idx.select("nch").distinct()
    coal = nch.select(
        "nch",
        F.explode(F.expr(
            "sequence(CAST(0 AS BIGINT),"
            " (CAST(1 AS BIGINT) << nch) - 1)")).alias("s"),
    )
    v = (
        coal.join(F.broadcast(mc))
        .groupBy("nch", "s")
        .agg(F.sum(F.expr("CASE WHEN (mask | s) = s THEN cnt ELSE 0 END"))
             .cast("long").alias("v"))
    ).persist()
    if cache_out is not None:
        cache_out.append(v)
    vref = v.select(
        F.first(F.when(F.col("s") == 0, F.col("v")), ignorenulls=True)
        .over(Window.partitionBy()).alias("v_empty"),
        F.first(
            F.when(F.col("s") == F.expr("(CAST(1 AS BIGINT) << nch) - 1"),
                   F.col("v")), ignorenulls=True)
        .over(Window.partitionBy()).alias("v_all"),
    ).distinct()
    pairs = (
        v.join(F.broadcast(idx.select("ch", "idx")))
        .filter(F.expr("(s & (CAST(1 AS BIGINT) << idx)) = 0"))
        .select(
            "ch", "nch",
            F.col("s").alias("s0"),
            F.expr("s + (CAST(1 AS BIGINT) << idx)").alias("s1"),
            F.col("v").alias("v0"),
            F.expr("bit_count(s)").cast("long").alias("k"),
        )
        .join(F.broadcast(v.select(F.col("s").alias("s1"),
                                   F.col("v").alias("v1"))), "s1")
    )
    phi = pairs.groupBy("ch", "nch").agg(
        F.sum(F.expr(
            f"{_fact_case('k')} * {_fact_case('nch - 1 - k')} * (v1 - v0)"
        )).cast("long").alias("phi_numer"))
    return (
        phi.crossJoin(F.broadcast(vref))
        .select(
            F.col("ch").alias("channel"),
            F.col("nch").cast("long").alias("n_channels"),
            F.expr(_fact_case("nch")).cast("long").alias("n_fact"),
            F.col("v_empty").cast("long"),
            F.col("v_all").cast("long"),
            "phi_numer",
            # the share multiplies phi·n! by 1e6 — past int64 at
            # ~19k conversions x 12 channels, so it rides DECIMAL(38)
            # (HUGEINT in the oracle); operands are non-negative, so
            # div == // here
            F.expr(
                f"CASE WHEN v_all - v_empty = 0 THEN NULL"
                f" ELSE CAST(CAST(phi_numer AS DECIMAL(38,0)) * 1000000"
                f" div (CAST({_fact_case('nch')} AS DECIMAL(38,0))"
                f" * (v_all - v_empty)) AS BIGINT) END"
            ).cast("long").alias("phi_share_ppm"),
        )
    )


def SHAPLEY_SQL(table: str = "events") -> str:
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM {table}
),
fp AS (
  SELECT user_id, CAST(min(rn) AS BIGINT) AS fp_rn
  FROM seq WHERE event_type = 'purchase' GROUP BY 1
),
trunc AS (
  SELECT s.user_id, s.event_type
  FROM seq s LEFT JOIN fp ON fp.user_id = s.user_id
  WHERE fp.fp_rn IS NULL OR s.rn <= fp.fp_rn
),
touches AS (
  SELECT DISTINCT user_id, event_type AS ch
  FROM trunc WHERE event_type != 'purchase'
),
idx0 AS (
  SELECT ch, row_number() OVER (ORDER BY ch) - 1 AS idx0,
         count(*) OVER () AS nch0
  FROM (SELECT DISTINCT ch FROM touches)
),
idx AS (
  SELECT ch,
         {_GUARDED_SQL.format(col='idx0')} AS idx,
         {_GUARDED_SQL.format(col='nch0')} AS nch
  FROM idx0
),
masks AS (
  SELECT c.user_id,
         CAST(coalesce(sum(DISTINCT (CAST(1 AS BIGINT) << i.idx)), 0)
              AS BIGINT) AS mask
  FROM fp c
  LEFT JOIN touches t ON t.user_id = c.user_id
  LEFT JOIN idx i ON i.ch = t.ch
  GROUP BY 1
),
mc AS (SELECT mask, CAST(count(*) AS BIGINT) AS cnt FROM masks GROUP BY 1),
nch1 AS (SELECT DISTINCT nch FROM idx),
coal AS (
  SELECT nch, CAST(unnest(generate_series(
           CAST(0 AS BIGINT), (CAST(1 AS BIGINT) << nch) - 1)) AS BIGINT)
           AS s
  FROM nch1
),
v AS (
  SELECT nch, s,
         CAST(sum(CASE WHEN (mask | s) = s THEN cnt ELSE 0 END)
              AS BIGINT) AS v
  FROM coal CROSS JOIN mc GROUP BY 1, 2
),
vref AS (
  SELECT CAST(max(CASE WHEN s = 0 THEN v END) AS BIGINT) AS v_empty,
         CAST(max(CASE WHEN s = (CAST(1 AS BIGINT) << nch) - 1 THEN v END)
              AS BIGINT) AS v_all
  FROM v
),
pairs AS (
  SELECT i.ch, v0.nch, v0.v AS v0, v1.v AS v1,
         CAST(bit_count(v0.s) AS BIGINT) AS k
  FROM v v0
  CROSS JOIN idx i
  JOIN v v1 ON v1.s = v0.s + (CAST(1 AS BIGINT) << i.idx)
  WHERE (v0.s & (CAST(1 AS BIGINT) << i.idx)) = 0
),
phi AS (
  SELECT ch, nch,
         CAST(sum({_fact_case('k')} * {_fact_case('nch - 1 - k')}
                  * (v1 - v0)) AS BIGINT) AS phi_numer
  FROM pairs GROUP BY 1, 2
)
SELECT ch AS channel,
       CAST(nch AS BIGINT) AS n_channels,
       CAST({_fact_case('nch')} AS BIGINT) AS n_fact,
       v_empty, v_all, phi_numer,
       CAST(CASE WHEN v_all - v_empty = 0 THEN NULL
            ELSE CAST(CAST(phi_numer AS HUGEINT) * 1000000
                 // (CAST({_fact_case('nch')} AS HUGEINT)
                     * (v_all - v_empty)) AS BIGINT) END
            AS BIGINT) AS phi_share_ppm
FROM phi CROSS JOIN vref
"""


def shapley_min_deltas(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One micro-batch's contribution to the streaming twin's state:
    (purch, touch) frames keyed by user / (user, ch), each carrying the
    lexicographic MIN (ts, event_id) key.  Min is a semilattice — the
    fold is union + re-min, exact under ANY arrival order and
    idempotent under foreachBatch retry — so the at-scale state is one
    row per user plus one per observed (user, channel), regardless of
    stream length."""
    purch = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id")).alias("k"))
        .select("user_id", F.col("k.ts").alias("p_ts"),
                F.col("k.event_id").alias("p_id"))
    )
    touch = (
        events.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", F.col("event_type").alias("ch"))
        .agg(F.min(F.struct("ts", "event_id")).alias("k"))
        .select("user_id", "ch", F.col("k.ts").alias("t_ts"),
                F.col("k.event_id").alias("t_id"))
    )
    return purch, touch


def shapley_merge(prev: tuple, cur: tuple) -> tuple[DataFrame, DataFrame]:
    """Re-min the union of two (purch, touch) min-fold states."""
    (p0, t0), (purch, touch) = prev, cur
    purch = p0.unionByName(purch).groupBy("user_id").agg(
        F.min(F.struct(F.col("p_ts").alias("ts"),
                       F.col("p_id").alias("event_id"))).alias("k")
    ).select("user_id", F.col("k.ts").alias("p_ts"),
             F.col("k.event_id").alias("p_id"))
    touch = t0.unionByName(touch).groupBy("user_id", "ch").agg(
        F.min(F.struct(F.col("t_ts").alias("ts"),
                       F.col("t_id").alias("event_id"))).alias("k")
    ).select("user_id", "ch", F.col("k.ts").alias("t_ts"),
             F.col("k.event_id").alias("t_id"))
    return purch, touch


def shapley_from_state(purch: DataFrame, touch: DataFrame) -> DataFrame:
    """The Shapley report from the min-fold state: a touch qualifies
    iff its min key precedes the user's first purchase (or the user
    never purchased); converted users are the purchase-state keys.
    Feeding shapley_core makes the twin and the batch operator agree
    by construction."""
    j = touch.join(
        purch.select("user_id", "p_ts", "p_id"), "user_id", "left")
    touches = j.filter(
        F.col("p_ts").isNull()
        | (F.col("t_ts") < F.col("p_ts"))
        | ((F.col("t_ts") == F.col("p_ts"))
           & (F.col("t_id") < F.col("p_id")))
    ).select("user_id", "ch")
    return shapley_core(purch.select("user_id"), touches)
