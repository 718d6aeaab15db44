"""Full-text retrieval operators: inverted postings, tf-idf, BM25 top-k.

Beyond-reference surface (same charter as operators/dedup.py / corpus.py):
the classic corpus-retrieval ops a pretraining pipeline needs for quality
filtering ("keep docs that look like the seed set") and decontamination
("drop docs that match eval queries"). The reference engine has no text
surface; this is Spark-first design for the 100 TB goal.

Scale design:

* postings / doc_stats   one explode + one hash-groupBy keyed (term, doc) —
                         map-side combine collapses per-doc repeats before
                         the shuffle; the inverted index IS the shuffle
                         output, no driver state.
* bm25_scores            postings ⨝ query-terms is a BROADCAST join (query
                         sets are small by construction — eval suites, seed
                         probes); df and doc-length joins are term- and
                         doc-keyed shuffles that AQE sizes. Corpus-level
                         scalars (N, avgdl) ride a broadcast one-row cross
                         join, never a driver collect.
* top-k                  per-query row_number window — partitions by
                         query_id, so parallelism = |queries|; for huge
                         query sets this is the right axis, and for tiny
                         ones the upstream joins dominate anyway.

Cross-engine exactness (the NOTES_r1/r2 recipe): every per-(query,doc,term)
BM25 contribution is computed with a mirrored operation sequence in Spark
and DuckDB, then quantized to an integer (round(contrib * 1e6)) BEFORE the
per-document sum — integer sums are order-free, so the aggregated score is
bit-identical on any engine and any partitioning. Ranking compares the
integer score (ties broken by doc_id), never a float.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import TOKENS_SQL, tokens_col

# BM25 constants as exact decimal literals shared by both engines.
K1 = "1.2"
B = "0.75"
SCALE = 1_000_000  # contribution quantizer: 6 decimal digits


def postings(docs: DataFrame, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Inverted index rows: (term, doc_id, tf). One explode + one groupBy;
    map-side combine makes the shuffle carry one row per distinct
    (term, doc) pair."""
    return (
        docs.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def doc_stats(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Per-doc token length (dl) — a narrow projection, no shuffle."""
    return docs.select(
        F.col(id_col), F.size(tokens_col(text_col)).cast("long").alias("dl")
    ).filter(F.col("dl") > 0)


def bm25_scores(
    docs: DataFrame,
    query_terms: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 (Robertson/Sparck Jones, Lucene idf form) of every document
    against every query, restricted to docs sharing >= 1 term.

    ``query_terms``: (query_id: long, term: string) — broadcast side.

    Output: query_id, doc_id, n_hit_terms, score_q (exact integer,
    sum of per-term contributions quantized at 1e-6), score (double,
    score_q / 1e6 — derived once, after the exact sum).

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    contrib(t) = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    """
    post = postings(docs, text_col, id_col)
    dls = doc_stats(docs, text_col, id_col)
    # Corpus scalars ride a one-row broadcast cross join (no driver collect).
    corpus = dls.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    df_tbl = post.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))

    hits = (
        post.join(F.broadcast(query_terms), "term")
        .join(df_tbl, "term")
        .join(dls, id_col)
        .crossJoin(F.broadcast(corpus))
    )
    # Mirrored operation sequence — keep textually in sync with BM25_SQL.
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    denom = (
        F.col("tf").cast("double")
        + F.lit(float(K1))
        * (F.lit(1.0) - F.lit(float(B))
           + F.lit(float(B)) * (F.col("dl").cast("double") / avgdl))
    )
    contrib = idf * (F.col("tf").cast("double") * F.lit(1.0 + float(K1))) / denom
    contrib_q = F.round(contrib * F.lit(SCALE), 0).cast("long")

    return (
        hits.select("query_id", id_col, contrib_q.alias("cq"))
        .groupBy("query_id", id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
            F.sum("cq").cast("long").alias("score_q"),
        )
        .withColumn("score", F.col("score_q").cast("double") / F.lit(float(SCALE)))
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k docs per query by exact integer score; ties broken by doc_id —
    a total order, so the ranked set is engine- and partitioning-stable."""
    scored = bm25_scores(docs, query_terms, text_col, id_col)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_q").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def tfidf_doc_vectors(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Smoothed tf-idf weights per (doc, term): the vectorizer behind
    seed-set similarity filters. tfidf = tf * ln((1+N)/(1+df)) quantized at
    1e-6 (exact integer column + derived double)."""
    post = postings(docs, text_col, id_col)
    corpus = doc_stats(docs, text_col, id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    df_tbl = post.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    out = post.join(df_tbl, "term").crossJoin(F.broadcast(corpus))
    idf = F.log(
        (F.lit(1.0) + F.col("n_docs").cast("double"))
        / (F.lit(1.0) + F.col("df").cast("double"))
    )
    w_q = F.round(F.col("tf").cast("double") * idf * F.lit(SCALE), 0).cast("long")
    return out.select(
        F.col(id_col), "term", "tf", "df", w_q.alias("tfidf_q"),
        (w_q.cast("double") / F.lit(float(SCALE))).alias("tfidf"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracles — mirrored operation sequences
# ---------------------------------------------------------------------------

def _query_values_sql(queries: list[tuple[int, list[str]]]) -> str:
    rows = ", ".join(
        f"({qid}, '{t}')" for qid, terms in queries for t in terms
    )
    return f"(VALUES {rows}) AS q(query_id, term)"


def BM25_SQL(
    queries: list[tuple[int, list[str]]],
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
) -> str:
    return f"""
WITH toked AS (
  SELECT {id_col}, {TOKENS_SQL(text_expr)} AS toks FROM {table}
),
dls AS (
  SELECT {id_col}, CAST(len(toks) AS BIGINT) AS dl FROM toked WHERE len(toks) > 0
),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
  FROM dls
),
post AS (
  SELECT term, {id_col}, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT {id_col}, unnest(toks) AS term FROM toked)
  GROUP BY term, {id_col}
),
dfs AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term
),
hits AS (
  SELECT q.query_id, p.{id_col},
         CAST(round(
           ln(1.0 + (CAST(c.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                    / (CAST(d.df AS DOUBLE) + 0.5))
           * (CAST(p.tf AS DOUBLE) * (1.0 + {K1}))
           / (CAST(p.tf AS DOUBLE)
              + {K1} * (1.0 - {B}
                        + {B} * (CAST(l.dl AS DOUBLE)
                                 / (CAST(c.sum_dl AS DOUBLE)
                                    / CAST(c.n_docs AS DOUBLE)))))
           * {SCALE}, 0) AS BIGINT) AS cq
  FROM post p
  JOIN {_query_values_sql(queries)} ON p.term = q.term
  JOIN dfs d ON p.term = d.term
  JOIN dls l ON p.{id_col} = l.{id_col}
  CROSS JOIN corpus c
)
SELECT CAST(query_id AS BIGINT) AS query_id, {id_col},
       CAST(count(*) AS BIGINT) AS n_hit_terms,
       CAST(sum(cq) AS BIGINT) AS score_q,
       CAST(sum(cq) AS BIGINT) / 1000000.0 AS score
FROM hits
GROUP BY query_id, {id_col}
"""


def BM25_TOPK_SQL(
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
) -> str:
    return f"""
SELECT * FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY score_q DESC, {id_col} ASC)
            AS BIGINT) AS rank
  FROM ({BM25_SQL(queries, table, text_expr, id_col)})
) WHERE rank <= {k}
"""


def TFIDF_SQL(table: str = "documents", text_expr: str = "text",
              id_col: str = "doc_id") -> str:
    return f"""
WITH toked AS (
  SELECT {id_col}, {TOKENS_SQL(text_expr)} AS toks FROM {table}
),
dls AS (
  SELECT {id_col}, CAST(len(toks) AS BIGINT) AS dl FROM toked WHERE len(toks) > 0
),
corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM dls),
post AS (
  SELECT term, {id_col}, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT {id_col}, unnest(toks) AS term FROM toked)
  GROUP BY term, {id_col}
),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term)
SELECT p.{id_col}, p.term, p.tf, d.df,
       CAST(round(CAST(p.tf AS DOUBLE)
                  * ln((1.0 + CAST(c.n_docs AS DOUBLE))
                       / (1.0 + CAST(d.df AS DOUBLE))) * {SCALE}, 0) AS BIGINT)
         AS tfidf_q,
       CAST(round(CAST(p.tf AS DOUBLE)
                  * ln((1.0 + CAST(c.n_docs AS DOUBLE))
                       / (1.0 + CAST(d.df AS DOUBLE))) * {SCALE}, 0) AS BIGINT)
         / 1000000.0 AS tfidf
FROM post p JOIN dfs d ON p.term = d.term CROSS JOIN corpus c
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of lexical + semantic rankings
# ---------------------------------------------------------------------------

RRF_K = 60           # the standard RRF dampening constant (Cormack 2009)
RRF_SCALE = 10**12   # integer quantizer: round(1e12 / (60 + rank))


def rrf_fuse(
    lex: DataFrame,
    sem: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of two per-query rankings — the standard
    hybrid-retrieval combiner (BM25 list + embedding-cosine list) used to
    pick pretraining docs that match a seed set both lexically and
    semantically.

    Inputs are rank lists (query_id, <id>, rank); ``sem`` may name its id
    column ``neighbor_id`` — it is normalized to ``id_col``.  Score:

        rrf_q = round(1e12/(60+rank_lex)) + round(1e12/(60+rank_sem))

    with a missing list contributing 0.  Both addends are integers derived
    from integer ranks, so the fused score is EXACT on any engine; ties
    break by doc id.

    Scale: both inputs are top-k outputs (|queries| x k rows), so the
    fusion join is a broadcast no-op next to the upstream ranking passes —
    the operator adds no fact-scale shuffle.
    """
    l = lex.select(
        "query_id", F.col(id_col).alias("fid"),
        F.col("rank").cast("long").alias("rank_lex"),
    )
    s_id = "neighbor_id" if "neighbor_id" in sem.columns else id_col
    s = sem.select(
        "query_id", F.col(s_id).alias("fid"),
        F.col("rank").cast("long").alias("rank_sem"),
    )
    fused = l.join(s, ["query_id", "fid"], "full_outer")
    part = lambda r: F.coalesce(  # noqa: E731
        F.round(F.lit(float(RRF_SCALE)) / (F.lit(60) + F.col(r)), 0)
        .cast("long"),
        F.lit(0).cast("long"),
    )
    scored = fused.select(
        "query_id", F.col("fid").alias(id_col),
        F.coalesce("rank_lex", F.lit(0)).cast("long").alias("rank_lex"),
        F.coalesce("rank_sem", F.lit(0)).cast("long").alias("rank_sem"),
        (part("rank_lex") + part("rank_sem")).alias("rrf_q"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_q").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def RRF_FUSE_SQL(lex_sql: str, sem_sql: str, k: int = 10,
                 id_col: str = "doc_id") -> str:
    """Oracle twin: fuse two rank-list SELECTs (columns query_id, <id>,
    rank) with the same integer RRF arithmetic."""
    return f"""
WITH lex AS ({lex_sql}),
sem AS ({sem_sql}),
fused AS (
  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
         COALESCE(l.{id_col}, s.neighbor_id) AS {id_col},
         CAST(COALESCE(l.rank, 0) AS BIGINT) AS rank_lex,
         CAST(COALESCE(s.rank, 0) AS BIGINT) AS rank_sem,
         COALESCE(CAST(round({RRF_SCALE}.0 / (60 + l.rank), 0) AS BIGINT), 0)
         + COALESCE(CAST(round({RRF_SCALE}.0 / (60 + s.rank), 0) AS BIGINT), 0)
           AS rrf_q
  FROM lex l FULL OUTER JOIN sem s
    ON l.query_id = s.query_id AND l.{id_col} = s.neighbor_id
)
SELECT * FROM (
  SELECT query_id, {id_col}, rank_lex, rank_sem, rrf_q,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY rrf_q DESC, {id_col} ASC)
         AS BIGINT) AS rank
  FROM fused
) WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Positional index + phrase search
# ---------------------------------------------------------------------------

def positional_postings(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Positional inverted-index rows: (doc_id, pos, term), 1-based
    positions (matching SQL generate_subscripts).  A narrow explode — no
    shuffle; phrase/proximity operators filter this to their query terms
    BEFORE any join."""
    return docs.select(
        F.col(id_col),
        F.posexplode(tokens_col(text_col)).alias("pos0", "term"),
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "term")


def phrase_search(docs: DataFrame, phrase: list[str],
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Exact phrase matching over the positional index: the phrase
    [t_0..t_k] matches at position p iff term t_i sits at p+i for every i
    — a chain of equi-joins on (doc, position+offset), each side already
    filtered to ONE query term.  Returns (doc_id, n_matches, first_pos).

    Scale shape: the corpus-sized positional index is filtered to the
    phrase's terms before the first join (term-selective pruning — the
    classic optimization is to start from the RAREST term; the chain here
    is left-to-right since every side is already term-filtered), so join
    inputs are posting-list-sized, keyed by doc — co-partitioned after
    the first shuffle.  No regex over raw text, no per-doc Python."""
    pp = positional_postings(docs, text_col, id_col)
    cand = pp.filter(F.col("term").isin(list(set(phrase))))
    m = (
        cand.filter(F.col("term") == phrase[0])
        .select(F.col(id_col), F.col("pos").alias("p0"))
    )
    for i, t in enumerate(phrase[1:], 1):
        nxt = cand.filter(F.col("term") == t).select(
            F.col(id_col), (F.col("pos") - i).alias("p0")
        )
        m = m.join(nxt, [id_col, "p0"])
    return m.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("p0").cast("long").alias("first_pos"),
    )


def PHRASE_SEARCH_SQL(phrase: list[str], table: str = "documents",
                      text_expr: str = "text",
                      id_col: str = "doc_id") -> str:
    """DuckDB oracle: same positional chain over generate_subscripts."""
    joins = "\n".join(
        f"JOIN pp t{i} ON t{i}.{id_col} = t0.{id_col}"
        f" AND t{i}.pos = t0.pos + {i} AND t{i}.term = '{t}'"
        for i, t in enumerate(phrase[1:], 1)
    )
    return f"""
WITH arr AS (
  SELECT {id_col}, {TOKENS_SQL(text_expr)} AS toks FROM {table}
),
pp AS (
  SELECT {id_col}, unnest(toks) AS term,
         generate_subscripts(toks, 1) AS pos
  FROM arr
)
SELECT t0.{id_col},
       CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(t0.pos) AS BIGINT) AS first_pos
FROM pp t0
{joins}
WHERE t0.term = '{phrase[0]}'
GROUP BY t0.{id_col}
"""


# ---------------------------------------------------------------------------
# Sparse tf-idf cosine similarity join (posting-list dot product)
# ---------------------------------------------------------------------------

# the one shared double expression: dot and both squared norms are exact
# BIGINTs (envelope: w <= ~6e7 -> w^2 <= 3.6e15, <= 64 terms/doc ->
# sums < 2.4e17, int64-safe; the n2a*n2b product would overflow, so it
# multiplies as doubles), HALF-UP milli-ppm quantization
_SPARSE_COS_MPPM = (
    "CAST(floor(CAST(dot AS DOUBLE)"
    " / sqrt(CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE))"
    " * 1000000.0 + 0.5) AS BIGINT)"
)


# dense-strategy gate: the block-Gram path materializes one int64 matrix
# of ~block_rows x vocab per task side — 1024 x 2048 x 8 B = 16 MiB, a
# comfortable executor-task footprint.  Natural-text vocabularies blow
# past this immediately (Heaps' law: ~1e6+ types), which is exactly when
# the inverted-index prefix path wins instead.
DENSE_VOCAB_MAX = 2048
DENSE_BLOCK_ROWS = 1024


def _dense_block_cosine(tv: DataFrame, min_cos_mppm: int,
                        n_docs: int) -> DataFrame:
    """Exact all-pairs sparse-dot via blocked int64 Gram products —
    the physical strategy for DENSE corpora (vocab <= DENSE_VOCAB_MAX),
    where posting-list prefix filtering is structurally useless: with a
    tiny shared vocabulary EVERY doc pair shares common terms, so ANY
    term-ordered prefix index degenerates to the all-pairs join (the
    sf testdata corpus has a 31-term vocabulary and its true pair
    count at tau=0.9 grows ~quadratically: 25 pairs at sf0.01 -> 2502
    at sf0.1 — output-proportional work IS quadratic there, so the
    win is a ~1e-9 s/pair SIMD constant, not asymptotics).

    Plan: docs hash into ceil(n/DENSE_BLOCK_ROWS) row blocks; each
    posting row replicates to its block's B block-pair keys (the
    standard distributed matrix-multiply replication, B = n/block_rows
    copies); one applyInPandas per block pair pivots both sides to
    dense int64 matrices and emits only pairs passing a CONSERVATIVE
    threshold (2 mppm + double slack below tau, so no exactly-
    qualifying pair can be lost to the float prefilter).  dot and
    n_shared are exact int64 (w <= ~6e7, <= 64 terms/doc -> sums
    < 2.4e17, the POINTS_SQL envelope); the caller re-scores with the
    shared exact expression, so dense and posting strategies are
    bit-identical.  Returns (doc_a, doc_b, n_shared, dot)."""
    import math

    import numpy as np
    import pandas as pd

    n_blocks = max(1, math.ceil(n_docs / DENSE_BLOCK_ROWS))
    # vocab-scale rank: the single-partition window is gated by
    # DENSE_VOCAB_MAX, never corpus-scale
    dims = tv.select("term").distinct().select(
        "term",
        (F.row_number().over(Window.orderBy("term")) - 1).alias("_ti"),
    )
    blocked = (
        tv.join(dims, "term")
        .select(
            F.col("doc"), F.col("_ti"), F.col("w"),
            F.pmod(F.hash("doc"), F.lit(n_blocks)).alias("_blk"),
        )
        .select(
            "doc", "_ti", "w", "_blk",
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
            .alias("_other"),
        )
        .select(
            "doc", "_ti", "w",
            F.least("_blk", "_other").alias("_bi"),
            F.greatest("_blk", "_other").alias("_bj"),
            (F.col("_blk") <= F.col("_other")).alias("_left"),
        )
    )
    tau = (min_cos_mppm - 2) / 1e6 * (1 - 1e-9)

    def gram(pdf: pd.DataFrame) -> pd.DataFrame:
        # group-local width: dims absent from BOTH sides contribute 0
        # to every dot, so sizing to the group's max index is exact
        width = int(pdf["_ti"].max()) + 1

        def dense(side: pd.DataFrame):
            ids = np.sort(side["doc"].unique())
            pos = {d: i for i, d in enumerate(ids)}
            rows = side["doc"].map(pos).to_numpy()
            cols = side["_ti"].to_numpy()
            m = np.zeros((len(ids), width), dtype=np.int64)
            m[rows, cols] = side["w"].to_numpy()
            # presence is a SEPARATE matrix: tfidf_doc_vectors keeps
            # zero-weight postings (a term in EVERY doc has idf=0 ->
            # w=0), and the posting-join strategies + the DuckDB oracle
            # count n_shared over ALL shared posting rows including
            # w=0 — deriving presence from w != 0 would silently
            # diverge exactly on dense corpora, where universal terms
            # are most likely (ADVICE r8)
            p = np.zeros((len(ids), width), dtype=bool)
            p[rows, cols] = True
            return ids, m, p

        diag = bool(pdf["_bi"].iat[0] == pdf["_bj"].iat[0])
        la, ma, pa = dense(pdf[pdf["_left"]])
        lb, mb, pb = (la, ma, pa) if diag else dense(pdf[~pdf["_left"]])
        dot = ma @ mb.T
        n2a = (ma * ma).sum(axis=1)
        n2b = (mb * mb).sum(axis=1)
        cos = dot / np.sqrt(
            np.maximum(n2a[:, None].astype(np.float64), 1.0)
            * np.maximum(n2b[None, :].astype(np.float64), 1.0))
        keep = cos >= tau
        if diag:
            # both orderings present within one block: keep the upper
            # triangle so each unordered pair emits exactly once
            keep &= la[:, None] < lb[None, :]
        ia, ib = np.nonzero(keep)
        if not len(ia):
            return pd.DataFrame(
                {"doc_a": la[:0], "doc_b": lb[:0],
                 "n_shared": pd.Series(dtype="int64"),
                 "dot": pd.Series(dtype="int64")})
        nsh = (pa[ia] & pb[ib]).sum(axis=1)
        # cross-block pairs appear once but with arbitrary id order:
        # canonicalize to doc_a < doc_b here
        av, bv = la[ia], lb[ib]
        return pd.DataFrame({
            "doc_a": np.minimum(av, bv), "doc_b": np.maximum(av, bv),
            "n_shared": nsh.astype(np.int64), "dot": dot[ia, ib],
        })

    # output id columns carry the INPUT id type (ADVICE r8: a
    # hardcoded `doc_a long` broke the generic id_col contract for
    # string/decimal doc ids that the posting paths handle fine; the
    # kernel's numpy ops — sort, map, minimum/maximum, broadcasting
    # compare — all have object-dtype loops, so non-numeric ids work)
    id_dt = tv.schema["doc"].dataType.simpleString()
    return blocked.groupBy("_bi", "_bj").applyInPandas(
        gram, f"doc_a {id_dt}, doc_b {id_dt}, n_shared long, dot long")


def tfidf_cosine_pairs(docs: DataFrame, min_cos_mppm: int = 900_000,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       prefix_filter: bool = False,
                       strategy: str = "auto") -> DataFrame:
    """Document pairs with tf-idf cosine >= threshold, by SPARSE dot
    product: the posting-list self-join on shared TERMS (quadratic only
    within a term's posting list — the inverted-index plan every sparse
    similarity engine uses), never a dense vector comparison.  The
    complement of the dense-embedding cosine join (dedup_embedding_*):
    same contract, lexical space.  Weights are the exact integer
    tfidf_q; dot and norms are exact BIGINT sums; only the final
    cosine is one shared double expression.

    ``prefix_filter=True`` (high thresholds): the all-pairs suffix-bound
    filter (Bayardo et al. WWW 2007, here via Cauchy-Schwarz): with
    terms in a fixed global order, cos(a, b) <= S_a(t*) * S_b(t*) where
    t* is the pair's FIRST shared term and S_d(t) the normalized mass
    of d's terms from t onward — so any qualifying pair shares a term
    whose suffix mass is >= tau in BOTH docs, and each doc indexes only
    that prefix.  The bound holds under ANY fixed total order; the
    ORDER chosen is rare-first — ascending document frequency with the
    term string as tie-break, the same discipline as the Jaccard prefix
    filter (operators/dedup.py prefix_filter_jaccard_pairs) — so the
    indexed prefixes hold RARE terms and the candidate self-join runs
    over short posting lists instead of the corpus-wide stopword lists
    a lexicographic order would index (Bayardo's own ordering insight:
    candidate cost is sum of squared prefix-posting lengths).
    Candidates come from the indexed-prefix self-join; exact dots are
    then computed only for candidates (the full posting rows of
    candidate pairs).  The filter is deliberately CONSERVATIVE
    (double compare with slack, threshold relaxed one mppm for the
    half-up rounding), and the unfiltered quadratic oracle is the gate:
    a single dropped pair fails the round."""
    if strategy not in ("auto", "dense", "prefix"):
        raise ValueError(f"unknown strategy {strategy!r}: "
                         "expected 'auto', 'dense' or 'prefix'")
    if strategy != "auto" and not (prefix_filter and min_cos_mppm > 0):
        # an unsatisfiable pin must ERROR, not silently fall through to
        # the quadratic join (ADVICE r8): both physical strategies live
        # inside the prefix_filter branch, and a test that pins 'dense'
        # with prefix_filter=False would measure the wrong plan
        raise ValueError(
            f"strategy={strategy!r} requires prefix_filter=True and "
            f"min_cos_mppm > 0 (got prefix_filter={prefix_filter}, "
            f"min_cos_mppm={min_cos_mppm})")
    tv = tfidf_doc_vectors(docs, text_col, id_col).select(
        F.col(id_col).alias("doc"), "term", "df",
        F.col("tfidf_q").alias("w"))
    tv = tv.persist()
    n2 = tv.groupBy("doc").agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("n2"))
    if prefix_filter and min_cos_mppm > 0:
        # stats-driven physical strategy (the AQE idea applied at the
        # operator level): two bounded scalar aggregates decide the
        # plan.  A DENSE corpus — vocab small enough that every doc
        # pair shares common terms — defeats ANY term-prefix index
        # (candidates degenerate to all-pairs: measured 10.7M of a
        # possible 12.5M on the 31-term sf0.1 corpus), so the blocked
        # int64 Gram path wins there; a natural-text vocab (1e6+)
        # takes the rare-first prefix-filter posting path below.
        # `strategy` pins a path for tests/benchmarks ('dense' |
        # 'prefix'); 'auto' (production) lets the stats decide
        stats = tv.agg(
            F.countDistinct("term").alias("v"),
            F.countDistinct("doc").alias("n")).collect()[0]
        if strategy == "dense" or (
                strategy == "auto" and stats["v"] <= DENSE_VOCAB_MAX):
            dots = _dense_block_cosine(tv, min_cos_mppm, int(stats["n"]))
            na = n2.select(F.col("doc").alias("doc_a"),
                           F.col("n2").alias("n2a"))
            nb = n2.select(F.col("doc").alias("doc_b"),
                           F.col("n2").alias("n2b"))
            scored = dots.join(na, "doc_a").join(nb, "doc_b").select(
                "doc_a", "doc_b", "n_shared", "dot",
                F.expr(_SPARSE_COS_MPPM).alias("cos_mppm"),
            )
            return scored.filter(F.col("cos_mppm") >= min_cos_mppm)
        from pyspark.sql import Window

        # suffix mass along the ascending (df, term) order: the window
        # runs DESC so the running sum at a row covers all terms at or
        # after it in rare-first order; indexed rows (large suffix) are
        # then the doc's rarest terms.
        wsfx = Window.partitionBy("doc") \
            .orderBy(F.desc("df"), F.desc("term")) \
            .rowsBetween(Window.unboundedPreceding, 0)
        suff = tv.withColumn(
            "_sfx", F.sum(F.col("w") * F.col("w")).over(wsfx))
        # conservative: tau relaxed 1 mppm (half-up rounding of the
        # reported cosine) and 1e-9 relative slack for the double compare
        tau2 = ((min_cos_mppm - 1) / 1e6) ** 2 * (1 - 1e-9)
        indexed = (
            suff.join(n2, "doc")
            .filter(F.col("_sfx").cast("double")
                    >= F.lit(tau2) * F.col("n2").cast("double"))
            .select("doc", "term")
        )
        ia = indexed.select(F.col("doc").alias("doc_a"), "term")
        ib = indexed.select(F.col("doc").alias("doc_b"), "term")
        cand = (
            ia.join(ib, "term")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        dots = (
            cand.join(tv.select(F.col("doc").alias("doc_a"), "term",
                                F.col("w").alias("_wa")), "doc_a")
            .join(tv.select(F.col("doc").alias("doc_b"), "term",
                            F.col("w").alias("_wb")), ["doc_b", "term"])
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.col("_wa") * F.col("_wb")).cast("long")
                 .alias("dot"),
                 F.count(F.lit(1)).cast("long").alias("n_shared"))
        )
    else:
        a, b = tv.alias("a"), tv.alias("b")
        dots = (
            a.join(b, (F.col("a.term") == F.col("b.term"))
                   & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("doc_a"),
                     F.col("b.doc").alias("doc_b"))
            .agg(F.sum(F.col("a.w") * F.col("b.w")).cast("long")
                 .alias("dot"),
                 F.count(F.lit(1)).cast("long").alias("n_shared"))
        )
    na = n2.select(F.col("doc").alias("doc_a"), F.col("n2").alias("n2a"))
    nb = n2.select(F.col("doc").alias("doc_b"), F.col("n2").alias("n2b"))
    scored = dots.join(na, "doc_a").join(nb, "doc_b").select(
        "doc_a", "doc_b", "n_shared", "dot",
        F.expr(_SPARSE_COS_MPPM).alias("cos_mppm"),
    )
    return scored.filter(F.col("cos_mppm") >= min_cos_mppm)


def TFIDF_PAIR_CTES(table: str = "documents",
                    text_expr: str = "text",
                    id_col: str = "doc_id") -> list[str]:
    """Flat `name AS (body)` parts for the sparse tf-idf pair pipeline:
    toked -> post -> corpus -> dfs -> tv -> n2 -> dots -> spairs
    (doc_a, doc_b, n_shared, dot, cos_mppm).  Spliceable ahead of
    window/QUALIFY consumers — the DuckDB binder rejects a nested WITH
    referenced through window chains (NOTES r6), so composed oracles
    (mutual_knn_docs) need the parts flat, the FS_LINKAGE/KMEANS_TRAIN
    discipline."""
    return [
        f"""toked AS (
  SELECT {id_col}, {TOKENS_SQL(text_expr)} AS toks FROM {table}
)""",
        f"""post AS (
  SELECT term, {id_col}, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT {id_col}, unnest(toks) AS term FROM toked)
  GROUP BY term, {id_col}
)""",
        """corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM toked WHERE len(toks) > 0
)""",
        "dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df"
        " FROM post GROUP BY term)",
        f"""tv AS (
  SELECT p.{id_col} AS doc, p.term,
         CAST(round(CAST(p.tf AS DOUBLE)
                    * ln((1.0 + CAST(c.n_docs AS DOUBLE))
                         / (1.0 + CAST(d.df AS DOUBLE))) * {SCALE}, 0)
              AS BIGINT) AS w
  FROM post p JOIN dfs d ON p.term = d.term CROSS JOIN corpus c
)""",
        "n2 AS (SELECT doc, CAST(sum(w * w) AS BIGINT) AS n2"
        " FROM tv GROUP BY doc)",
        """dots AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b,
         CAST(sum(a.w * b.w) AS BIGINT) AS dot,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM tv a JOIN tv b ON a.term = b.term AND a.doc < b.doc
  GROUP BY 1, 2
)""",
        f"""spairs AS (
  SELECT d.doc_a, d.doc_b, d.n_shared, d.dot, {_SPARSE_COS_MPPM} AS cos_mppm
  FROM (
    SELECT d.doc_a, d.doc_b, d.n_shared, d.dot, na.n2 AS n2a, nb.n2 AS n2b
    FROM dots d
    JOIN n2 na ON na.doc = d.doc_a
    JOIN n2 nb ON nb.doc = d.doc_b
  ) d
)""",
    ]


def TFIDF_COSINE_PAIRS_SQL(min_cos_mppm: int = 900_000,
                           table: str = "documents",
                           text_expr: str = "text",
                           id_col: str = "doc_id") -> str:
    pre = ",\n".join(TFIDF_PAIR_CTES(table, text_expr, id_col))
    return f"""
WITH {pre}
SELECT doc_a, doc_b, n_shared, dot, cos_mppm
FROM spairs WHERE cos_mppm >= {min_cos_mppm}
"""


def rake_keywords(docs: DataFrame, top_n: int = 25,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    the maximal stopword-free token runs (gaps-and-islands per doc),
    word score = degree/frequency where degree sums the lengths of the
    phrases each occurrence sits in, phrase score = sum of member word
    scores — the graph-free complement of textrank_keywords on the same
    corpus.  All integer: word scores are floor-div ppm summed exactly;
    ties break (score DESC, phrase).

    Scale shape: token-scale work is one doc-partitioned window (the
    island id) + three keyed aggs off ONE persisted phrase-token frame;
    the ranking window rides the distinct-phrase aggregate.  Stopwords
    are the shared en list (functions/text.py STOPWORDS) embedded as
    literals on both engines."""
    from pyspark.sql import Window

    from ..functions.text import STOPWORDS
    from .dedup import tokens_col

    stop = STOPWORDS["en"]
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens_col(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc").orderBy("pos")
    ph = (
        toks.filter(~F.col("tok").isin(stop))
        .withColumn("grp", F.col("pos") - F.row_number().over(w))
        .persist()
    )
    inst = ph.groupBy("doc", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("plen"),
        F.concat_ws(" ", F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))),
            lambda s: s["tok"])).alias("phrase"),
    ).persist()
    occ = ph.join(inst.select("doc", "grp", "plen"), ["doc", "grp"])
    wscore = occ.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    ).select("tok", F.expr(
        "CAST(deg * 1000000 div freq AS BIGINT)").alias("wscore"))
    pscore = ph.join(wscore, "tok").groupBy("doc", "grp").agg(
        F.sum("wscore").cast("long").alias("score_ppm"))
    phrases = inst.join(pscore, ["doc", "grp"]).groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ"),
        F.max("plen").cast("long").alias("n_words"),
        F.max("score_ppm").cast("long").alias("score_ppm"),
    )
    wr = Window.orderBy(F.desc("score_ppm"), "phrase")
    return (
        phrases.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= top_n)
    )


def RAKE_KEYWORDS_SQL(top_n: int = 25, table: str = "documents",
                      text_expr: str = "text",
                      id_col: str = "doc_id") -> str:
    from ..functions.text import STOPWORDS

    stop = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH rtoks AS (
  SELECT {id_col} AS doc,
         unnest({TOKENS_SQL(text_expr)}) AS tok,
         generate_subscripts({TOKENS_SQL(text_expr)}, 1) AS pos
  FROM {table}
),
rph AS (
  SELECT doc, tok, pos,
         pos - row_number() OVER (PARTITION BY doc ORDER BY pos) AS grp
  FROM rtoks WHERE tok NOT IN ({stop})
),
rinst AS (
  SELECT doc, grp, CAST(count(*) AS BIGINT) AS plen,
         string_agg(tok, ' ' ORDER BY pos) AS phrase
  FROM rph GROUP BY 1, 2
),
rocc AS (
  SELECT p.tok, i.plen
  FROM rph p JOIN rinst i ON p.doc = i.doc AND p.grp = i.grp
),
rwsc AS (
  SELECT tok,
         CAST(CAST(sum(plen) AS BIGINT) * 1000000
              // CAST(count(*) AS BIGINT) AS BIGINT) AS wscore
  FROM rocc GROUP BY 1
),
rps AS (
  SELECT p.doc, p.grp, CAST(sum(w.wscore) AS BIGINT) AS score_ppm
  FROM rph p JOIN rwsc w ON p.tok = w.tok GROUP BY 1, 2
),
rphr AS (
  SELECT i.phrase, CAST(count(*) AS BIGINT) AS n_occ,
         CAST(max(i.plen) AS BIGINT) AS n_words,
         CAST(max(s.score_ppm) AS BIGINT) AS score_ppm
  FROM rinst i JOIN rps s ON i.doc = s.doc AND i.grp = s.grp
  GROUP BY 1
)
SELECT phrase, n_words, n_occ, score_ppm,
       CAST(row_number() OVER (ORDER BY score_ppm DESC, phrase) AS BIGINT)
         AS rank
FROM rphr QUALIFY rank <= {top_n}
"""


MMR_K = 5
MMR_LAMBDA_TXT = "0.7"          # shared literal text, both engines


def mmr_diverse_topk(emb: DataFrame, k: int = MMR_K,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     cache_out: list | None = None) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) — the diversity-aware selection every RAG context
    builder runs after retrieval: greedily pick the candidate
    maximizing  λ·rel − (1−λ)·max_sim_to_selected  (λ = 0.7), k = 5
    rounds.  The query vector is the id-0 embedding (deterministic
    stand-in for an encoded query); candidates are every other vector.

    Exactness: rel and the pairwise similarities are round(cos, 6) on
    identical IEEE operand sequences (the dedup_embedding_cosine
    discipline); the MMR score 0.7·rel − 0.3·ms combines two identical
    doubles with shared literal text, and round(·, 6) of it can never
    sit on a binary-exact decimal half (denominator 1e7), so the
    argmax — tie-broken by id — is bit-identical cross-engine.

    Scale: this operator re-ranks a RETRIEVED candidate pool (run it
    after ann/bm25 top-N, as MMR is defined); each of the k rounds is
    one scan of the pool joined against the <= k-1 selected rows
    (broadcast) + a TakeOrdered(1).  Nothing quadratic in the pool,
    nothing driver-side.  ``cache_out`` collects the persisted rel
    frame so sweep callers can release it (the shapley_core /
    plsa_second_round discipline)."""
    from ..functions.vector import cosine, to_double_array

    base = emb.select(
        F.col(id_col).cast("long").alias("vid"),
        to_double_array(vec_col).alias("v"),
    )
    qv = base.where("vid = 0").select(
        F.col("vid").alias("qid"), F.col("v").alias("qv"))
    rel = (
        base.where("vid != 0")
        .crossJoin(F.broadcast(qv))
        .select("vid", "v", F.round(cosine("v", "qv"), 6).alias("rel"))
        .persist()
    )
    if cache_out is not None:
        cache_out.append(rel)
    sel = (
        rel.orderBy(F.desc("rel"), "vid").limit(1)
        .select("vid", "v", "rel",
                F.lit(None).cast("double").alias("maxsim"),
                F.col("rel").alias("score"),
                F.lit(1).cast("long").alias("rank"))
    )
    for r in range(2, k + 1):
        picked = sel.select(
            F.col("vid").alias("svid"), F.col("v").alias("sv"))
        cand = (
            rel.join(picked.select(F.col("svid").alias("vid")),
                     "vid", "left_anti")
            .crossJoin(F.broadcast(picked))
            .groupBy("vid")
            .agg(F.first("v").alias("v"), F.first("rel").alias("rel"),
                 F.max(F.round(cosine("v", "sv"), 6)).alias("maxsim"))
        )
        scored = cand.select(
            "vid", "v", "rel", "maxsim",
            F.round(F.expr(f"{MMR_LAMBDA_TXT} * rel"
                           f" - (1.0 - {MMR_LAMBDA_TXT}) * maxsim"), 6)
            .alias("score"),
        )
        nxt = scored.orderBy(F.desc("score"), "vid").limit(1) \
            .withColumn("rank", F.lit(r).cast("long"))
        sel = sel.unionByName(nxt)
    return sel.select("rank", F.col("vid").alias(id_col), "rel",
                      "maxsim", "score")


def MMR_SQL(k: int = MMR_K, table: str = "embeddings",
            id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    lam = MMR_LAMBDA_TXT
    cos = ("round(list_inner_product({a}, {b})"
           " / (sqrt(list_inner_product({a}, {a}))"
           " * sqrt(list_inner_product({b}, {b}))), 6)")
    ctes = [f"""emb AS (
  SELECT CAST({id_col} AS BIGINT) AS vid,
         CAST({vec_col} AS DOUBLE[]) AS v
  FROM {table}
)""", f"""qv AS (SELECT v AS q FROM emb WHERE vid = 0)""", f"""rel AS (
  SELECT vid, v, {cos.format(a='v', b='q')} AS rel
  FROM emb, qv WHERE vid != 0
)""", """sel1 AS (
  SELECT vid, v, rel, CAST(NULL AS DOUBLE) AS maxsim, rel AS score,
         CAST(1 AS BIGINT) AS rank
  FROM rel ORDER BY rel DESC, vid LIMIT 1
)"""]
    for r in range(2, k + 1):
        prev = f"sel{r - 1}"
        ctes.append(f"""cand{r} AS (
  SELECT c.vid, c.v, c.rel,
         max({cos.format(a='c.v', b='s.v')}) AS maxsim
  FROM rel c CROSS JOIN {prev} s
  WHERE c.vid NOT IN (SELECT vid FROM {prev})
  GROUP BY 1, 2, 3
)""")
        ctes.append(f"""pick{r} AS (
  SELECT vid, v, rel, maxsim,
         round({lam} * rel - (1.0 - {lam}) * maxsim, 6) AS score,
         CAST({r} AS BIGINT) AS rank
  FROM cand{r}
  ORDER BY round({lam} * rel - (1.0 - {lam}) * maxsim, 6) DESC, vid
  LIMIT 1
)""")
        ctes.append(
            f"sel{r} AS (SELECT * FROM {prev}"
            f" UNION ALL SELECT * FROM pick{r})")
    return (f"WITH {', '.join(ctes)}\n"
            f"SELECT rank, vid AS {id_col}, rel, maxsim, score"
            f" FROM sel{k}")


FACLOC_K = 4          # greedy rounds
FACLOC_CAND = 64      # bounded candidate pool (lowest-id vectors)
FACLOC_QUANT = 1000   # global embedding quantization (semdedup scale)


def facility_location_select(emb: DataFrame, k: int = FACLOC_K,
                             n_cand: int = FACLOC_CAND,
                             quant: int = FACLOC_QUANT,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             cache_out: list | None = None) -> DataFrame:
    """Greedy facility-location data selection (Lin & Bilmes, ACL 2011;
    the submodular-coverage objective behind coreset/fine-tuning-data
    selection): pick k representatives maximizing

        F(A) = Σ_d max(0, max_{c∈A} sim(d, c)),

    greedily — each round adds the candidate with the largest coverage
    gain Σ_d max(0, sim(d,c) − cover_d) (1−1/e guarantee by
    submodularity).  Similarity is the INNER PRODUCT of the globally
    quantized integer vectors (the semdedup quantization): every
    per-document term, gain, and the objective are exact BIGINTs — no
    float sums anywhere, so the greedy argmax (ties to the smallest
    id) is engine-identical.

    Candidates are the ``n_cand`` lowest-id vectors (the bounded
    candidate-pool discipline MMR uses — facility location's gain
    evaluation is pool x candidates, so the candidate set must be
    bounded for the plan to scale; production swaps in a retrieved or
    sampled pool).  Output: (rank, vec_id, gain, objective) per
    selected round, objective = running F(A).

    Scale: the n_cand candidate vectors collapse to ONE bounded row
    (n_cand x dim quantized ints — model-scale, the kmeans-seed
    shape) collected once, and every per-document candidate-dot
    vector is ONE vectorized int64 matmul per Arrow batch inside a
    mapInPandas kernel (guide §4.2: let Spark distribute, let numpy
    crunch; int64 matmul is exact and bit-identical to the fold) —
    the operator performs ZERO document-scale shuffles (review r12:
    the pre-r12 shape shuffled an explode-join dot frame at packing
    and re-shuffled it per round for the coverage join; the r12-ext
    shape kept it row-local but paid n_cand interpreted
    zip_with/aggregate lambda folds per row, ~0.5 ms/row).  The
    packed (vid, d0..d{n_cand-1}) frame persists once; each greedy
    round is ONE ungrouped map-side-combined HashAggregate of n_cand
    sums over it — coverage max(0, max_{p∈A} d_p) inlines as a
    literal greatest() over the picked positions, plain codegen'd
    column arithmetic (no explode into an n_cand-key hash, no
    per-round sort, no lambdas) — and its single aggregated row is
    the per-round collect (the kmeans/BPE bounded driver-loop
    discipline); the argmax/tie-break runs on the driver over those
    n_cand bounded values.  Envelope: |qv| <= quant·|x|, dot <=
    dim·(quant·|x|)², summed over n docs — < 2^63 through ~1e9 docs
    at the testdata scale."""
    # TRY_CAST: a NaN or infinite element quantizes to NULL, so its row
    # degrades to NULL dots like any other malformed row
    qdoc = emb.select(
        F.col(id_col).cast("long").alias("vid"),
        F.expr(
            f"transform({vec_col}, x -> TRY_CAST(round(CAST(x AS DOUBLE)"
            f" * {quant}, 0) AS BIGINT))").alias("qv"),
    )
    candv = qdoc.filter(F.col("vid") < n_cand).agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("vid").alias("c"), F.col("qv").alias("v"))))
        .alias("cands"))
    # Bounded collect: the n_cand x dim quantized candidate matrix
    # (the kmeans-seed / OPQ-codebook shape) — it seeds both the
    # executor-side matmul closure and the driver's position -> id map
    cands = candv.collect()[0]["cands"] or []
    cids = [int(cc["c"]) for cc in cands]
    if not cids:
        return emb.sparkSession.createDataFrame(
            [], f"rank long, {id_col} long, gain long, objective long")
    import numpy as np
    import pandas as pd

    cmat_t = np.array([list(cc["v"]) for cc in cands],
                      dtype=np.int64).T    # dim x n_c
    n_c = len(cids)
    dot_schema = "vid long, " + ", ".join(f"d{i} long" for i in range(n_c))

    def dot_block(batches):
        # per-document candidate dots as ONE vectorized int64 matmul
        # per Arrow batch (guide §4.2: batches to native code) — the
        # r12-opt replacement for n_cand interpreted zip_with/aggregate
        # lambda folds per row, which cost ~0.5 ms/row; int64 matmul is
        # exact, bit-identical to the fold
        dim = cmat_t.shape[0]

        def masked_cols(ok, Dv, n_rows, out):
            # malformed rows degrade to NULL dots — exactly what the
            # pre-r12 row-local zip_with/aggregate fold produced — and
            # the round sums skip them like any other null (ADVICE r12)
            Dfull = np.zeros((n_rows, n_c), dtype=np.int64)
            Dfull[ok] = Dv
            for i in range(n_c):
                col = pd.array(Dfull[:, i], dtype="Int64")
                col[~ok] = pd.NA
                out[f"d{i}"] = col

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vals = pdf["qv"].tolist()
            out = {"vid": pdf["vid"].to_numpy()}
            try:
                X = np.array(vals)
            except ValueError:       # ragged (numpy >= 1.24 raises)
                X = np.empty(len(vals), dtype=object)
                X[:] = vals
            if X.ndim == 2 and X.shape[1] == dim and X.dtype.kind in "iu":
                # fast path (all rows well-formed): ONE matmul, no
                # per-row work — a null element would have made the
                # batch float (nan) or object, never integer
                D = X.astype(np.int64, copy=False) @ cmat_t  # rows x n_c
                for i in range(n_c):
                    out[f"d{i}"] = D[:, i]
            elif X.ndim == 2 and X.shape[1] == dim and X.dtype.kind == "f":
                # right-width rows with nulls (Arrow nulls surface as
                # nan in a float batch — an unguarded int64 cast of nan
                # is silent garbage, not an error): mask them out
                ok = np.isfinite(X).all(axis=1)
                Dv = X[ok].astype(np.int64) @ cmat_t
                masked_cols(ok, Dv, len(vals), out)
            else:
                # object / ragged / null rows: validate row-by-row
                rows = []
                ok = np.zeros(len(vals), dtype=bool)
                for j, v in enumerate(vals):
                    if v is None:
                        continue
                    try:
                        a = np.asarray(v, dtype=np.float64)
                    except (ValueError, TypeError):
                        continue
                    if a.shape == (dim,) and np.isfinite(a).all():
                        ok[j] = True
                        rows.append(np.asarray(a, dtype=np.int64))
                Dv = (np.array(rows, dtype=np.int64).reshape(-1, dim)
                      @ cmat_t)
                masked_cols(ok, Dv, len(vals), out)
            yield pd.DataFrame(out)

    packed = qdoc.mapInPandas(dot_block, schema=dot_schema).persist()
    if cache_out is not None:
        cache_out.append(packed)
    picks: list[tuple[int, int]] = []   # (cid, gain) per greedy round
    for _ in range(k):
        # coverage = max(0, max_{p in picks} d_p) inlined as a literal
        # greatest() over the picked POSITIONS — plain codegen'd column
        # arithmetic, no lambda, no per-round broadcast; the round is
        # ONE ungrouped map-side-combined HashAggregate of n_cand sums
        pos = {c: i for i, c in enumerate(cids)}
        cov = ("greatest(CAST(0 AS BIGINT)"
               + "".join(f", d{pos[c]}" for c, _ in picks) + ")"
               if picks else "CAST(0 AS BIGINT)")
        row = packed.agg(
            *[F.sum(F.expr(f"greatest(d{i} - {cov}, CAST(0 AS BIGINT))"))
              .cast("long").alias(f"g{i}") for i in range(n_c)],
        ).collect()[0]
        taken = {c for c, _ in picks}
        best = None                      # (gain desc, cid asc) argmax
        for i, cid in enumerate(cids):
            gain = row[f"g{i}"]
            if gain is None or cid in taken:
                continue
            if best is None or gain > best[1]:
                best = (cid, gain)
        if best is None:
            break
        picks.append(best)
    rows, obj = [], 0
    for rank, (cid, gain) in enumerate(picks, 1):
        obj += gain
        rows.append((rank, cid, gain, obj))
    return emb.sparkSession.createDataFrame(
        rows, f"rank long, {id_col} long, gain long, objective long")


def FACLOC_SQL(k: int = FACLOC_K, n_cand: int = FACLOC_CAND,
               quant: int = FACLOC_QUANT, table: str = "embeddings",
               id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    # q keeps only the rows the engine's kernel dots: non-NULL, the
    # candidates' width, every element non-NULL and finite (the engine
    # degrades the others to NULL dots, which the round sums skip)
    ctes = [f"""q AS (
  SELECT CAST({id_col} AS BIGINT) AS vid,
         generate_subscripts({vec_col}, 1) AS pos,
         CAST(round(CAST(unnest({vec_col}) AS DOUBLE) * {quant}.0, 0)
              AS BIGINT) AS qv
  FROM {table}
  WHERE len({vec_col})
        = (SELECT max(len({vec_col})) FROM {table} WHERE {id_col} < {n_cand})
    AND len(list_filter({vec_col}, x -> isfinite(CAST(x AS DOUBLE))))
        = len({vec_col})
)""", f"""dots AS (
  SELECT p.vid, c.vid AS cid, CAST(sum(p.qv * c.qv) AS BIGINT) AS d
  FROM q p JOIN q c ON c.pos = p.pos AND c.vid < {n_cand}
  GROUP BY 1, 2
)""", """sel1 AS (
  SELECT cid, gain, CAST(1 AS BIGINT) AS rank
  FROM (SELECT cid, CAST(sum(greatest(d, 0)) AS BIGINT) AS gain
        FROM dots GROUP BY 1)
  ORDER BY gain DESC, cid LIMIT 1
)"""]
    for r in range(2, k + 1):
        prev = f"sel{r - 1}"
        ctes.append(f"""cov{r} AS (
  SELECT vid, greatest(max(d), 0) AS cov
  FROM dots WHERE cid IN (SELECT cid FROM {prev})
  GROUP BY 1
)""")
        ctes.append(f"""pick{r} AS (
  SELECT cid, gain, CAST({r} AS BIGINT) AS rank
  FROM (
    SELECT t.cid,
           CAST(sum(greatest(t.d - coalesce(c.cov, 0), 0)) AS BIGINT)
             AS gain
    FROM dots t LEFT JOIN cov{r} c ON c.vid = t.vid
    WHERE t.cid NOT IN (SELECT cid FROM {prev})
    GROUP BY 1
  )
  ORDER BY gain DESC, cid LIMIT 1
)""")
        ctes.append(
            f"sel{r} AS (SELECT * FROM {prev}"
            f" UNION ALL SELECT * FROM pick{r})")
    return (f"WITH {', '.join(ctes)}\n"
            f"SELECT rank, cid AS {id_col}, gain,\n"
            f"       CAST(sum(gain) OVER (ORDER BY rank"
            f" ROWS UNBOUNDED PRECEDING) AS BIGINT) AS objective\n"
            f"FROM sel{k}")


ROCCHIO_FB_K = 5       # pseudo-relevant feedback depth
ROCCHIO_TOP = 10       # expansion terms reported
# β = 0.75 as the exact rational 3/4 (α·q is the unchanged original
# term set, reported separately; γ = 0 — no negative feedback set)
ROCCHIO_BETA_NUM, ROCCHIO_BETA_DEN = 3, 4


def rocchio_expansion(docs: DataFrame, query_terms: DataFrame,
                      query_id: int, fb_k: int = ROCCHIO_FB_K,
                      top_n: int = ROCCHIO_TOP,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Rocchio pseudo-relevance feedback (Rocchio 1971; the classic
    query-expansion step every lexical retrieval stack still runs):
    take the query's top ``fb_k`` BM25 documents as pseudo-relevant,
    average their tf-idf vectors, and report the ``top_n`` highest-
    weighted terms NOT already in the query — the terms that expand
    recall on the next retrieval round.

    Exactness: the centroid stays integer — score_q = 3·Σ tfidf_q div
    (4·fb_k) (β = 3/4 exact; tfidf_q is the repo's quantized integer
    weight) — so the ranking (score DESC, term) is engine-identical.

    Output: (rank, term, n_fb_docs, df, score_q).

    Scale: the feedback set is fb_k doc ids (broadcast semi-join into
    the postings frame — touches fb_k documents' terms only); the
    centroid is one term-keyed agg; top-n is a bounded window."""
    fb = (
        bm25_topk(docs, query_terms, k=fb_k, text_col=text_col,
                  id_col=id_col)
        .filter(F.col("query_id") == query_id)
        .select(id_col)
    )
    tf = tfidf_doc_vectors(docs, text_col, id_col)
    cent = (
        tf.join(F.broadcast(fb), id_col)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n_fb_docs"),
             F.max("df").cast("long").alias("df"),
             F.sum("tfidf_q").cast("long").alias("s"))
        .select(
            "term", "n_fb_docs", "df",
            F.expr(f"CAST({ROCCHIO_BETA_NUM} * s"
                   f" div ({ROCCHIO_BETA_DEN} * {fb_k}) AS BIGINT)")
            .alias("score_q"),
        )
    )
    expand = cent.join(
        F.broadcast(query_terms.filter(F.col("query_id") == query_id)
                    .select("term")),
        "term", "left_anti")
    w = Window.orderBy(F.desc("score_q"), "term")
    return (
        expand.select("*", F.row_number().over(w).cast("long")
                      .alias("rank"))
        .where(F.col("rank") <= top_n)
        .select("rank", "term", "n_fb_docs", "df", "score_q")
    )


def ROCCHIO_SQL(queries: list, query_id: int, fb_k: int = ROCCHIO_FB_K,
                top_n: int = ROCCHIO_TOP, table: str = "documents",
                text_expr: str = "text", id_col: str = "doc_id") -> str:
    qterms = ", ".join(
        f"('{t}')" for qid, terms in queries for t in terms
        if qid == query_id)
    return f"""
WITH fb AS (
  SELECT {id_col} FROM ({BM25_TOPK_SQL(queries, k=fb_k, table=table,
                                       text_expr=text_expr,
                                       id_col=id_col)})
  WHERE query_id = {query_id}
),
tfv AS ({TFIDF_SQL(table, text_expr, id_col)}),
cent AS (
  SELECT t.term, CAST(count(*) AS BIGINT) AS n_fb_docs,
         CAST(max(t.df) AS BIGINT) AS df,
         CAST({ROCCHIO_BETA_NUM} * sum(t.tfidf_q)
              // ({ROCCHIO_BETA_DEN} * {fb_k}) AS BIGINT) AS score_q
  FROM tfv t JOIN fb ON fb.{id_col} = t.{id_col}
  GROUP BY 1
),
expand AS (
  SELECT * FROM cent
  WHERE term NOT IN (SELECT q FROM (VALUES {qterms}) v(q))
)
SELECT CAST(row_number() OVER (ORDER BY score_q DESC, term) AS BIGINT)
         AS rank,
       term, n_fb_docs, df, score_q
FROM expand
QUALIFY rank <= {top_n}
"""
