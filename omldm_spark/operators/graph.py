"""Iterative graph analytics as DataFrame rounds (beyond-reference §2.11).

PageRank here is the all-integer, fixed-round variant: rank state lives in
BIGINT micro-units and every per-round contribution is an integer division,
so R rounds produce BIT-IDENTICAL state on any engine and any partitioning
(float PageRank re-associates sums across partitions and drifts in the last
ulps — unacceptable for a cross-engine oracle).  The reference has no graph
surface; this extends the engine the same way the dedup/ANN families do,
with the recurrence declared once and the DuckDB oracle generated as R
chained CTEs from the same constants.

Scale shape (100 TB): edges are the corpus-scale relation and are shuffled
ONCE by src into the per-round join; rank state is vertex-scale and
re-shuffles by vertex id each round (unavoidable for power iteration —
GraphX/Pregel does the same vertex-state exchange).  At billions of vertices
neither side is broadcastable and the joins degrade gracefully to
co-partitioned shuffle joins on the same key, which AQE picks without hints;
each round's state should be checkpointed in production to cut lineage
(documented, not forced, here — R is small in the contract query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Damping 0.85 as the integer ratio 850/1000; rank unit = 1e6 micro-rank.
INIT_PR = 1_000_000
BASE_PR = 150_000
DAMP_NUM = 850
DAMP_DEN = 1000


def pagerank_rounds(edges: DataFrame, rounds: int) -> DataFrame:
    """Run ``rounds`` integer power-iteration steps over a directed edge
    list (columns ``src``, ``dst``; every vertex must appear as a src —
    feed symmetric edges or pre-handle danglers).

    Recurrence (all BIGINT, div = truncating integer division):

        pr_{t+1}(v) = BASE_PR + sum_{(u,v) in E} (pr_t(u) * 850) div (1000 * outdeg(u))

    Per round: ranks join the degree-annotated edges on src (map-side
    under AQE when the vertex state is small; co-partitioned shuffle
    join at scale), then ONE groupBy(dst) with map-side partial sums.
    Mass lost to floor division is deliberate — determinism buys the
    exact oracle.

    r12-opt (guide §2.1/§3.1): the static outdeg is attached to every
    edge ONCE, up front, and the annotated edge list is an eager
    src-partitioned localCheckpoint leaf — each round then runs ONE
    vertex-scale join (ranks, exchanged by id) + the dst aggregation
    instead of two joins against lazily-persisted frames whose plans
    re-embedded the caller's fact-table derivation per reference
    (14 scans in the 3-round plan before the persist, ~8 re-analyzed
    subtrees even with it)."""
    edges = edges.persist()
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    ew = (
        edges.join(deg, "src")
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    edges.unpersist()
    ranks = ew.select("src", "outdeg").distinct().select(
        F.col("src").alias("v"), F.lit(INIT_PR).cast("long").alias("pr")
    )
    for _ in range(rounds):
        contrib = (
            ew.join(ranks, ew["src"] == ranks["v"])
            .select(
                F.col("dst").alias("v"),
                F.expr(
                    f"(pr * CAST({DAMP_NUM} AS BIGINT))"
                    f" div (CAST({DAMP_DEN} AS BIGINT) * outdeg)"
                ).alias("c"),
            )
        )
        ranks = contrib.groupBy("v").agg(
            (F.lit(BASE_PR).cast("long") + F.sum("c").cast("long"))
            .cast("long").alias("pr")
        )
    return ranks


# Shared derivation: the bipartite user <-> props.k interaction graph from
# the event log.  Vertex ids are disjoint by parity (user*2, k*2+1); every
# edge is emitted in both directions so no vertex dangles.  regexp_extract /
# CAST text is identical in Spark and DuckDB.
PAIRS_SQL = """
SELECT DISTINCT user_id AS u,
       CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT) AS k
FROM events
"""

EDGES_SQL = """
SELECT u * 2 AS src, k * 2 + 1 AS dst FROM pairs
UNION ALL
SELECT k * 2 + 1 AS src, u * 2 AS dst FROM pairs
"""


def PAGERANK_ROUNDS_CTES(rounds: int, idiv: str = "//",
                         edges_cte: str = "edges") -> list[str]:
    """The recurrence as flat CTE parts over an EXISTING ``edges_cte``
    (src, dst) relation — splice after your own graph-derivation CTEs
    (the flat-CTE composition rule: DuckDB cannot bind nested WITHs
    inside recursive members, and flat parts compose for free).  Final
    state is ``r{rounds}`` (v, pr)."""
    ctes = [
        f"deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS outdeg"
        f" FROM {edges_cte} GROUP BY src)",
        f"r0 AS (SELECT v, CAST({INIT_PR} AS BIGINT) AS pr FROM deg)",
    ]
    for t in range(rounds):
        ctes.append(
            f"""r{t + 1} AS (
  SELECT e.dst AS v,
         CAST({BASE_PR} + sum((r.pr * CAST({DAMP_NUM} AS BIGINT))
              {idiv} (CAST({DAMP_DEN} AS BIGINT) * d.outdeg)) AS BIGINT) AS pr
  FROM {edges_cte} e
  JOIN r{t} r ON e.src = r.v
  JOIN deg d ON e.src = d.v
  GROUP BY e.dst
)"""
        )
    return ctes


def PAGERANK_EVENTS_SQL(rounds: int, idiv: str = "//") -> str:
    """The chained-CTE DuckDB oracle: same constants, same truncating
    integer division (``//`` in DuckDB, ``div`` in Spark — all operands
    positive, so both truncate to the same floor)."""
    ctes = [
        f"pairs AS ({PAIRS_SQL})",
        f"edges AS ({EDGES_SQL})",
    ] + PAGERANK_ROUNDS_CTES(rounds, idiv)
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT v, pr FROM r{rounds}"
    )


# ---------------------------------------------------------------------------
# Multi-source BFS (shortest unweighted hop distance)
# ---------------------------------------------------------------------------

def bfs_rounds(edges: DataFrame, seeds: DataFrame, rounds: int) -> DataFrame:
    """``rounds`` synchronous BFS expansions from a seed vertex set over a
    directed edge list (``src``, ``dst``): after round R, every vertex
    whose hop distance from the nearest seed is <= R carries that EXACT
    distance (min-plus semiring power iteration — the label-correcting
    twin of pagerank_rounds' sum-times iteration).

    State after each round is the REACHED set only (frontier + interior),
    so early rounds are tiny however large the graph; each round is one
    join of edges with the reached set keyed by src + one min-groupBy on
    dst with map-side combine. All-BIGINT distances — bit-identical on any
    engine/partitioning, so the oracle is the same recurrence as chained
    CTEs. At diameter-many rounds this IS single-source/multi-source
    shortest paths for unweighted graphs; weighted min-plus drops in by
    replacing d + 1 with d + w.

    Edges persist once and the reached set localCheckpoints per round —
    the cc_alternating_stars lineage discipline: the recurrence
    references its previous round TWICE (direct union + join), so an
    un-truncated plan subtree doubles per round and re-derived the
    seed/fact scans 2^rounds times (measured 46 parquet scans at 4
    rounds); with truncation every round is one bounded join + one
    keyed agg over materialized state."""
    edges = edges.persist()
    reached = seeds.select(
        F.col("v").cast("long").alias("v"),
        F.lit(0).cast("long").alias("d"),
    ).distinct().localCheckpoint()
    for _ in range(rounds):
        expanded = edges.join(reached, edges["src"] == reached["v"]).select(
            F.col("dst").alias("v"), (F.col("d") + 1).cast("long").alias("d")
        )
        reached = (
            reached.unionByName(expanded)
            .groupBy("v")
            .agg(F.min("d").cast("long").alias("d"))
        ).localCheckpoint()
    return reached


def BFS_EVENTS_SQL(rounds: int, seed_pred: str = "user_id < 3") -> str:
    """Chained-CTE DuckDB oracle for bfs_rounds over the bipartite
    user <-> props.k event graph (PAIRS_SQL/EDGES_SQL), seeded from the
    user vertices matching ``seed_pred``."""
    ctes = [
        f"pairs AS ({PAIRS_SQL})",
        f"edges AS ({EDGES_SQL})",
        "r0 AS (SELECT DISTINCT user_id * 2 AS v, CAST(0 AS BIGINT) AS d"
        f" FROM events WHERE {seed_pred})",
    ]
    for t in range(rounds):
        ctes.append(
            f"""r{t + 1} AS (
  SELECT v, CAST(min(d) AS BIGINT) AS d FROM (
    SELECT v, d FROM r{t}
    UNION ALL
    SELECT e.dst AS v, r.d + 1 AS d FROM edges e JOIN r{t} r ON e.src = r.v
  ) GROUP BY v
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT v, CAST(v % 2 AS BIGINT) AS is_item,
       CAST(v // 2 AS BIGINT) AS orig_id, d
FROM r{rounds}"""
    )


# ---------------------------------------------------------------------------
# Synchronous label propagation (community detection)
# ---------------------------------------------------------------------------

def label_propagation_rounds(edges: DataFrame, rounds: int) -> DataFrame:
    """``rounds`` SYNCHRONOUS label-propagation steps over a directed
    edge list (Raghavan et al., Phys. Rev. E 2007, made deterministic):
    every vertex starts as its own label and each round adopts the most
    frequent label among its neighbors, ties broken by the SMALLEST
    label — the randomized pick of the paper is replaced by a total
    order so the result is engine-exact and oracle-checkable.

    Per round: ONE join of edges with the label state keyed by src,
    ONE (dst, lbl) count with map-side combine, then the argmax as a
    plain max over (cnt, -lbl) structs — a second keyed agg, NOT a
    window, so the round is two shuffles bounded by |E| and |V x lbl|
    and nothing funnels through single tasks.  Community detection for
    the covisitation/interaction graphs the dedup CC family doesn't
    cover: CC finds connected blobs, LPA splits dense blobs into
    communities.  Edges persist once; every round reads the
    materialization, not a re-derived scan."""
    edges = edges.persist()
    verts = edges.select(F.col("src").alias("v")).distinct()
    labels = verts.select("v", F.col("v").cast("long").alias("lbl"))
    for _ in range(rounds):
        cnt = (
            edges.join(labels, edges["src"] == labels["v"])
            .groupBy(F.col("dst"), F.col("lbl"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        labels = (
            cnt.groupBy("dst")
            .agg(F.max(F.struct(
                F.col("cnt"),
                (-F.col("lbl")).alias("neg_lbl"),
            )).alias("m"))
            .select(F.col("dst").alias("v"),
                    (-F.col("m.neg_lbl")).cast("long").alias("lbl"))
        )
    return labels


def LABEL_PROP_EVENTS_SQL(rounds: int) -> str:
    """Chained-CTE DuckDB oracle for label_propagation_rounds over the
    bipartite user <-> props.k event graph (PAIRS_SQL/EDGES_SQL);
    QUALIFY row_number is DuckDB's spelling of the same
    (cnt DESC, lbl ASC) argmax."""
    ctes = [
        f"pairs AS ({PAIRS_SQL})",
        f"edges AS ({EDGES_SQL})",
        "l0 AS (SELECT DISTINCT src AS v, CAST(src AS BIGINT) AS lbl"
        " FROM edges)",
    ]
    for t in range(rounds):
        ctes.append(
            f"""l{t + 1} AS (
  SELECT v, lbl FROM (
    SELECT e.dst AS v, l.lbl, CAST(count(*) AS BIGINT) AS cnt
    FROM edges e JOIN l{t} l ON e.src = l.v
    GROUP BY e.dst, l.lbl
  ) QUALIFY row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lbl) = 1
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT v, CAST(v % 2 AS BIGINT) AS is_item,
       CAST(v // 2 AS BIGINT) AS orig_id,
       lbl AS community
FROM l{rounds}"""
    )


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-round synchronous peeling)
# ---------------------------------------------------------------------------

def kcore_rounds(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """``rounds`` synchronous peeling steps toward the k-core of a
    symmetric edge list (``src``, ``dst``): each round drops every vertex
    whose degree WITHIN the current survivor set is < k (Matula/Beck
    1983; the BSP formulation is Montresor et al. TPDS 2013).  After
    enough rounds the survivor set is exactly the k-core — the maximal
    subgraph with minimum degree >= k, the standard "dense kernel"
    filter a graph-mining pipeline runs before community detection.

    Per round: survivors semi-join the edge list on BOTH endpoints (two
    keyed joins, each shuffling at most |E| rows on the vertex key), one
    count-groupBy with map-side combine, one filter.  The peeling is
    monotone (survivor set only shrinks), so at scale the per-round cost
    FALLS as the periphery burns off; the edge relation is persisted
    once and every round reads the materialization.  The recurrence
    references its previous round TWICE (both endpoint joins), so each
    round localCheckpoints — the bfs_rounds lineage discipline (an
    un-truncated subtree doubles per round).

    Returns survivors after round R with their within-core degree.
    Fixed R (not run-to-fixpoint) keeps the oracle a finite chained-CTE
    unroll; callers pin fixpoint by checking round R == R-1 where the
    contract needs the true core (tests do)."""
    edges = edges.persist()
    surv = edges.select(F.col("src").alias("v")).distinct().localCheckpoint()
    out = None
    for _ in range(rounds):
        alive = (
            edges
            .join(surv.withColumnRenamed("v", "src"), "src")
            .join(surv.withColumnRenamed("v", "dst"), "dst")
        )
        deg = alive.groupBy("src").agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        out = deg.filter(F.col("deg") >= k).localCheckpoint()
        surv = out.select(F.col("src").alias("v"))
    return out.select(F.col("src").alias("v"), "deg")


def KCORE_EVENTS_SQL(k: int, rounds: int) -> str:
    """Chained-CTE DuckDB oracle for kcore_rounds over the bipartite
    user <-> props.k event graph (PAIRS_SQL/EDGES_SQL): the same
    peel-below-k recurrence unrolled R times."""
    ctes = [
        f"pairs AS ({PAIRS_SQL})",
        f"edges AS ({EDGES_SQL})",
        "s0 AS (SELECT DISTINCT src AS v FROM edges)",
    ]
    for t in range(rounds):
        ctes.append(
            f"""s{t + 1} AS (
  SELECT e.src AS v, CAST(count(*) AS BIGINT) AS deg
  FROM edges e
  JOIN s{t} a ON e.src = a.v
  JOIN s{t} b ON e.dst = b.v
  GROUP BY e.src
  HAVING count(*) >= {k}
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT v, CAST(v % 2 AS BIGINT) AS is_item,
       CAST(v // 2 AS BIGINT) AS orig_id, deg
FROM s{rounds}"""
    )


def wl_refinement(nodes: DataFrame, sym_edges: DataFrame,
                  rounds: int = 3) -> DataFrame:
    """Weisfeiler-Lehman label refinement (1-WL color refinement;
    Weisfeiler & Lehman 1968, the graph-feature hash of WL-kernels,
    Shervashidze et al. JMLR 2011): label_0 = degree; each round,
    label(v) = md5(label(v) || '|' || comma-joined SORTED multiset of
    neighbor labels).  After R rounds two vertices share a label iff
    their radius-R neighborhood structure is 1-WL-indistinguishable —
    the canonical cheap structural fingerprint for entity graphs
    (dedup of near-isomorphic subgraphs, orbit detection, graph
    feature hashing).

    ``nodes``: one column ``item``; ``sym_edges``: symmetric
    (src, dst).  Output (item, wl_label, class_size) where class_size
    is the number of vertices sharing the final label.

    Exactness: labels are md5 hex strings of deterministic
    concatenations — identical on any engine with md5 + lexicographic
    string sort (the oracle unrolls the same R rounds as chained
    CTEs).  Scale shape: one edges-by-dst join + one src-keyed
    sort-agg per round (the GraphX aggregateMessages shape); label
    state is vertex-scale and PERSISTED per round — the recurrence
    references the previous round twice (self label + neighbor
    labels), so an un-truncated plan subtree would double per round
    (the BFS lineage lesson).
    """
    # eager edge leaf (r12-opt, the luby_mis discipline): the recurrence
    # reads sym_edges once per round PLUS the degree seed — without the
    # cut every reference re-embeds (and re-executes) the caller's whole
    # edge derivation, e.g. the wl_item_classes fact-scale co-occurrence
    # self-join: 85 parquet scans in one plan, 4.9 s -> 1.7 s at sf0.1
    sym_edges = sym_edges.localCheckpoint(eager=True)
    deg = sym_edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("_d"))
    lbl = (
        nodes.join(deg.withColumnRenamed("src", "item"), "item", "left")
        .select("item",
                F.coalesce(F.col("_d"), F.lit(0)).cast("string").alias("lbl"))
    )
    for _ in range(rounds):
        lbl = lbl.persist()
        nb = (
            sym_edges.join(
                lbl.select(F.col("item").alias("dst"),
                           F.col("lbl").alias("_nlbl")), "dst")
            .groupBy("src")
            .agg(F.concat_ws(
                ",", F.sort_array(F.collect_list("_nlbl"))).alias("_nbs"))
        )
        lbl = (
            lbl.join(nb.withColumnRenamed("src", "item"), "item", "left")
            .select("item", F.md5(F.concat(
                F.col("lbl"), F.lit("|"),
                F.coalesce(F.col("_nbs"), F.lit("")))).alias("lbl"))
        )
    from pyspark.sql import Window
    w = Window.partitionBy("lbl")
    return lbl.select(
        F.col("item").cast("long").alias("item"),
        F.col("lbl").alias("wl_label"),
        F.count(F.lit(1)).over(w).cast("long").alias("class_size"),
    )


def WL_ROUNDS_CTES(rounds: int = 3) -> list[str]:
    """Flat `name AS (body)` parts unrolling the same recurrence:
    expects ``sym`` (src, dst) and ``wl_nodes`` (item) CTEs upstream;
    yields ``l{rounds}`` (item, lbl)."""
    parts = [
        "wl_deg AS (SELECT src AS item, CAST(count(*) AS BIGINT) AS d"
        " FROM sym GROUP BY 1)",
        "l0 AS (SELECT n.item,"
        " CAST(COALESCE(wl_deg.d, 0) AS VARCHAR) AS lbl"
        " FROM wl_nodes n LEFT JOIN wl_deg ON n.item = wl_deg.item)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"n{r} AS (SELECT s.src AS item,"
            f" string_agg(l.lbl, ',' ORDER BY l.lbl) AS nbs"
            f" FROM sym s JOIN l{r - 1} l ON s.dst = l.item GROUP BY 1)")
        parts.append(
            f"l{r} AS MATERIALIZED (SELECT l.item,"
            f" md5(l.lbl || '|' || COALESCE(n{r}.nbs, '')) AS lbl"
            f" FROM l{r - 1} l LEFT JOIN n{r} ON l.item = n{r}.item)")
    return parts


def ktruss_edges(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """k-truss peeling (Cohen 2008): ``rounds`` synchronous rounds of
    dropping every edge whose triangle support in the CURRENT graph is
    below k-2, then the final support recomputed on the surviving
    graph.  The edge-level cohesion filter between k-core (too loose)
    and clique (too expensive) — on a metric epsilon graph it prunes
    bridge/noise edges that single-linkage CC would happily traverse.

    ``edges``: canonical (a, b) with a < b.  Output (a, b, support).

    Triangle enumeration is DEGREE-ORIENTED (oriented_triangles): two
    keyed equi-joins over out-neighborhoods, each triangle found
    exactly once at its minimum-(deg, id) vertex, support unpivoted to
    its three edges and counted in one map-side-combined agg — wedge
    volume sum(out-deg^2) = O(arboricity * |E|), not the
    sum(deg-by-id^2) the naive a<b<c wedge join pays on skewed
    degrees.  The per-round edge frame LOCALCHECKPOINTS (eager=False):
    the recurrence references it three times (both wedge sides + the
    closing probe) and feeds the next round, so an un-truncated
    lineage would grow geometrically (the jp_coloring lesson —
    persist alone still re-plans the full lineage each round).
    Fixed-round peeling keeps the oracle unrollable as chained CTEs;
    convergence inside R rounds is data-dependent and NOT asserted
    (the pagerank fixed-round discipline).
    """
    e = edges.select("a", "b").localCheckpoint(eager=False)
    for _ in range(rounds):
        # eager checkpoint per round: materializing the surviving edge
        # set HERE lets the round's oriented-edge cache be released
        # immediately after — under lazy rounds the persisted frames
        # piled up rounds+1 deep for the life of the job (ADVICE r8)
        caches: list = []
        sup = _triangle_support(e, cache_out=caches)
        e = (
            e.join(sup, ["a", "b"], "left")
            .filter(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        for c in caches:
            c.unpersist()
    # the final support pass keeps its ONE cache entry: the returned
    # frame is lazy and its consumer still reads the oriented edges
    final = _triangle_support(e)
    return (
        e.join(final, ["a", "b"], "left")
        .select("a", "b",
                F.coalesce(F.col("support"), F.lit(0))
                .cast("long").alias("support"))
    )


def oriented_triangles(e: DataFrame,
                       cache_out: list | None = None) -> DataFrame:
    """Each triangle of the undirected edge set ``e`` (canonical a < b)
    exactly once, enumerated under DEGREE ORIENTATION (Chiba-Nishizeki
    1985 / Ortmann-Brandes 2014): every edge is directed from its
    lower-(deg, id) endpoint, wedges spawn only from a vertex's
    OUT-neighborhood, and the closing edge is probed in its oriented
    direction.  Wedge volume drops from sum(deg-by-id^2) — which a
    power-law hub with a small id turns into the classic 100 TB
    skew-killer — to sum(out-deg^2), bounded by O(arboricity * |E|):
    a hub of degree d generates ZERO wedges as a source unless its
    neighbors are even higher-degree.  All joins stay keyed equi-joins.
    Returns (v1, v2, v3) with (deg, id) of v1 < v2 < v3."""
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    ed = (
        e.join(deg.select(F.col("v").alias("a"),
                          F.col("deg").alias("_da")), "a")
        .join(deg.select(F.col("v").alias("b"),
                         F.col("deg").alias("_db")), "b")
    )
    fwd = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b")))
    # oriented edge src -> dst with dst's (deg, id) carried for the
    # wedge-side ordering; persisted: it feeds both wedge sides and the
    # closing probe (three uses of one shuffle).  A single-shot caller
    # keeps ONE bounded CacheManager entry (referenced by the returned
    # lazy frame); an ITERATIVE caller must release each pass's cache
    # or accumulate rounds+1 never-released entries (ADVICE r8) —
    # passing ``cache_out`` collects the persisted handle so the caller
    # can unpersist it once the round's output is materialized
    # (ktruss_edges does exactly that).  Measured against the
    # localCheckpoint alternative: persist is ~1.5x faster across the
    # k-truss peel (10.3 s vs 15.8 s at sf0.01) and keeps the full
    # logical plan visible to tools/plan_audit.py.
    o = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("_db")).otherwise(F.col("_da")).alias("_dd"),
    ).persist()
    if cache_out is not None:
        cache_out.append(o)
    o1 = o.select("src", F.col("dst").alias("v2"),
                  F.col("_dd").alias("_d2"))
    o2 = o.select("src", F.col("dst").alias("v3"),
                  F.col("_dd").alias("_d3"))
    wedges = o1.join(o2, "src").filter(
        (F.col("_d2") < F.col("_d3"))
        | ((F.col("_d2") == F.col("_d3")) & (F.col("v2") < F.col("v3"))))
    # v2 precedes v3 in (deg, id) order, so the closing edge is
    # oriented v2 -> v3; a LEFT SEMI probe closes the wedge
    return wedges.join(
        o.select(F.col("src").alias("v2"), F.col("dst").alias("v3")),
        ["v2", "v3"], "left_semi",
    ).select(F.col("src").alias("v1"), "v2", "v3")


def _triangle_support(e: DataFrame,
                      cache_out: list | None = None) -> DataFrame:
    tri = oriented_triangles(e, cache_out=cache_out)
    # unpivot each triangle to its three edges, re-canonicalized to
    # id order (a < b) — orientation order and id order differ
    unp = (
        tri.select(F.least("v1", "v2").alias("a"),
                   F.greatest("v1", "v2").alias("b"))
        .unionByName(tri.select(F.least("v1", "v3").alias("a"),
                                F.greatest("v1", "v3").alias("b")))
        .unionByName(tri.select(F.least("v2", "v3").alias("a"),
                                F.greatest("v2", "v3").alias("b")))
    )
    return unp.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("support"))


def KTRUSS_CTES(k: int, rounds: int, edges_cte: str = "e0") -> list[str]:
    """Flat `name AS (body)` parts unrolling the same peeling: expects
    ``{edges_cte}`` (a, b) upstream; yields ``te{rounds}`` (surviving
    edges) and ``tsf`` (final support) — SELECT from tsf."""
    parts = []
    prev = edges_cte
    for r in range(rounds + 1):
        cur = f"te{r}"
        parts.append(f"""tr_{r} AS MATERIALIZED (
  SELECT e1.a, e1.b, e2.b AS c
  FROM {prev} e1
  JOIN {prev} e2 ON e2.a = e1.b
  JOIN {prev} e3 ON e3.a = e1.a AND e3.b = e2.b
)""")
        parts.append(f"""sp_{r} AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
    SELECT a, b FROM tr_{r}
    UNION ALL SELECT a, c AS b FROM tr_{r}
    UNION ALL SELECT b AS a, c AS b FROM tr_{r}
  ) GROUP BY 1, 2
)""")
        if r < rounds:
            parts.append(f"""{cur} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  LEFT JOIN sp_{r} s ON s.a = e.a AND s.b = e.b
  WHERE COALESCE(s.support, 0) >= {k - 2}
)""")
            prev = cur
    parts.append(f"""tsf AS (
  SELECT e.a, e.b, CAST(COALESCE(s.support, 0) AS BIGINT) AS support
  FROM {prev} e
  LEFT JOIN sp_{rounds} s ON s.a = e.a AND s.b = e.b
)""")
    return parts


HITS_INIT = 1_000_000  # micro-units; per-round sum-normalization to 1e6


def hits_rounds(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg JACM 1999) on a bipartite
    user-item graph, all-integer: authority starts at 1e6 micro-units;
    each round hub(u) = sum of neighbor authorities then SUM-normalized
    to 1e6 total by floor division (the L1 stand-in for Kleinberg's L2
    norm — same fixpoint direction, integer-exact on any engine), and
    authority(i) likewise from normalized hubs.  Bit-identical across
    engines/partitionings for the same reason the integer PageRank is:
    integer sums re-associate freely, the one division per value is
    floor-div on identical operands.

    ``edges``: distinct (u, i).  Returns (i, auth_ppm) after ``rounds``
    full hub->authority alternations.  Envelope: sum(hub) peaks at
    |E| * 1e6 — int64-exact to ~9e12 edges.

    Scale shape: edges persist once and carry every round's two keyed
    aggs; the one-row normalization totals broadcast (never a driver
    collect); per-round state is vertex-scale.
    """
    E = edges.select("u", "i").distinct().persist()
    auth = E.select("i").distinct().select(
        "i", F.lit(HITS_INIT).cast("long").alias("a"))
    for _ in range(rounds):
        hub = E.join(auth, "i").groupBy("u").agg(
            F.sum("a").cast("long").alias("h_raw"))
        htot = hub.agg(F.sum("h_raw").cast("long").alias("ht"))
        hub = hub.crossJoin(F.broadcast(htot)).select(
            "u", F.expr(f"CAST(h_raw * {HITS_INIT} div ht AS BIGINT)")
            .alias("h")).persist()
        auth = E.join(hub, "u").groupBy("i").agg(
            F.sum("h").cast("long").alias("a_raw"))
        atot = auth.agg(F.sum("a_raw").cast("long").alias("at"))
        auth = auth.crossJoin(F.broadcast(atot)).select(
            "i", F.expr(f"CAST(a_raw * {HITS_INIT} div at AS BIGINT)")
            .alias("a")).persist()
    return auth.select("i", F.col("a").alias("auth_ppm"))


def HITS_ROUNDS_CTES(rounds: int = 2) -> list[str]:
    """Flat parts unrolling the same alternation: expects ``be`` (u, i)
    upstream; yields ``ha{rounds}`` (i, a)."""
    parts = [
        f"ha0 AS (SELECT DISTINCT i, CAST({HITS_INIT} AS BIGINT) AS a"
        " FROM be)",
    ]
    for r in range(1, rounds + 1):
        parts += [
            f"""hh{r}_raw AS (
  SELECT e.u, CAST(sum(a.a) AS BIGINT) AS h_raw
  FROM be e JOIN ha{r - 1} a ON e.i = a.i GROUP BY 1
)""",
            f"hh{r}_tot AS (SELECT CAST(sum(h_raw) AS BIGINT) AS ht"
            f" FROM hh{r}_raw)",
            f"""hh{r} AS (
  SELECT u, CAST(h_raw * {HITS_INIT} // ht AS BIGINT) AS h
  FROM hh{r}_raw CROSS JOIN hh{r}_tot
)""",
            f"""ha{r}_raw AS (
  SELECT e.i, CAST(sum(h.h) AS BIGINT) AS a_raw
  FROM be e JOIN hh{r} h ON e.u = h.u GROUP BY 1
)""",
            f"ha{r}_tot AS (SELECT CAST(sum(a_raw) AS BIGINT) AS at"
            f" FROM ha{r}_raw)",
            f"""ha{r} AS (
  SELECT i, CAST(a_raw * {HITS_INIT} // at AS BIGINT) AS a
  FROM ha{r}_raw CROSS JOIN ha{r}_tot
)""",
        ]
    return parts


def temporal_contacts(ue: DataFrame, window_s: int = 3600) -> DataFrame:
    """Directed contact events (u -> v, t) from co-presence: two users
    touching the same item within ``window_s`` seconds contact at
    t = max of the two instants (when the link completes).  The
    time-bucket blocking of interval_overlap_pairs: one side home in
    its window_s bucket, the other replicated +-1 bucket, so every
    ordered event pair meets EXACTLY once in the (item, bucket)
    equi-join (the home bucket is fixed and replica cells are
    distinct); repeats collapse in one keyed distinct.

    ``ue``: (u, item, t).  Output (u, v, t), symmetric by construction.
    """
    home = ue.select(
        F.col("u").alias("ua"), F.col("item"), F.col("t").alias("ta"),
        F.expr(f"t div {window_s}").alias("bkt"))
    repl = (
        ue.select(F.col("u").alias("ub"), F.col("item"),
                  F.col("t").alias("tb"),
                  F.expr(f"t div {window_s}").alias("bkt"))
        .withColumn("_o", F.explode(F.expr("array(-1, 0, 1)")))
        .select("ub", "item", "tb", (F.col("bkt") + F.col("_o")).alias("bkt"))
    )
    return (
        home.join(repl, ["item", "bkt"])
        .filter((F.col("ua") != F.col("ub"))
                & (F.abs(F.col("ta") - F.col("tb")) <= window_s))
        .select(F.col("ua").alias("u"), F.col("ub").alias("v"),
                F.greatest("ta", "tb").cast("long").alias("t"))
        .distinct()
    )


def temporal_reachability(contacts: DataFrame, seeds: DataFrame,
                          rounds: int = 3) -> DataFrame:
    """Time-respecting reachability (Holme & Saramaki Phys.Rep. 2012):
    seeds start reachable at time 0; each round a user becomes (or gets
    earlier-)reachable at min contact time t among contacts (u -> v, t)
    with t at or after u's arrival — paths must move forward in time,
    so plain BFS over the flattened graph OVERCOUNTS (a v-via-u path
    using a contact before u was reached is invalid; pinned in tests).
    Fixed ``rounds`` keeps the oracle unrollable; per-round state is
    localCheckpointed (referenced twice: relax join + min-merge).

    ``seeds``: (u).  Output (u, arrival_s) for reached users.
    """
    arr = seeds.select("u", F.lit(0).cast("long").alias("a"))
    for _ in range(rounds):
        arr = arr.localCheckpoint()
        nxt = (
            contacts.join(arr.select(F.col("u"), F.col("a")), "u")
            .filter(F.col("t") >= F.col("a"))
            .groupBy(F.col("v").alias("u"))
            .agg(F.min("t").cast("long").alias("a"))
        )
        arr = arr.unionByName(nxt).groupBy("u").agg(
            F.min("a").cast("long").alias("a"))
    return arr.select(F.col("u").cast("long").alias("u"),
                      F.col("a").alias("arrival_s"))


def TEMPORAL_REACH_CTES(rounds: int = 3) -> list[str]:
    """Flat parts: expects ``tcontacts`` (u, v, t) and ``tseeds`` (u)
    upstream; yields ``tarr{rounds}`` (u, a)."""
    parts = ["tarr0 AS (SELECT u, CAST(0 AS BIGINT) AS a FROM tseeds)"]
    for r in range(1, rounds + 1):
        parts += [
            f"""tnx{r} AS (
  SELECT c.v AS u, CAST(min(c.t) AS BIGINT) AS a
  FROM tcontacts c JOIN tarr{r - 1} s ON c.u = s.u AND c.t >= s.a
  GROUP BY 1
)""",
            f"""tarr{r} AS MATERIALIZED (
  SELECT u, CAST(min(a) AS BIGINT) AS a FROM (
    SELECT u, a FROM tarr{r - 1} UNION ALL SELECT u, a FROM tnx{r}
  ) GROUP BY 1
)""",
        ]
    return parts


# LCG mixing constants for the deterministic walk choice (Knuth/glibc
# lineage); all arithmetic stays far inside int64 for vertex ids < ~2^31
_WALK_A = 1103515245
_WALK_B = 12345
_WALK_C = 2654435761
_WALK_M = 2147483647


def _walk_pick(cur: str, start: str, step: int) -> str:
    """Shared Spark/DuckDB text: pseudo-random index in [0, deg)."""
    return (f"(({cur} * {_WALK_A} + {step} * {_WALK_B}"
            f" + {start} * {_WALK_C}) % {_WALK_M}) % deg")


def walk_corpus(sym_edges: DataFrame, length: int = 4) -> DataFrame:
    """Deterministic random-walk corpus (the DeepWalk/node2vec sampling
    step, Perozzi KDD 2014, with the RNG replaced by an LCG hash of
    (current, start, step) so every engine and every re-run emits the
    SAME walks — the determinism-over-entropy trade every exact oracle
    in this repo makes).  One walk of ``length`` steps starts from
    every non-isolated vertex; step choice is neighbors[h mod deg]
    over the dst-sorted adjacency.

    ``sym_edges``: symmetric (src, dst).  Output (start, step, node),
    step 0..length.

    Scale shape: the adjacency gets a per-src index ONCE (row_number
    partitioned by src — the natural key distribution); each step is
    ONE broadcast-free (src, idx) equi-join after computing the target
    index from the carried degree — no fan-out-then-filter, the walk
    frontier stays one row per walk.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy("dst")
    nb = sym_edges.select(
        "src", "dst",
        (F.row_number().over(w) - 1).cast("long").alias("idx"),
    ).persist()
    deg = nb.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    walks = deg.select(F.col("src").alias("start"),
                       F.col("src").alias("cur"))
    out = walks.select("start", F.lit(0).cast("long").alias("step"),
                       F.col("cur").alias("node"))
    for s in range(1, length + 1):
        hop = (
            walks.join(deg.withColumnRenamed("src", "cur"), "cur")
            .withColumn("_idx", F.expr(_walk_pick("cur", "start", s))
                        .cast("long"))
            .join(nb.select(F.col("src").alias("cur"),
                            F.col("idx").alias("_idx"),
                            F.col("dst").alias("nxt")), ["cur", "_idx"])
        )
        walks = hop.select("start", F.col("nxt").alias("cur"))
        out = out.unionByName(walks.select(
            "start", F.lit(s).cast("long").alias("step"),
            F.col("cur").alias("node")))
    return out


def WALK_CORPUS_CTES(length: int = 4) -> list[str]:
    """Flat parts: expects ``sym`` (src, dst) upstream; yields
    ``wk_out`` (start, step, node)."""
    parts = [
        """wk_nb AS (
  SELECT src, dst,
         CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1
              AS BIGINT) AS idx
  FROM sym
)""",
        "wk_deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg"
        " FROM sym GROUP BY 1)",
        "wk0 AS (SELECT src AS start, src AS cur FROM wk_deg)",
    ]
    unions = ["SELECT start, CAST(0 AS BIGINT) AS step, cur AS node"
              " FROM wk0"]
    for s in range(1, length + 1):
        parts.append(f"""wk{s} AS (
  SELECT w.start, n.dst AS cur
  FROM wk{s - 1} w
  JOIN wk_deg d ON d.src = w.cur
  JOIN wk_nb n ON n.src = w.cur
   AND n.idx = {_walk_pick('w.cur', 'w.start', s)}
)""")
        unions.append(f"SELECT start, CAST({s} AS BIGINT), cur FROM wk{s}")
    parts.append("wk_out AS (" + "\nUNION ALL ".join(unions) + ")")
    return parts


# ---------------------------------------------------------------------------
# Luby maximal independent set — hash-priority symmetry breaking
# ---------------------------------------------------------------------------

def _mis_priority(round_no: int):
    """Engine-identical per-round vertex priority: md5 of a round-salted
    id, with the zero-padded id appended so the 44-char string is a
    STRICT total order (md5 ties, however improbable, cannot make two
    adjacent vertices both win)."""
    return _mis_priority_of("id", round_no)


def _mis_priority_of(col: str, round_no: int):
    """The same priority generated from an arbitrary id column — being
    a pure function of (id, round) it never needs a join (the
    _jp_priority_of discipline)."""
    return F.concat(
        F.md5(F.concat(F.lit(f"mis|{round_no}|"),
                       F.col(col).cast("string"))),
        F.lpad(F.col(col).cast("string"), 12, "0"))


def luby_mis(nodes: DataFrame, sym_edges: DataFrame,
             rounds: int = 4) -> DataFrame:
    """Luby's maximal-independent-set algorithm (Luby SICOMP 1986), the
    canonical O(log n)-round parallel symmetry breaker, with the coin
    flips replaced by a deterministic per-round md5 priority (the
    embedding_walk_corpus discipline: engine-identical pseudo-randomness
    so the RESULT itself carries an exact oracle).

    Per round: an active vertex joins the MIS iff its priority is
    strictly smaller than every active neighbor's (isolated actives
    win immediately); winners' active neighbors become dominated; both
    leave the active set.  Priorities are a strict total order, so two
    adjacent actives can never both win — independence is structural,
    no conflict-resolution pass.  In expectation half the EDGES die per
    round, hence O(log n) rounds; after ``rounds`` the residue stays
    ``undecided`` (deterministically).

    ``nodes``: one column ``id``; ``sym_edges``: symmetric (src, dst).
    Output (id, status in {in_mis, dominated, undecided},
    rnd = decision round, 0 if undecided).

    Scale shape (r12-opt — the jones_plassmann Pregel rebuild applied
    here; guide §2.1/§2.3): the graph is vertex-state + messages, not
    active-set algebra.  The per-round priority is a pure function of
    (id, round) so it GENERATES inline on either end of an edge — no
    priority join exists.  Per round TWO message aggregations over the
    dst-partitioned edge leaf (min active-neighbor priority for the
    win test; any-winning-neighbor for domination — Luby needs the
    second hop because wins and dominations land in the same round)
    and one keyed state merge; the edge copy checkpoints
    hash-partitioned on dst so neither message join re-shuffles it,
    and the vertex state rides id-keyed joins that reuse the message
    partitioning.  ~2 exchanges per round instead of ~7 (the old
    shape: restrict-edges x2, neighbor-priority join + min, win
    left-join, dom semi-join + distinct, two anti-joins).  State
    localCheckpoints eagerly between rounds to bound lineage (the BFS
    lesson), lazily on the last round so the published plan carries
    one full round's shape.  The reference engine has no graph
    surface (SURVEY.md §2); this extends the alternating-stars /
    k-truss round discipline (cf. `src/main/scala` job graph, which
    hard-codes its one topology at `OMLDM_Job.scala`-scale).
    """
    # eager leaf, not a lazy persist (r12 ext): each round's jobs
    # re-analyzed the caller's edge-derivation subtree (the epsilon
    # spatial join) per cache lookup — the checkpoint cuts it to an
    # RDD leaf once; LogicalRDD keeps the dst hash-partitioning
    edges = sym_edges.repartition("dst").localCheckpoint(eager=True)
    vst = nodes.select(
        F.col("id").cast("long").alias("id"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("long").alias("rnd"),
    )
    for r in range(1, rounds + 1):
        # message 1: np = min round-r priority over ACTIVE neighbors
        nm = (
            edges.join(vst.select(F.col("id").alias("dst"), "status"),
                       "dst")
            .groupBy("src")
            .agg(F.min(F.when(F.col("status").isNull(),
                              _mis_priority_of("dst", r))).alias("np"))
            .withColumnRenamed("src", "id")
        )
        # active v wins iff its priority beats every active neighbor's
        # (isolated actives: np null).  w is never NULL: the null-check
        # disjunct absorbs the null comparison.
        vst1 = vst.join(nm, "id", "left").select(
            "id", "status", "rnd",
            (F.col("status").isNull()
             & (F.col("np").isNull()
                | (_mis_priority(r) < F.col("np")))).alias("w"),
        ).persist()  # read twice: the winner filter and the state merge
        # message 2: does any neighbor win this round?  (winners'
        # ACTIVE neighbors become dominated; the status guard in the
        # merge keeps decided vertices untouched)
        dn = (
            edges.join(vst1.filter(F.col("w"))
                       .select(F.col("id").alias("dst")), "dst")
            .groupBy("src").agg(F.first(F.lit(True)).alias("nw"))
            .withColumnRenamed("src", "id")
        )
        merged = vst1.join(dn, "id", "left").select(
            "id",
            F.when(F.col("status").isNotNull(), F.col("status"))
            .when(F.col("w"), F.lit("in_mis"))
            .when(F.col("nw"), F.lit("dominated")).alias("status"),
            F.when(F.col("status").isNotNull(), F.col("rnd"))
            .when(F.col("w") | F.coalesce(F.col("nw"), F.lit(False)),
                  F.lit(r).cast("long")).alias("rnd"),
        )
        vst = merged.localCheckpoint(eager=(r < rounds))
        if r < rounds:
            # the eager checkpoint has materialized the merged state, so
            # the round's cached vertex frame is dead — drop it instead
            # of accumulating one persisted frame per round for the
            # session lifetime (ADVICE r12).  The LAST round's handle
            # stays: its checkpoint is lazy, so the winner filter and
            # state merge still read vst1 twice at execution time.
            vst1.unpersist()
    return vst.select(
        "id",
        F.coalesce(F.col("status"), F.lit("undecided")).alias("status"),
        F.coalesce(F.col("rnd"), F.lit(0)).cast("long").alias("rnd"),
    )


def LUBY_MIS_CTES(rounds: int = 4) -> list[str]:
    """Flat parts unrolling the same recurrence: expects ``sym``
    (src, dst) and ``mis_nodes`` (id) upstream; yields ``mis_out``
    (id, status, rnd).  Reused-per-round parts are MATERIALIZED (the
    ktruss fd-blow-up lesson: DuckDB inlines CTEs by default, and the
    active set is referenced three times per round)."""

    def prio(r: int, idc: str) -> str:
        return (f"md5('mis|{r}|' || CAST({idc} AS VARCHAR))"
                f" || lpad(CAST({idc} AS VARCHAR), 12, '0')")

    parts = ["mact0 AS MATERIALIZED (SELECT id FROM mis_nodes)"]
    unions = []
    for r in range(1, rounds + 1):
        a = f"mact{r - 1}"
        parts.append(
            f"mpr{r} AS MATERIALIZED (SELECT id, {prio(r, 'id')} AS p"
            f" FROM {a})")
        parts.append(f"""mae{r} AS MATERIALIZED (
  SELECT s.src, s.dst FROM sym s
  JOIN {a} a1 ON s.src = a1.id JOIN {a} a2 ON s.dst = a2.id
)""")
        parts.append(
            f"mnm{r} AS (SELECT e.src AS id, min(p.p) AS np"
            f" FROM mae{r} e JOIN mpr{r} p ON e.dst = p.id GROUP BY 1)")
        parts.append(f"""mwin{r} AS MATERIALIZED (
  SELECT p.id FROM mpr{r} p LEFT JOIN mnm{r} n ON p.id = n.id
  WHERE n.np IS NULL OR p.p < n.np
)""")
        parts.append(
            f"mdom{r} AS MATERIALIZED (SELECT DISTINCT e.dst AS id"
            f" FROM mae{r} e JOIN mwin{r} w ON e.src = w.id)")
        parts.append(f"""mact{r} AS MATERIALIZED (
  SELECT id FROM {a}
  WHERE id NOT IN (SELECT id FROM mwin{r})
    AND id NOT IN (SELECT id FROM mdom{r})
)""")
        unions.append(f"SELECT id, 'in_mis' AS status,"
                      f" CAST({r} AS BIGINT) AS rnd FROM mwin{r}")
        unions.append(f"SELECT id, 'dominated',"
                      f" CAST({r} AS BIGINT) FROM mdom{r}")
    parts.append("mdec AS (" + "\nUNION ALL ".join(unions) + ")")
    parts.append("""mis_out AS (
  SELECT n.id, COALESCE(d.status, 'undecided') AS status,
         CAST(COALESCE(d.rnd, 0) AS BIGINT) AS rnd
  FROM mis_nodes n LEFT JOIN mdec d ON n.id = d.id
)""")
    return parts


# ---------------------------------------------------------------------------
# Jones-Plassmann greedy coloring — fixed-priority local minima + mex
# ---------------------------------------------------------------------------

def _jp_priority():
    """Fixed (round-independent) strict-total-order vertex priority —
    same construction as :func:`_mis_priority` but unsalted per round:
    Jones-Plassmann keeps ONE priority for the whole run and lets the
    shrinking active set move the local minima."""
    return _jp_priority_of("id")


def _jp_priority_of(col: str):
    """The same priority generated from an arbitrary id column —
    being a pure function of the id, it never needs a join."""
    return F.concat(
        F.md5(F.concat(F.lit("jp|"), F.col(col).cast("string"))),
        F.lpad(F.col(col).cast("string"), 12, "0"))


def jones_plassmann_coloring(nodes: DataFrame, sym_edges: DataFrame,
                             rounds: int = 5,
                             ckpt_every: int = 3) -> DataFrame:
    """Jones-Plassmann parallel greedy coloring (Jones & Plassmann
    SISC 1993): per round, every uncolored vertex whose fixed priority
    is a strict minimum among its uncolored neighbors picks the
    smallest color absent from its already-colored neighborhood (the
    mex).  Same-round winners form an independent set by the strict
    total order, so simultaneous assignment can never conflict and the
    result is a valid (<= maxdeg + 1)-coloring of the decided region.

    The mex is one Catalyst fold over the sorted distinct colored-
    neighbor colors (collect_set is degree-bounded): acc starts at 0
    and each color c advances acc to c+1 iff c == acc — the first gap
    wins.  No explode, no anti-join, no list lambdas in Python.

    Output: (id, color, rnd); undecided after ``rounds`` -> color -1,
    rnd 0.  Rebuilt Pregel-shaped in r11 (VERDICT r10 item 4 — the
    22-round run cost a flat ~25 s at every SF, pure stage-scheduling
    latency): per round ONE message aggregation over the edge frame
    carries BOTH the win test (min uncolored-neighbor priority) and
    the mex input (collect_set of colored-neighbor colors), and one
    keyed join folds it into the vertex state — 3 exchanges per round
    instead of ~12 (the fixed priority is a pure function of id, so it
    generates inline; the candidate explode + anti-join mex is a
    Catalyst fold; the edge copy persists hash-partitioned on dst so
    the per-round message join never re-shuffles it).  Trade-off vs
    the active-set formulation, documented: the message scan covers
    ALL edges every round because the mex input (colors of colored
    neighbors) recomputes FRESH each round — colored vertices must
    keep answering.  The standard Pregel escape for a 1000-executor
    run is to make used-colors part of the VERTEX state (array_union
    the newly-colored neighbors' announcements each round — colors
    are immutable once assigned, so the accumulation is exact); then
    an edge whose dst has announced once is prunable at the eager
    barriers and the frontier shrinks.  Not implemented here: at the
    tested scales the all-edges scan is cheaper than the extra
    per-round array_union + periodic re-persist, and the state-fold
    variant changes no output.  JP needs
    ~e*maxdeg rounds (the longest decreasing-priority path), far more
    than Luby's 4, so the per-round state truncation is LAZY: every
    round localCheckpoints with eager=False (the logical plan is cut to
    an RDD-scan node immediately, so Catalyst analysis stays O(1) per
    round, but no job runs), going eager only every ``ckpt_every``
    rounds to bound the deferred RDD chain (the BFS lineage lesson,
    amortized — persist WITHOUT checkpoint is not enough here: the
    3-references-per-round recurrence grows the analyzed plan
    geometrically even when execution is cached).  The reference
    engine has no
    graph surface (SURVEY.md §2); this extends the alternating-stars /
    Luby round discipline.
    """
    # eager leaf, not a lazy persist (r12 ext): every eager barrier's
    # job re-analyzed the caller's edge-derivation subtree (the epsilon
    # spatial join) just to LOOK UP the cache — the checkpoint cuts it
    # to an RDD leaf; LogicalRDD keeps the dst hash-partitioning, so
    # the per-round message join still never re-shuffles the edges
    edges = sym_edges.repartition("dst").localCheckpoint(eager=True)
    vst = nodes.select(
        F.col("id").cast("long").alias("id"),
        F.lit(None).cast("long").alias("color"),
        F.lit(None).cast("long").alias("rnd"),
    )
    # mex fold: colors arrive sorted+distinct; the first gap stops acc
    mex = ("aggregate(array_sort(coalesce(used_colors,"
           " CAST(array() AS ARRAY<BIGINT>))), CAST(0 AS BIGINT),"
           " (acc, c) -> CASE WHEN c = acc THEN acc + 1 ELSE acc END)")
    for r in range(1, rounds + 1):
        # ONE message aggregation carries both halves of the round:
        # np  = min priority over UNCOLORED neighbors (win test)
        # used_colors = colors over COLORED neighbors (mex input;
        # collect_set skips the NULL uncolored rows)
        msgs = (
            edges.join(vst.select(F.col("id").alias("dst"), "color"),
                       "dst")
            .groupBy("src")
            .agg(
                F.min(F.when(F.col("color").isNull(),
                             _jp_priority_of("dst"))).alias("np"),
                F.collect_set("color").alias("used_colors"),
            )
            .withColumnRenamed("src", "id")
        )
        win = F.col("np").isNull() | (_jp_priority() < F.col("np"))
        vst = (
            vst.join(msgs, "id", "left")
            .select(
                "id",
                F.when(F.col("color").isNotNull(), F.col("color"))
                .when(win, F.expr(mex)).cast("long").alias("color"),
                F.coalesce(
                    F.col("rnd"),
                    F.when(win, F.lit(r)).cast("long")).alias("rnd"),
            )
        )
        eager = r % ckpt_every == 0 or r == rounds
        vst = vst.localCheckpoint(eager=eager)
    return (
        nodes.select(F.col("id").cast("long").alias("id"))
        .join(vst, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("color"), F.lit(-1)).cast("long")
            .alias("color"),
            F.coalesce(F.col("rnd"), F.lit(0)).cast("long").alias("rnd"),
        )
    )


def JP_COLORING_CTES(rounds: int = 5) -> list[str]:
    """Flat parts unrolling the same recurrence: expects ``sym``
    (src, dst) and ``jp_nodes`` (id) upstream; yields ``jp_out``
    (id, color, rnd).  Reused-per-round parts are MATERIALIZED (the
    ktruss fd-blow-up lesson)."""

    prio = ("md5('jp|' || CAST(id AS VARCHAR))"
            " || lpad(CAST(id AS VARCHAR), 12, '0')")
    parts = [
        f"jpr AS MATERIALIZED (SELECT id, {prio} AS p FROM jp_nodes)",
        "jact0 AS MATERIALIZED (SELECT id FROM jp_nodes)",
        "jcol0 AS (SELECT CAST(NULL AS BIGINT) AS id,"
        " CAST(NULL AS BIGINT) AS color, CAST(NULL AS BIGINT) AS rnd"
        " WHERE FALSE)",
    ]
    for r in range(1, rounds + 1):
        a = f"jact{r - 1}"
        parts.append(f"""jae{r} AS MATERIALIZED (
  SELECT s.src, s.dst FROM sym s
  JOIN {a} a1 ON s.src = a1.id JOIN {a} a2 ON s.dst = a2.id
)""")
        parts.append(
            f"jnm{r} AS (SELECT e.src AS id, min(p.p) AS np"
            f" FROM jae{r} e JOIN jpr p ON e.dst = p.id GROUP BY 1)")
        parts.append(f"""jwin{r} AS MATERIALIZED (
  SELECT p.id FROM {a} a JOIN jpr p ON a.id = p.id
  LEFT JOIN jnm{r} n ON p.id = n.id
  WHERE n.np IS NULL OR p.p < n.np
)""")
        parts.append(f"""jused{r} AS MATERIALIZED (
  SELECT DISTINCT w.id, c.color FROM sym e
  JOIN jwin{r} w ON e.src = w.id
  JOIN jcol{r - 1} c ON e.dst = c.id
)""")
        parts.append(
            f"jcnt{r} AS (SELECT w.id, count(u.color) AS cnt"
            f" FROM jwin{r} w LEFT JOIN jused{r} u ON w.id = u.id"
            f" GROUP BY 1)")
        parts.append(
            f"jcand{r} AS (SELECT id,"
            f" unnest(range(0, cnt + 1)) AS c FROM jcnt{r})")
        parts.append(f"""jmex{r} AS (
  SELECT cd.id, min(cd.c) AS color FROM jcand{r} cd
  LEFT JOIN jused{r} u ON cd.id = u.id AND cd.c = u.color
  WHERE u.color IS NULL GROUP BY 1
)""")
        parts.append(f"""jcol{r} AS MATERIALIZED (
  SELECT * FROM jcol{r - 1}
  UNION ALL SELECT id, color, CAST({r} AS BIGINT) FROM jmex{r}
)""")
        parts.append(f"""jact{r} AS MATERIALIZED (
  SELECT id FROM {a} WHERE id NOT IN (SELECT id FROM jwin{r})
)""")
    parts.append(f"""jp_out AS (
  SELECT n.id, CAST(COALESCE(c.color, -1) AS BIGINT) AS color,
         CAST(COALESCE(c.rnd, 0) AS BIGINT) AS rnd
  FROM jp_nodes n LEFT JOIN jcol{rounds} c ON n.id = c.id
)""")
    return parts


def brandes_bounded(edges: DataFrame, n_sources: int = 4,
                    rounds: int = 3) -> DataFrame:
    """Sampled, depth-bounded Brandes betweenness (Brandes 2001;
    source-sampling per Brandes-Pich 2007): from the ``n_sources``
    smallest vertex ids, run ``rounds`` levels of level-synchronous BFS
    counting shortest paths (sigma), then accumulate the dependency
    delta backward along the shortest-path DAG:

        delta(u) = sum over successors v of sigma_u·(1e6 + delta_v)
                   div sigma_v          (exact positive-integer terms)

    and report bc_q(v) = sum over sources s != v of delta_s(v) — the
    standard scalable estimator (exact betweenness is O(nm) and never
    computed at 100 TB; source sampling + depth bounding is what
    Brandes-Pich and every production graph engine ship).

    Output: (v, bc_q) for every vertex reached by some source's DAG.

    Scale shape: each BFS level is one keyed join frontier ⨝ edges +
    one anti-join against the settled set + one (source, vertex) agg —
    all equi-joins; the backward pass processes levels DESCENDING, one
    keyed join of the level's DAG edges against the accumulated delta
    map per level.  Per-round state localCheckpoints (the jp_coloring
    lineage discipline).  Work is O(sources · edges · rounds), linear
    in |E| for fixed samples — the estimator's entire point.

    Exactness: sigma and delta are integers; the per-edge term
    sigma_u·(1e6 + delta_v) stays int64 through sigma·delta ≈ 9e18 —
    on dense graphs re-quantize delta (÷2^10) past ~1e6-path vertices
    (documented escape hatch, not needed at test SFs).  Positive
    integer div is bit-identical cross-engine."""
    sym = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(
            edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint(eager=False)
    )
    verts = sym.select(F.col("src").alias("v")).distinct()
    srcs = verts.orderBy("v").limit(n_sources) \
        .select(F.col("v").alias("s"))
    settled = srcs.select(
        "s", F.col("s").alias("v"), F.lit(0).alias("dist"),
        F.lit(1).cast("long").alias("sigma"))
    frontier = settled
    for k in range(1, rounds + 1):
        cand = (
            frontier.join(sym, frontier["v"] == sym["src"])
            .select("s", F.col("dst").alias("v"), "sigma")
        )
        new = (
            cand.join(settled.select("s", "v"), ["s", "v"], "left_anti")
            .groupBy("s", "v")
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            .select("s", "v", F.lit(k).alias("dist"), "sigma")
            .localCheckpoint(eager=True)
        )
        settled = settled.unionByName(new).localCheckpoint(eager=False)
        frontier = new
    # shortest-path DAG edges: (s, u at dist d, v at dist d+1)
    su = settled.select(F.col("s").alias("su_s"),
                        F.col("v").alias("u"),
                        F.col("dist").alias("du"),
                        F.col("sigma").alias("sigma_u"))
    sv = settled.select(F.col("s").alias("sv_s"),
                        F.col("v").alias("vv"),
                        F.col("dist").alias("dv"),
                        F.col("sigma").alias("sigma_v"))
    dag = (
        su.join(sym, F.col("u") == F.col("src"))
        .join(sv, (F.col("sv_s") == F.col("su_s"))
              & (F.col("vv") == F.col("dst")))
        .filter(F.col("dv") == F.col("du") + 1)
        .select(F.col("su_s").alias("s"), "u", F.col("vv").alias("v"),
                "du", "dv", "sigma_u", "sigma_v")
        .localCheckpoint(eager=False)
    )
    # backward accumulation, deepest level first
    delta = None  # (s, v, dq) for vertices with computed dependency
    for lv in range(rounds, 0, -1):
        lvl = dag.filter(F.col("dv") == lv)
        if delta is not None:
            lvl = lvl.join(
                delta.select("s", F.col("v"), F.col("dq")),
                ["s", "v"], "left")
        else:
            lvl = lvl.withColumn("dq", F.lit(None).cast("long"))
        terms = lvl.select(
            "s", "u",
            F.expr("CAST(sigma_u * (1000000 + coalesce(dq, 0))"
                   " div sigma_v AS BIGINT)").alias("t"))
        dl = terms.groupBy("s", F.col("u").alias("v")).agg(
            F.sum("t").cast("long").alias("dq"))
        delta = (dl if delta is None
                 else delta.unionByName(dl)
                 .groupBy("s", "v").agg(F.sum("dq").cast("long")
                                        .alias("dq"))
                 ).localCheckpoint(eager=True)
    if delta is None:
        return settled.select("v").distinct().select(
            "v", F.lit(0).cast("long").alias("bc_q")).limit(0)
    return (
        delta.filter(F.col("v") != F.col("s"))
        .groupBy("v").agg(F.sum("dq").cast("long").alias("bc_q"))
    )


def BRANDES_CTES(edges_cte: str, n_sources: int = 4,
                 rounds: int = 3) -> list[str]:
    """Flat CTE parts mirroring brandes_bounded over ``edges_cte``
    (a, b): yields ``bbc`` (v, bc_q).  Level-unrolled: lev0..levR,
    settled_k unions, DAG, and the per-level backward deltas."""
    parts = [
        f"""bsym AS (
  SELECT a AS src, b AS dst FROM {edges_cte}
  UNION ALL SELECT b AS src, a AS dst FROM {edges_cte}
)""",
        f"""bsrc AS (
  SELECT v AS s FROM (SELECT DISTINCT src AS v FROM bsym)
  ORDER BY v LIMIT {n_sources}
)""",
        """lev0 AS (
  SELECT s, s AS v, 0 AS dist, CAST(1 AS BIGINT) AS sigma FROM bsrc
)""",
    ]
    settled_terms = ["SELECT * FROM lev0"]
    for k in range(1, rounds + 1):
        prev_settled = " UNION ALL ".join(settled_terms)
        parts.append(f"""lev{k} AS (
  SELECT c.s, c.v, {k} AS dist, CAST(sum(c.sigma) AS BIGINT) AS sigma
  FROM (
    SELECT f.s, e.dst AS v, f.sigma
    FROM lev{k - 1} f JOIN bsym e ON e.src = f.v
  ) c
  WHERE NOT EXISTS (
    SELECT 1 FROM ({prev_settled}) st
    WHERE st.s = c.s AND st.v = c.v
  )
  GROUP BY c.s, c.v
)""")
        settled_terms.append(f"SELECT * FROM lev{k}")
    parts.append("bset AS (" + " UNION ALL ".join(settled_terms) + ")")
    parts.append("""bdag AS (
  SELECT su.s, su.v AS u, sv.v, su.dist AS du, sv.dist AS dv,
         su.sigma AS sigma_u, sv.sigma AS sigma_v
  FROM bset su
  JOIN bsym e ON e.src = su.v
  JOIN bset sv ON sv.s = su.s AND sv.v = e.dst
  WHERE sv.dist = su.dist + 1
)""")
    delta_terms = []
    for lv in range(rounds, 0, -1):
        if not delta_terms:
            dq_join = "CAST(0 AS BIGINT) AS dq"
            src = f"""SELECT d.s, d.u, d.sigma_u, d.sigma_v, {dq_join}
  FROM bdag d WHERE d.dv = {lv}"""
        else:
            prev = " UNION ALL ".join(
                f"SELECT * FROM bdelta{x}" for x in delta_terms)
            src = f"""SELECT d.s, d.u, d.sigma_u, d.sigma_v,
         coalesce(pd.dq, 0) AS dq
  FROM bdag d
  LEFT JOIN (SELECT s, v, CAST(sum(dq) AS BIGINT) AS dq
             FROM ({prev}) GROUP BY 1, 2) pd
    ON pd.s = d.s AND pd.v = d.v
  WHERE d.dv = {lv}"""
        parts.append(f"""bdelta{lv} AS (
  SELECT s, u AS v, CAST(sum(sigma_u * (1000000 + dq) // sigma_v)
                         AS BIGINT) AS dq
  FROM ({src})
  GROUP BY 1, 2
)""")
        delta_terms.append(lv)
    all_delta = " UNION ALL ".join(
        f"SELECT * FROM bdelta{x}" for x in delta_terms)
    parts.append(f"""bbc AS (
  SELECT v, CAST(sum(dq) AS BIGINT) AS bc_q
  FROM ({all_delta}) WHERE v != s
  GROUP BY v
)""")
    return parts


def louvain_first_pass(edges: DataFrame) -> DataFrame:
    """One SYNCHRONOUS Louvain pass from singleton communities over a
    weighted undirected graph (Blondel et al. 2008): each vertex moves
    to the neighbor whose (singleton-merge) modularity gain is largest,

        gain_q(i -> j) = w_ij * W - k_i * k_j,   W = Σ_v k_v = 2m,

    moving only when gain_q > 0 (ties to the smallest neighbor id).
    The classic algorithm is SEQUENTIAL; like the repo's Luby-MIS and
    Jones-Plassmann variants this is the deterministic synchronous
    round — every vertex decides against the SAME singleton snapshot,
    which is the shape a distributed pass actually executes (one keyed
    argmax per vertex, no sequential state).

    Input: (a, b, w) undirected weighted edges, a < b.  Output:
    (item, community, gain_q) with community = the chosen neighbor or
    the vertex itself.

    Exactness: gain_q is pure int64 (envelope: w_ij <= m and
    k_i * k_j <= W^2 — exact through W < 3e9, i.e. billions of edge
    weight).  The argmax is a per-vertex keyed MAX over
    struct(gain_q, -dst) — r12-opt (guide §2.4, the semdedup keyed-
    argmin discipline): (gain DESC, dst ASC) row_number forced an
    edge-scale sort per vertex partition; the struct max is the same
    total order ((src, dst) is unique in sym) as a map-side-combined
    HashAggregate, no Window, no sort."""
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst"),
        F.col("w"),
    ).unionByName(edges.select(
        F.col("b").alias("src"), F.col("a").alias("dst"), F.col("w")))
    deg = sym.groupBy("src").agg(F.sum("w").cast("long").alias("k"))
    w_tot = deg.agg(F.sum("k").cast("long").alias("w_all"))
    cand = (
        sym.join(deg.select(F.col("src").alias("src"),
                            F.col("k").alias("k_i")), "src")
        .join(deg.select(F.col("src").alias("dst"),
                         F.col("k").alias("k_j")), "dst")
        .crossJoin(F.broadcast(w_tot))
        .select("src", "dst",
                (F.col("w") * F.col("w_all") - F.col("k_i") * F.col("k_j"))
                .cast("long").alias("gain_q"))
    )
    best = cand.groupBy("src").agg(
        F.max(F.struct(F.col("gain_q"),
                       (-F.col("dst")).alias("nd"))).alias("top"))
    return best.select(
        F.col("src").cast("long").alias("item"),
        F.when(F.col("top.gain_q") > 0, -F.col("top.nd"))
        .otherwise(F.col("src")).cast("long").alias("community"),
        F.col("top.gain_q").cast("long").alias("gain_q"),
    )


def LOUVAIN_PASS_CTES(edges_cte: str = "e") -> str:
    """The same pass as chained CTEs over ``{edges_cte}(a, b, w)`` —
    ends in ``lv(item, community, gain_q)``."""
    return f"""sym AS (
  SELECT a AS src, b AS dst, w FROM {edges_cte}
  UNION ALL SELECT b AS src, a AS dst, w FROM {edges_cte}
),
deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS k FROM sym GROUP BY 1),
wt AS (SELECT CAST(sum(k) AS BIGINT) AS w_all FROM deg),
cand AS (
  SELECT s.src, s.dst,
         CAST(s.w * wt.w_all - di.k * dj.k AS BIGINT) AS gain_q
  FROM sym s
  JOIN deg di ON di.src = s.src
  JOIN deg dj ON dj.src = s.dst
  CROSS JOIN wt
),
best AS (
  SELECT src, dst, gain_q,
         row_number() OVER (PARTITION BY src
                            ORDER BY gain_q DESC, dst) AS rk
  FROM cand
),
lv AS (
  SELECT CAST(src AS BIGINT) AS item,
         CAST(CASE WHEN gain_q > 0 THEN dst ELSE src END AS BIGINT)
           AS community,
         CAST(gain_q AS BIGINT) AS gain_q
  FROM best WHERE rk = 1
)"""


def louvain_second_pass(edges: DataFrame,
                        cache_out: list | None = None) -> DataFrame:
    """Louvain level-2 (Blondel et al. 2008 phase 2 + one more pass):
    the first-pass communities become super-vertices, inter-community
    weights aggregate onto the community graph, and ONE more
    synchronous singleton-merge pass runs over that graph — the step
    that turns "local micro-communities" into the coarse structure a
    corpus map actually shows.

    Super-vertex degrees are Σ of member degrees (exactly the
    aggregated graph's degree INCLUDING the 2·internal self-loop mass,
    which the move gain needs; self-loops themselves never enter the
    candidate set because moving a community keeps its internal edges
    wherever it lands).  W = 2m is invariant under aggregation, so the
    level-2 gain  w_cd·W − k_c·k_d  rides the same int64 envelope as
    pass 1 (exact through W < 3e9).

    Output: (item, community_l1, community_l2) — every vertex with its
    pass-1 community and the community after the level-2 move
    (communities with no inter-community edge keep themselves; ties
    break to the smallest community id; the move itself is MIN-WARD —
    only toward a smaller community id — because the level-2 gain is
    symmetric, so mutual best pairs would otherwise swap labels
    without coarsening; and a move stands only when its target is
    itself a FIXPOINT this pass — without that, c moving to d while d
    moves to e leaves c labeled with an id whose members all left, a
    phantom merge.  Every moved-to label is therefore stationary; a
    suppressed move waits for the next pass, the same trade min-ward
    already makes).

    Scale: the aggregation is one labeling join (two keyed hash joins
    on the vertex id) + one (c_min, c_max) groupBy; everything after
    lives on the COMMUNITY graph, which is strictly smaller than the
    input graph.  ``cache_out`` collects the persisted pass-1 labels
    (consumed by the aggregation, the degree rollup, and the output
    join).  Reference has no graph surface (SURVEY.md §2); this
    extends louvain_first_pass exactly as plsa_two_rounds extends
    plsa_topic_round.

    The pass-1 labels are localCheckpointed (review r12): the merge
    pass + output join reference them FOUR times, and a lazy persist
    re-embeds the pass-1 window DAG per reference — Catalyst analysis
    of the replicated tree cost ~5 s of flat driver time; the eager
    cut makes the |items|-row label frame a plan leaf."""
    lv = louvain_first_pass(edges).select("item", "community")
    lv = lv.localCheckpoint(eager=True)
    if cache_out is not None:
        cache_out.append(lv)
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), F.col("w"),
    ).unionByName(edges.select(
        F.col("b").alias("src"), F.col("a").alias("dst"), F.col("w")))
    deg = sym.groupBy("src").agg(F.sum("w").cast("long").alias("k"))
    w_tot = deg.agg(F.sum("k").cast("long").alias("w_all"))
    mv = _community_merge_pass(
        edges, lv.select("item", F.col("community").alias("c")),
        deg, w_tot)
    return (
        lv.join(mv, lv["community"] == mv["c"], "left")
        .select(
            F.col("item").cast("long").alias("item"),
            F.col("community").cast("long").alias("community_l1"),
            F.coalesce("c2", "community").cast("long")
            .alias("community_l2"),
        )
    )


def _community_merge_pass(edges: DataFrame, labels: DataFrame,
                          deg: DataFrame, w_tot: DataFrame) -> DataFrame:
    """ONE synchronous singleton-merge pass over a community graph —
    the shared level-up step of louvain_second_pass/louvain_third_pass.
    ``labels`` is (item, c); aggregates inter-community weights and
    member-degree-sum super-degrees, then picks each community's best
    move by the integer gain w_cd·W − k_c·k_d with MIN-WARD symmetry
    breaking (a community moves only toward a smaller id — mutual best
    pairs would otherwise swap labels without coarsening, review r11)
    and CHAIN suppression (a move stands only when its target is a
    fixpoint this pass — without it, c moving to d while d moves to e
    relabels c to an id whose members all left, review r12).  Returns
    (c, c2) for every community with an inter-community edge.

    The best-move argmax is the same keyed max-over-struct(gain_q,
    -dst) the level-1 pass uses (r13-opt; guide §2.4): the (gain DESC,
    dst ASC) row_number window forced an exchange + sort per merge
    pass — community-scale data, but the dendrogram pays it twice —
    and the struct max is the identical total order ((src, dst) unique
    in sym2) as a map-side-combined HashAggregate."""
    e_lab = (
        edges.join(labels.select(F.col("item").alias("a"),
                                 F.col("c").alias("ca")), "a")
        .join(labels.select(F.col("item").alias("b"),
                            F.col("c").alias("cb")), "b")
    )
    inter = (
        e_lab.where("ca != cb")
        .groupBy(F.least("ca", "cb").alias("a2"),
                 F.greatest("ca", "cb").alias("b2"))
        .agg(F.sum("w").cast("long").alias("w2"))
    )
    kc = (
        labels.join(deg.select(F.col("src").alias("item"), "k"), "item")
        .groupBy("c").agg(F.sum("k").cast("long").alias("kc"))
    )
    sym2 = inter.select(
        F.col("a2").alias("src"), F.col("b2").alias("dst"), "w2"
    ).unionByName(inter.select(
        F.col("b2").alias("src"), F.col("a2").alias("dst"), "w2"))
    cand2 = (
        sym2.join(kc.select(F.col("c").alias("src"),
                            F.col("kc").alias("k_i")), "src")
        .join(kc.select(F.col("c").alias("dst"),
                        F.col("kc").alias("k_j")), "dst")
        .crossJoin(F.broadcast(w_tot))
        .select("src", "dst",
                (F.col("w2") * F.col("w_all") - F.col("k_i") * F.col("k_j"))
                .cast("long").alias("gain_q"))
    )
    mv0 = (
        cand2.groupBy("src").agg(
            F.max(F.struct(F.col("gain_q"),
                           (-F.col("dst")).alias("nd"))).alias("top"))
        .select(
            F.col("src").alias("c"),
            F.when((F.col("top.gain_q") > 0)
                   & (-F.col("top.nd") < F.col("src")),
                   -F.col("top.nd"))
            .otherwise(F.col("src")).cast("long").alias("c2"),
        )
    )
    tgt = mv0.select(F.col("c").alias("_tc"), F.col("c2").alias("_tc2"))
    return (
        mv0.join(tgt, mv0["c2"] == tgt["_tc"], "left")
        .select(
            mv0["c"].alias("c"),
            F.when(F.coalesce(F.col("_tc2"), mv0["c2"]) == mv0["c2"],
                   mv0["c2"])
            .otherwise(mv0["c"]).cast("long").alias("c2"),
        )
    )


def louvain_third_pass(edges: DataFrame,
                       cache_out: list | None = None) -> DataFrame:
    """Louvain level-3 — the dendrogram completed (Blondel et al. 2008
    iterate "aggregate + pass" until no move; three levels flatten the
    hierarchy the item graphs in this corpus actually have): one more
    aggregate-and-merge pass (_community_merge_pass) over the LEVEL-2
    community graph.  W = 2m is invariant under aggregation, so the
    same int64 gain envelope holds at every level.

    Output: (item, community_l1, community_l2, community_l3) — the full
    per-item dendrogram path; a level-2 community with no positive
    min-ward fixpoint move keeps its label, so community_l3 is the
    flattened final assignment.  Scale: each level's pass lives on a
    strictly smaller community graph; the level-2 labels persist (one
    labeling join + degree rollup + output join consume them).
    Reference has no graph surface (SURVEY.md §2); this completes
    louvain_second_pass exactly as that completed louvain_first_pass.

    The level-2 labels are localCheckpointed, not merely persisted:
    the merge pass references them THREE times (two labeling joins +
    the degree rollup) and the output join a fourth — with a lazy
    persist each reference re-embeds the whole level-2 logical plan
    (which itself embeds level 1), and Catalyst's analysis of the
    ~4x-replicated tree cost ~30 s of FLAT driver time at every SF
    (measured r12).  The eager cut materializes the |items|-row label
    frame once and the level-3 plan reads it as a leaf — the JP/kmeans
    iterate-truncation discipline."""
    lv2 = louvain_second_pass(edges, cache_out=cache_out)
    lv2 = lv2.localCheckpoint(eager=True)
    if cache_out is not None:
        cache_out.append(lv2)
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), F.col("w"),
    ).unionByName(edges.select(
        F.col("b").alias("src"), F.col("a").alias("dst"), F.col("w")))
    deg = sym.groupBy("src").agg(F.sum("w").cast("long").alias("k"))
    w_tot = deg.agg(F.sum("k").cast("long").alias("w_all"))
    mv3 = _community_merge_pass(
        edges, lv2.select("item", F.col("community_l2").alias("c")),
        deg, w_tot)
    return (
        lv2.join(mv3, lv2["community_l2"] == mv3["c"], "left")
        .select(
            F.col("item").cast("long").alias("item"),
            F.col("community_l1").cast("long").alias("community_l1"),
            F.col("community_l2").cast("long").alias("community_l2"),
            F.coalesce("c2", "community_l2").cast("long")
            .alias("community_l3"),
        )
    )


def _LOUVAIN_MERGE_CTES(lab: str, item_col: str, c_col: str, sfx: str,
                        edges_cte: str) -> str:
    """The SQL twin of _community_merge_pass: CTEs ``elab{sfx}`` ..
    ``mv{sfx}(c, c2)`` for one aggregate-and-merge pass over the
    community graph labeled by ``{lab}({item_col}, {c_col})`` —
    min-ward + chain-suppressed, reusing deg/wt from
    LOUVAIN_PASS_CTES."""
    return f"""elab{sfx} AS (
  SELECT e.w, la.{c_col} AS ca, lb.{c_col} AS cb
  FROM {edges_cte} e
  JOIN {lab} la ON la.{item_col} = e.a
  JOIN {lab} lb ON lb.{item_col} = e.b
),
inter{sfx} AS (
  SELECT least(ca, cb) AS a2, greatest(ca, cb) AS b2,
         CAST(sum(w) AS BIGINT) AS w2
  FROM elab{sfx} WHERE ca != cb GROUP BY 1, 2
),
kc{sfx} AS (
  SELECT {lab}.{c_col} AS c, CAST(sum(deg.k) AS BIGINT) AS kc
  FROM {lab} JOIN deg ON deg.src = {lab}.{item_col} GROUP BY 1
),
sym{sfx} AS (
  SELECT a2 AS src, b2 AS dst, w2 FROM inter{sfx}
  UNION ALL SELECT b2 AS src, a2 AS dst, w2 FROM inter{sfx}
),
cand{sfx} AS (
  SELECT s.src, s.dst,
         CAST(s.w2 * wt.w_all - ki.kc * kj.kc AS BIGINT) AS gain_q
  FROM sym{sfx} s
  JOIN kc{sfx} ki ON ki.c = s.src
  JOIN kc{sfx} kj ON kj.c = s.dst
  CROSS JOIN wt
),
mv0{sfx} AS (
  SELECT src AS c,
         CAST(CASE WHEN gain_q > 0 AND dst < src THEN dst
              ELSE src END AS BIGINT) AS c2
  FROM (
    SELECT src, dst, gain_q,
           row_number() OVER (PARTITION BY src
                              ORDER BY gain_q DESC, dst) AS rk
    FROM cand{sfx}
  ) WHERE rk = 1
),
mv{sfx} AS (
  SELECT m.c,
         CAST(CASE WHEN coalesce(t.c2, m.c2) = m.c2 THEN m.c2
              ELSE m.c END AS BIGINT) AS c2
  FROM mv0{sfx} m LEFT JOIN mv0{sfx} t ON t.c = m.c2
)"""


def LOUVAIN_SECOND_SQL(edges_cte: str = "e") -> str:
    """Level-2 CTE chain over ``{edges_cte}(a, b, w)`` — reuses
    LOUVAIN_PASS_CTES' lv/deg/wt and ends in the full SELECT."""
    return f"""{LOUVAIN_PASS_CTES(edges_cte)},
{_LOUVAIN_MERGE_CTES("lv", "item", "community", "2", edges_cte)}
SELECT CAST(lv.item AS BIGINT) AS item,
       CAST(lv.community AS BIGINT) AS community_l1,
       CAST(coalesce(mv2.c2, lv.community) AS BIGINT) AS community_l2
FROM lv LEFT JOIN mv2 ON mv2.c = lv.community
"""


def LOUVAIN_THIRD_SQL(edges_cte: str = "e") -> str:
    """Level-3 (dendrogram) CTE chain over ``{edges_cte}(a, b, w)``:
    the level-2 chain folded into an ``lv2`` CTE, one more merge pass
    over the level-2 community graph, full SELECT of the per-item
    dendrogram path."""
    return f"""{LOUVAIN_PASS_CTES(edges_cte)},
{_LOUVAIN_MERGE_CTES("lv", "item", "community", "2", edges_cte)},
lv2 AS (
  SELECT CAST(lv.item AS BIGINT) AS item,
         CAST(lv.community AS BIGINT) AS community_l1,
         CAST(coalesce(mv2.c2, lv.community) AS BIGINT) AS community_l2
  FROM lv LEFT JOIN mv2 ON mv2.c = lv.community
),
{_LOUVAIN_MERGE_CTES("lv2", "item", "community_l2", "3", edges_cte)}
SELECT lv2.item, lv2.community_l1, lv2.community_l2,
       CAST(coalesce(mv3.c2, lv2.community_l2) AS BIGINT) AS community_l3
FROM lv2 LEFT JOIN mv3 ON mv3.c = lv2.community_l2
"""


def louvain_modularity_report(edges: DataFrame) -> DataFrame:
    """Per-community modularity accounting of the first-pass
    assignment: (community, n_items, in_w, tot_w, q_contrib_ppm) with

        q_contrib_ppm = 2*in_w*1e6 div W
                        - (tot_w*1e6 div W)^2 div 1e6

    (floor-ppm of the standard Σin/2m - (Σtot/2m)^2 term; summing the
    column gives the assignment's modularity Q in ppm).  Quantize-then-
    sum: each community's term is an exact integer before the caller's
    reduction, so engines summing in different orders agree.

    Shapes: the assignment joins back onto the edge list KEYED on each
    endpoint (two hash joins on the vertex id); in_w/tot_w are one
    groupBy(community) each."""
    lv = louvain_first_pass(edges).select("item", "community")
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), F.col("w"),
    ).unionByName(edges.select(
        F.col("b").alias("src"), F.col("a").alias("dst"), F.col("w")))
    deg = sym.groupBy("src").agg(F.sum("w").cast("long").alias("k"))
    w_tot = deg.agg(F.sum("k").cast("long").alias("w_all"))
    lab = lv.select(F.col("item"), F.col("community"))
    e_lab = (
        edges.join(lab.select(F.col("item").alias("a"),
                              F.col("community").alias("ca")), "a")
        .join(lab.select(F.col("item").alias("b"),
                         F.col("community").alias("cb")), "b")
    )
    in_w = e_lab.where("ca = cb").groupBy(
        F.col("ca").alias("community")).agg(
        F.sum("w").cast("long").alias("in_w"))
    tot_w = (
        lab.join(deg.select(F.col("src").alias("item"), "k"), "item")
        .groupBy("community")
        .agg(F.sum("k").cast("long").alias("tot_w"),
             F.count(F.lit(1)).cast("long").alias("n_items"))
    )
    return (
        tot_w.join(in_w, "community", "left")
        .crossJoin(F.broadcast(w_tot))
        .select(
            F.col("community").cast("long").alias("community"),
            "n_items",
            F.coalesce("in_w", F.lit(0)).cast("long").alias("in_w"),
            "tot_w",
            F.expr(
                "CAST(2 * coalesce(in_w, 0) * 1000000 div w_all"
                " - (tot_w * 1000000 div w_all)"
                " * (tot_w * 1000000 div w_all) div 1000000 AS BIGINT)"
            ).alias("q_contrib_ppm"),
        )
    )


def LOUVAIN_MODULARITY_SQL(edges_cte: str = "e") -> str:
    """Report CTE chain over ``{edges_cte}(a, b, w)`` + LOUVAIN_PASS_CTES
    — the full SELECT (caller prepends WITH e AS (...))."""
    return f"""{LOUVAIN_PASS_CTES(edges_cte)},
e_lab AS (
  SELECT e.w, la.community AS ca, lb.community AS cb
  FROM {edges_cte} e
  JOIN lv la ON la.item = e.a
  JOIN lv lb ON lb.item = e.b
),
in_w AS (
  SELECT ca AS community, CAST(sum(w) AS BIGINT) AS in_w
  FROM e_lab WHERE ca = cb GROUP BY 1
),
tot_w AS (
  SELECT lv.community, CAST(sum(deg.k) AS BIGINT) AS tot_w,
         CAST(count(*) AS BIGINT) AS n_items
  FROM lv JOIN deg ON deg.src = lv.item
  GROUP BY 1
)
SELECT CAST(t.community AS BIGINT) AS community, t.n_items,
       CAST(coalesce(i.in_w, 0) AS BIGINT) AS in_w, t.tot_w,
       CAST(2 * coalesce(i.in_w, 0) * 1000000 // wt.w_all
            - (t.tot_w * 1000000 // wt.w_all)
            * (t.tot_w * 1000000 // wt.w_all) // 1000000 AS BIGINT)
         AS q_contrib_ppm
FROM tot_w t LEFT JOIN in_w i ON i.community = t.community
CROSS JOIN wt
"""


def assortativity_report(edges: DataFrame) -> DataFrame:
    """Degree-assortativity report (Newman, PRL 2002): the Pearson
    correlation of endpoint degrees over all edge ends — positive on
    social-style graphs (hubs link hubs), negative on hub-and-spoke
    item graphs; the single number that says which degree-cap /
    salting strategy a 100 TB join over this graph needs.

    Exactness: ALL moment sums (n ends, Σx, Σxy, Σx² with x =
    deg(src), y = deg(dst) over the SYMMETRIZED ends, so Σx = Σy by
    construction — Σx included, review r12) ACCUMULATE in
    DECIMAL(38,0)/HUGEINT — a plain long sum wraps silently on Spark
    past 9.2e18, reachable on dense hub graphs.  The BIGINT output
    casts are NOT inherently loud on Spark (this session runs
    non-ANSI, where CAST(DECIMAL(38,0) AS BIGINT) overflow silently
    NULLs; DuckDB's HUGEINT→BIGINT cast does raise), so each moment
    reads through a CONSUMED guard that raise_errors on Spark when a
    moment exceeds int64 — n_ends = 0 (empty graph) passes through as
    NULL.  The correlation numerator/denominator products ride
    DECIMAL(38,0), and the final r = num / (sqrt(d)·sqrt(d)) is the
    one IEEE step — sqrt and divide are correctly rounded, identical
    operand text on both engines, floored to ppm.

    Output one row: (n_ends, sum_x, sum_xy, sum_xx,
    assortativity_ppm)."""
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst"),
    ).unionByName(edges.select(
        F.col("b").alias("src"), F.col("a").alias("dst")))
    deg = sym.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("k"))
    ends = (
        sym.join(deg.select(F.col("src"), F.col("k").alias("kx")), "src")
        .join(deg.select(F.col("src").alias("dst"),
                         F.col("k").alias("ky")), "dst")
    )
    # moment sums in DECIMAL(38,0) (exact to 1e38 — Spark's plain long
    # sum wraps SILENTLY at 9.2e18 while DuckDB raises, review r11);
    # non-ANSI Spark also NULLs the DECIMAL→BIGINT overflow cast
    # silently (review r12), so the cast reads through a consumed
    # guard that raises loudly; DuckDB's HUGEINT→BIGINT cast raises
    # on its own.  Empty graph (n_ends = 0, NULL sums) stays NULL.
    def _loud(col: str, what: str) -> str:
        return (
            f"CASE WHEN n_ends = 0 THEN CAST(NULL AS BIGINT)"
            f" WHEN {col} <= 9223372036854775807"
            f" THEN CAST({col} AS BIGINT)"
            f" ELSE CAST(raise_error('assortativity: {what} exceeds"
            f" BIGINT — graph moments over int64') AS BIGINT) END"
        )

    mom = ends.agg(
        F.count(F.lit(1)).cast("long").alias("n_ends"),
        F.sum(F.expr("CAST(kx AS DECIMAL(38,0))")).alias("sx_d"),
        F.sum(F.expr("CAST(kx AS DECIMAL(38,0)) * ky")).alias("sxy_d"),
        F.sum(F.expr("CAST(kx AS DECIMAL(38,0)) * kx")).alias("sxx_d"),
    ).select(
        "n_ends",
        F.expr(_loud("sx_d", "sum_x")).alias("sum_x"),
        F.expr(_loud("sxy_d", "sum_xy")).alias("sum_xy"),
        F.expr(_loud("sxx_d", "sum_xx")).alias("sum_xx"),
    )
    return mom.select(
        "n_ends", "sum_x", "sum_xy", "sum_xx",
        # a REGULAR graph has zero degree variance: r is undefined
        # (NULL), and ANSI division by zero must never fire
        F.expr(
            "CAST(CASE WHEN CAST(n_ends AS DECIMAL(38,0)) * sum_xx"
            " - CAST(sum_x AS DECIMAL(38,0)) * sum_x <= 0 THEN NULL"
            " ELSE floor(CAST(CAST(n_ends AS DECIMAL(38,0)) * sum_xy"
            " - CAST(sum_x AS DECIMAL(38,0)) * sum_x AS DOUBLE)"
            " * 1000000.0"
            " / (sqrt(CAST(CAST(n_ends AS DECIMAL(38,0)) * sum_xx"
            " - CAST(sum_x AS DECIMAL(38,0)) * sum_x AS DOUBLE))"
            " * sqrt(CAST(CAST(n_ends AS DECIMAL(38,0)) * sum_xx"
            " - CAST(sum_x AS DECIMAL(38,0)) * sum_x AS DOUBLE))))"
            " END AS BIGINT)"
        ).alias("assortativity_ppm"),
    )


def ASSORTATIVITY_SQL(edges_cte: str = "e") -> str:
    """Report over ``{edges_cte}(a, b, w)`` — full SELECT (caller
    prepends WITH {edges_cte} AS (...))."""
    return f"""sym AS (
  SELECT a AS src, b AS dst FROM {edges_cte}
  UNION ALL SELECT b AS src, a AS dst FROM {edges_cte}
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS k FROM sym GROUP BY 1),
ends AS (
  SELECT di.k AS kx, dj.k AS ky
  FROM sym s
  JOIN deg di ON di.src = s.src
  JOIN deg dj ON dj.src = s.dst
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n_ends,
         CAST(sum(CAST(kx AS HUGEINT)) AS BIGINT) AS sum_x,
         CAST(sum(CAST(kx AS HUGEINT) * ky) AS BIGINT) AS sum_xy,
         CAST(sum(CAST(kx AS HUGEINT) * kx) AS BIGINT) AS sum_xx
  FROM ends
)
SELECT n_ends, sum_x, sum_xy, sum_xx,
       CAST(CASE WHEN CAST(n_ends AS HUGEINT) * sum_xx
            - CAST(sum_x AS HUGEINT) * sum_x <= 0 THEN NULL
            ELSE floor(CAST(CAST(n_ends AS HUGEINT) * sum_xy
            - CAST(sum_x AS HUGEINT) * sum_x AS DOUBLE)
            * 1000000.0
            / (sqrt(CAST(CAST(n_ends AS HUGEINT) * sum_xx
            - CAST(sum_x AS HUGEINT) * sum_x AS DOUBLE))
            * sqrt(CAST(CAST(n_ends AS HUGEINT) * sum_xx
            - CAST(sum_x AS HUGEINT) * sum_x AS DOUBLE))))
            END AS BIGINT) AS assortativity_ppm
FROM mom
"""
