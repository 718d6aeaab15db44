from __future__ import annotations

import math

from pyspark.sql import functions as F

from omldm_spark.operators.retrieval import (
    bm25_scores,
    bm25_topk,
    doc_stats,
    postings,
    tfidf_doc_vectors,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )


def _queries(spark, terms, qid=1):
    return spark.createDataFrame(
        [(qid, t) for t in terms], "query_id long, term string"
    )


def test_postings_term_frequencies(spark):
    docs = _docs(spark, ["a b a", "b c"])
    got = {(r["term"], r["doc_id"]): r["tf"] for r in postings(docs).collect()}
    assert got == {("a", 0): 2, ("b", 0): 1, ("b", 1): 1, ("c", 1): 1}


def test_doc_stats_drops_empty_docs(spark):
    docs = _docs(spark, ["a b", "   ", "c"])
    got = {r["doc_id"]: r["dl"] for r in doc_stats(docs).collect()}
    assert got == {0: 2, 2: 1}


def test_bm25_matches_hand_computation(spark):
    # 3 docs, query = {a}: df(a)=2, N=3, dl=[2,2,2], avgdl=2.
    docs = _docs(spark, ["a b", "a a", "c d"])
    rows = bm25_scores(docs, _queries(spark, ["a"])).collect()
    by_doc = {r["doc_id"]: r for r in rows}
    assert set(by_doc) == {0, 1}
    idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / (2.0 + 0.5))

    def contrib(tf):
        return idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * 1.0))

    assert by_doc[0]["score_q"] == round(contrib(1.0) * 1e6)
    assert by_doc[1]["score_q"] == round(contrib(2.0) * 1e6)
    assert by_doc[1]["score_q"] > by_doc[0]["score_q"]


def test_bm25_multi_term_sums_and_counts_hits(spark):
    docs = _docs(spark, ["a b c", "a x y", "x y z"])
    rows = bm25_scores(docs, _queries(spark, ["a", "b"])).collect()
    by_doc = {r["doc_id"]: r for r in rows}
    assert by_doc[0]["n_hit_terms"] == 2
    assert by_doc[1]["n_hit_terms"] == 1
    assert 2 not in by_doc
    # rarer term b (df=1) outweighs a (df=2) at equal tf
    assert by_doc[0]["score_q"] > 2 * by_doc[1]["score_q"]


def test_bm25_topk_rank_is_dense_and_bounded(spark):
    docs = _docs(spark, ["a"] * 5 + ["b c"])
    top = bm25_topk(docs, _queries(spark, ["a"]), k=3).collect()
    assert len(top) == 3
    assert sorted(r["rank"] for r in top) == [1, 2, 3]
    # equal scores tie-break by doc_id ascending
    assert [r["doc_id"] for r in sorted(top, key=lambda r: r["rank"])] == [0, 1, 2]


def test_tfidf_rare_term_weighs_more(spark):
    docs = _docs(spark, ["common rare", "common x", "common y"])
    got = {
        (r["doc_id"], r["term"]): r
        for r in tfidf_doc_vectors(docs).collect()
    }
    assert got[(0, "rare")]["df"] == 1
    assert got[(0, "common")]["df"] == 3
    assert got[(0, "rare")]["tfidf_q"] > got[(0, "common")]["tfidf_q"]
    # smoothed idf of an everywhere-term is ln(4/4)=0
    assert got[(0, "common")]["tfidf_q"] == 0


def test_bm25_score_is_partitioning_invariant(spark):
    docs = _docs(spark, ["a b c d", "a a b", "c d e", "a e f g"])
    q = _queries(spark, ["a", "c"])
    one = {
        (r["query_id"], r["doc_id"]): r["score_q"]
        for r in bm25_scores(docs.coalesce(1), q).collect()
    }
    many = {
        (r["query_id"], r["doc_id"]): r["score_q"]
        for r in bm25_scores(docs.repartition(7), q).collect()
    }
    assert one == many


def test_kmeans_train_matches_numpy_replay(spark):
    """3 rounds of quantized Lloyd == an exact integer numpy replay of
    the same rules (argmin with (dist, cid) tiebreak; floor-midpoint
    centroid requantization; empty cluster keeps previous centroid)."""
    import numpy as np

    from omldm_spark.operators.similarity import kmeans_train_quantized

    rng = np.random.default_rng(11)
    X = rng.normal(size=(60, 4))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    out = {r["cid"]: r for r in
           kmeans_train_quantized(emb, k=3, rounds=3).collect()}

    Q = np.rint(X * 1_000_000).astype(np.int64)
    cents = {c: Q[c].tolist() for c in range(3)}
    last_counts = {}
    for _ in range(3):
        assign = {}
        for i in range(60):
            best = min(
                (sum((int(a) - int(b)) ** 2
                     for a, b in zip(Q[i], cents[c])), c)
                for c in cents
            )[1]
            assign.setdefault(best, []).append(i)
        last_counts = {c: len(v) for c, v in assign.items()}
        cents = {
            c: (
                [(2 * sum(int(Q[i][d]) for i in assign[c]) + len(assign[c]))
                 // (2 * len(assign[c])) for d in range(4)]
                if c in assign else cv
            )
            for c, cv in cents.items()
        }
    for c in range(3):
        assert out[c]["n_assigned"] == last_counts.get(c, 0)
        assert list(out[c]["centroid_q"]) == cents[c]


def test_phrase_search_overlaps_and_positions(spark):
    """Overlapping occurrences each count ('a a a' matches 'a a' twice);
    first_pos is 1-based; docs without the full phrase are absent."""
    from omldm_spark.operators.retrieval import phrase_search

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "x a a y a a"), (3, "a b a"), (4, "b b")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in phrase_search(docs, ["a", "a"]).collect()}
    assert out[1]["n_matches"] == 2 and out[1]["first_pos"] == 1
    assert out[2]["n_matches"] == 2 and out[2]["first_pos"] == 2
    assert 3 not in out and 4 not in out

    tri = {r["doc_id"]: r for r in phrase_search(docs, ["a", "a", "a"]).collect()}
    assert set(tri) == {1} and tri[1]["n_matches"] == 1


def test_tfidf_cosine_pairs_python_referee(spark):
    """Sparse posting-join cosine == dense numpy cosine over the same
    integer tf-idf weights, for every emitted pair; and the emitted set
    is exactly the pairs above threshold."""
    import math
    from collections import defaultdict
    from itertools import combinations

    from omldm_spark.io import load_table
    from omldm_spark.operators.retrieval import tfidf_doc_vectors
    from omldm_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {(r.doc_a, r.doc_b): r for r in
           QUERIES["tfidf_cosine_pairs"](spark, sf).collect()}
    tv = tfidf_doc_vectors(load_table(spark, sf, "documents")).collect()
    vec = defaultdict(dict)
    for r in tv:
        vec[r.doc_id][r.term] = r.tfidf_q
    expect = {}
    for a, b in combinations(sorted(vec), 2):
        va, vb = vec[a], vec[b]
        shared = set(va) & set(vb)
        if not shared:
            continue
        dot = sum(va[t] * vb[t] for t in shared)
        n2a = sum(w * w for w in va.values())
        n2b = sum(w * w for w in vb.values())
        cos = int(math.floor(dot / math.sqrt(float(n2a) * float(n2b))
                             * 1e6 + 0.5))
        if cos >= 900_000:
            expect[(a, b)] = (len(shared), dot, cos)
    assert set(got) == set(expect) and len(expect) > 5
    for p, (ns, dot, cos) in expect.items():
        g = got[p]
        assert (g.n_shared, g.dot, g.cos_mppm) == (ns, dot, cos), p


def test_mutual_knn_docs_matches_python_referee(spark):
    # referee: take the SAME scored pair set the operator consumes,
    # rank per-doc in python with the (cos DESC, id) tie-break, keep
    # reciprocal top-k pairs — the query must match exactly.
    from collections import defaultdict

    from omldm_spark.operators.retrieval import tfidf_cosine_pairs
    from omldm_spark.io import load_table
    from omldm_spark.queries import QUERIES, _MKNN_K
    from tests.conftest import SF_DIR as sf_dir

    from omldm_spark.queries import _MKNN_TAU
    scored = tfidf_cosine_pairs(
        load_table(spark, sf_dir, "documents"),
        min_cos_mppm=_MKNN_TAU).collect()
    nbrs = defaultdict(list)
    for r in scored:
        nbrs[r.doc_a].append((-r.cos_mppm, r.doc_b))
        nbrs[r.doc_b].append((-r.cos_mppm, r.doc_a))
    rank = {}
    for src, lst in nbrs.items():
        for i, (_, dst) in enumerate(sorted(lst), start=1):
            if i <= _MKNN_K:
                rank[(src, dst)] = i
    want = {(a, b, rank[(a, b)], rank[(b, a)])
            for (a, b) in rank
            if a < b and (b, a) in rank}
    got = {(r.doc_a, r.doc_b, r.rank_ab, r.rank_ba)
           for r in QUERIES["mutual_knn_docs"](spark, sf_dir).collect()}
    assert got == want
    assert want  # non-vacuous: the synthetic corpus has reciprocal pairs
    # the mutual filter is strict: some directed top-k edge is dropped
    directed = {(s, d) for (s, d) in rank}
    assert any((d, s) not in rank for (s, d) in directed)


def test_rake_keywords_planted_semantics(spark):
    # classic RAKE behavior on a planted corpus: "deep neural network"
    # appears as a 3-word stopword-free run; its member words score
    # deg/freq > 1 because they co-occur in a long phrase; a word that
    # only ever appears alone ("cat") scores exactly 1.0 (1e6 ppm).
    from omldm_spark.operators.retrieval import rake_keywords

    docs = spark.createDataFrame(
        [
            (1, "the deep neural network of deep learning"),
            (2, "a deep neural network"),
            (3, "cat and the cat"),
        ],
        "doc_id long, text string",
    )
    out = {r.phrase: r for r in rake_keywords(docs, top_n=10).collect()}
    # phrase splitting: stopwords never appear inside a phrase
    assert all(
        not set(p.split()) & {"the", "a", "of", "and", "to", "in", "is"}
        for p in out
    )
    assert out["cat"].n_occ == 2 and out["cat"].score_ppm == 1_000_000
    dnn = out["deep neural network"]
    assert dnn.n_occ == 2 and dnn.n_words == 3
    # referee arithmetic: deep freq 3 deg 3+3+2=8, neural/network freq 2
    # deg 6 -> phrase = 8/3 + 3 + 3 in ppm (floor-div on deep)
    assert dnn.score_ppm == (8 * 1_000_000) // 3 + 3_000_000 + 3_000_000
    assert out["deep learning"].score_ppm == (8 * 1_000_000) // 3 + 2_000_000
    # ranking: the 3-word phrase outranks everything
    assert dnn.rank == 1


def test_tfidf_cosine_strategies_bit_identical(spark):
    # the three physical strategies — unfiltered posting join, rare-first
    # prefix filter, dense block-Gram — are alternative PLANS for one
    # logical operator and must agree bit-for-bit, including on pairs
    # sitting exactly at the threshold.  Corpus: near-dup template pairs
    # (above tau), a shared-prefix decoy (below), singletons, plus a
    # rare-term pair — df skew so the rare-first prefix order matters.
    from omldm_spark.operators.retrieval import tfidf_cosine_pairs

    # "ubiq" appears in EVERY doc: df == n_docs -> idf = 0 -> w = 0, but
    # tfidf_doc_vectors KEEPS the zero-weight posting and the posting-
    # join strategies count it in n_shared — the dense kernel must count
    # term PRESENCE, not w != 0, to agree (ADVICE r8: a universal term
    # is most likely exactly on the dense corpora the auto strategy
    # routes to this path)
    rows = [
        (1, "ubiq alpha beta gamma delta epsilon"),
        (2, "ubiq alpha beta gamma delta epsilon"),     # exact dup of 1
        (3, "ubiq alpha beta gamma delta zeta"),        # near dup of 1/2
        (4, "ubiq alpha alpha alpha beta"),             # common-term heavy
        (5, "ubiq omega psi chi phi"),                  # disjoint block
        (6, "ubiq omega psi chi upsilon"),              # near dup of 5
        (7, "ubiq rho rho rho rho"),                    # singleton
        (8, "ubiq beta gamma"),                         # short decoy
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def got(**kw):
        return sorted(
            (r.doc_a, r.doc_b, r.n_shared, r.dot, r.cos_mppm)
            for r in tfidf_cosine_pairs(docs, min_cos_mppm=600_000,
                                        **kw).collect())

    posting = got(prefix_filter=False)
    prefix = got(prefix_filter=True, strategy="prefix")
    dense = got(prefix_filter=True, strategy="dense")
    assert posting == prefix == dense
    by_pair = {(a, b): (ns, dot, cos)
               for a, b, ns, dot, cos in posting}
    assert (1, 2) in by_pair and (5, 6) in by_pair  # planted dups survive
    # the universal zero-weight term IS counted in n_shared (6 = 5 real
    # shared terms + ubiq) while contributing 0 to the dot product
    assert by_pair[(1, 2)][0] == 6
    assert posting  # non-vacuous


def test_tfidf_cosine_dense_string_ids(spark):
    # the dense block-Gram path honors the generic id_col contract:
    # string doc ids flow through blocking, the numpy kernel, and the
    # canonical doc_a < doc_b ordering (ADVICE r8: the schema was
    # hardcoded `doc_a long`)
    from omldm_spark.operators.retrieval import tfidf_cosine_pairs

    rows = [
        ("doc-a", "alpha beta gamma delta"),
        ("doc-b", "alpha beta gamma delta"),
        ("doc-c", "omega psi chi"),
        ("doc-d", "alpha beta gamma zeta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    def got(**kw):
        return sorted(
            (r.doc_a, r.doc_b, r.n_shared, r.dot, r.cos_mppm)
            for r in tfidf_cosine_pairs(docs, min_cos_mppm=600_000,
                                        **kw).collect())

    posting = got(prefix_filter=False)
    dense = got(prefix_filter=True, strategy="dense")
    assert posting == dense
    assert any(a == "doc-a" and b == "doc-b" for a, b, *_ in posting)
    assert all(a < b for a, b, *_ in dense)  # canonical string order


def test_tfidf_cosine_unsatisfiable_pin_raises(spark):
    # a pinned strategy outside the prefix_filter branch must raise,
    # not silently run the quadratic join (ADVICE r8)
    import pytest

    from omldm_spark.operators.retrieval import tfidf_cosine_pairs

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="requires prefix_filter"):
        tfidf_cosine_pairs(docs, prefix_filter=False, strategy="dense")
    with pytest.raises(ValueError, match="requires prefix_filter"):
        tfidf_cosine_pairs(docs, min_cos_mppm=0, prefix_filter=True,
                           strategy="prefix")
    with pytest.raises(ValueError, match="unknown strategy"):
        tfidf_cosine_pairs(docs, strategy="blocked")


def test_mmr_prefers_diverse_over_redundant(spark):
    """Hand geometry: with the query on e1, a near-duplicate of the
    top pick loses round 2 to a less-relevant but orthogonal
    candidate — the defining MMR behavior — and rank 1 is the pure
    argmax of relevance."""
    from omldm_spark.operators.retrieval import mmr_diverse_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),     # query
        (1, [0.9, 0.1, 0.0, 0.0]),     # most relevant
        (2, [0.9, 0.11, 0.0, 0.0]),    # near-duplicate of 1
        (3, [0.3, 0.0, 1.0, 0.0]),     # less relevant, orthogonal-ish
        (4, [0.2, 0.0, 0.0, 1.0]),     # even less relevant, diverse
        (5, [-0.5, 0.0, 0.0, 0.0]),    # anti-relevant
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sorted(mmr_diverse_topk(emb).collect(), key=lambda r: r["rank"])
    assert out[0]["vec_id"] == 1 and out[0]["maxsim"] is None
    # round 2: candidate 2 has rel ~0.993 but maxsim ~1.0 ->
    # score ~0.7*0.993-0.3*1.0 = 0.395; candidate 3 rel ~0.287,
    # maxsim ~cos(3,1) ~0.29 -> score ~0.114... wait 0.7*0.287-0.3*0.29
    # = 0.114 < 0.395, so 2 still wins round 2 at λ=0.7; the diverse
    # pick must appear by round 3 once BOTH near-duplicates are in.
    picked = [r["vec_id"] for r in out]
    assert picked[1] == 2
    assert picked[2] in (3, 4)
    assert len(set(picked)) == 5
    scores = [r["score"] for r in out[1:]]
    assert all(s is not None for s in scores)


def test_facility_location_greedy_brute_force(spark):
    """Python referee replays the exact greedy over the quantized
    integer dots: selected ids, per-round gains, and the running
    objective must match; gains must be non-increasing (submodularity
    of the saturated coverage objective)."""
    from omldm_spark.operators.retrieval import facility_location_select

    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [0.5, 0.5, 0.0]),
        (5, [0.1, 0.0, 0.9]),
        (6, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    k, n_cand, quant = 3, 4, 1000
    out = sorted(
        facility_location_select(emb, k=k, n_cand=n_cand, quant=quant)
        .collect(), key=lambda r: r["rank"])

    q = {i: [round(x * quant) for x in v] for i, v in vecs}
    dots = {(d, c): sum(a * b for a, b in zip(q[d], q[c]))
            for d in q for c in q if c < n_cand}
    sel: list[int] = []
    ref = []
    for r in range(1, k + 1):
        best = None
        for c in range(n_cand):
            if c in sel:
                continue
            gain = 0
            for d in q:
                cov = max([0] + [dots[(d, s)] for s in sel])
                gain += max(0, dots[(d, c)] - cov)
            if best is None or gain > best[1] or (
                    gain == best[1] and c < best[0]):
                best = (c, gain)
        sel.append(best[0])
        ref.append(best)
    assert [(r["vec_id"], r["gain"]) for r in out] == ref
    total = 0
    for r, (cid, gain) in zip(out, ref):
        total += gain
        assert r["objective"] == total
    gains = [g for _, g in ref]
    assert gains == sorted(gains, reverse=True)  # submodular decay


def test_facility_location_malformed_rows_degrade_to_null(spark):
    """A null / ragged embedding row must not fail the Arrow batch
    (ADVICE r12): the kernel degrades such rows to NULL dots — the
    pre-r12 row-local fold semantics, where the round sums skip them —
    and the selection over the well-formed rows is unchanged."""
    from omldm_spark.operators.retrieval import facility_location_select

    good = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [0.5, 0.5, 0.0]),
    ]
    bad = [(100, None), (101, [1.0]), (102, [0.5, None, 0.5])]
    emb = spark.createDataFrame(
        good + bad, "vec_id long, embedding array<float>")
    base = spark.createDataFrame(
        good, "vec_id long, embedding array<float>")
    out = sorted(
        facility_location_select(emb, k=2, n_cand=4, quant=1000).collect(),
        key=lambda r: r["rank"])
    ref = sorted(
        facility_location_select(base, k=2, n_cand=4, quant=1000).collect(),
        key=lambda r: r["rank"])
    # malformed rows contribute nothing (null dots are skipped by the
    # sums), so picks AND gains equal the clean-corpus run
    assert [(r["vec_id"], r["gain"], r["objective"]) for r in out] == \
        [(r["vec_id"], r["gain"], r["objective"]) for r in ref]


def test_facility_location_oracle_drops_malformed_rows_like_engine(spark):
    """Malformed rows degrade the same way in the engine and in
    FACLOC_SQL: a NULL, ragged, NULL-element, NaN or infinite embedding
    adds nothing to any gain on either side, so DuckDB and the engine
    agree on the planted rows and on the clean rows alone."""
    import duckdb

    from omldm_spark.operators.retrieval import (
        FACLOC_SQL, facility_location_select)

    good = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [0.5, 0.5, 0.0]),
    ]
    bad = [(100, None), (101, [1.0]), (102, [0.5, None, 0.5]),
           (103, [float("nan"), 0.0, 1.0]), (104, [float("inf"), 0.0, 1.0])]
    for rows in (good, good + bad):
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = sorted(tuple(r) for r in facility_location_select(
            emb, k=2, n_cand=4, quant=1000).collect())
        con = duckdb.connect()
        con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
        con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
        want = sorted(con.execute(
            FACLOC_SQL(k=2, n_cand=4, quant=1000)).fetchall())
        assert got == want == [(1, 0, 2400000, 2400000),
                               (2, 2, 1000000, 3400000)], rows


def test_rocchio_expansion_excludes_query_and_ranks_centroid(spark):
    """Planted corpus: docs about 'hash join' also mention 'bucket';
    the expansion for query (hash, join) must rank 'bucket' first,
    never emit an original query term, and match the brute-force
    integer centroid."""
    from omldm_spark.operators.retrieval import rocchio_expansion

    docs = spark.createDataFrame(
        [(1, "hash join bucket probe build side"),
         (2, "hash join bucket partition spill"),
         (3, "hash join bucket radix pass"),
         (4, "sort merge shuffle range"),
         (5, "scan filter predicate pushdown")],
        "doc_id long, text string")
    q = spark.createDataFrame([(1, "hash"), (1, "join")],
                              "query_id long, term string")
    out = rocchio_expansion(docs, q, query_id=1, fb_k=3, top_n=5)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    terms = [r["term"] for r in rows]
    assert "hash" not in terms and "join" not in terms
    assert rows[0]["term"] == "bucket"
    assert rows[0]["n_fb_docs"] == 3
    # brute-force centroid for 'bucket': tf=1 in each of 3 fb docs
    import math
    tfidf_q = round(1 * math.log((1 + 5) / (1 + 3)) * 1_000_000)
    assert rows[0]["score_q"] == 3 * (3 * tfidf_q) // (4 * 3)
