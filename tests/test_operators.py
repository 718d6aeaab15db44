"""Dedup / text / similarity operators on controlled toy inputs."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from omldm_spark.functions.text import fingerprint, lang_scores, text_metrics
from omldm_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from omldm_spark.io import load_table
from omldm_spark.operators.similarity import cosine_topk

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),       # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),       # near dup
        (4, "completely different content about spark engines"),
        (5, "the  QUICK   brown fox jumps over the lazy dog"),    # ws/case dup
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup_groups_identical_text(spark):
    out = exact_dedup(_docs(spark)).toPandas()
    dup = out[out["dup_count"] == 2]
    assert len(dup) == 1 and dup.iloc[0]["keeper_id"] == 1
    assert len(out) == 4  # 4 distinct texts


def test_fingerprint_normalizes_case_and_whitespace(spark):
    fp = fingerprint(_docs(spark)).toPandas().set_index("doc_id")["fingerprint"]
    assert fp[1] == fp[2] == fp[5]
    assert fp[1] != fp[3]


def test_minhash_near_dups_share_most_hashes(spark):
    sigs = minhash_signatures(_docs(spark), k=8).toPandas().set_index("doc_id")
    same12 = sum(sigs.loc[1, f"h{i}"] == sigs.loc[2, f"h{i}"] for i in range(8))
    same13 = sum(sigs.loc[1, f"h{i}"] == sigs.loc[3, f"h{i}"] for i in range(8))
    same14 = sum(sigs.loc[1, f"h{i}"] == sigs.loc[4, f"h{i}"] for i in range(8))
    assert same12 == 8          # identical docs: identical signatures
    assert same13 >= 4          # one-word edit keeps most minhashes
    assert same14 <= 2          # unrelated docs share almost none


def test_lsh_pairs_find_exact_dup(spark):
    sigs = minhash_signatures(_docs(spark), k=8)
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_jaccard_scores(spark):
    out = ngram_jaccard_pairs(_docs(spark), threshold_num=1, threshold_den=10)
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert j[(1, 2)] == 1.0
    assert 0.3 < j[(1, 3)] < 1.0
    assert (1, 4) not in j


def test_simhash_hamming_distance_tracks_similarity(spark):
    out = simhash(spark, _docs(spark)).toPandas().set_index("doc_id")["simhash"]
    ham = lambda a, b: bin(int(a) ^ int(b)).count("1")  # noqa: E731
    assert ham(out[1], out[2]) == 0
    assert ham(out[1], out[3]) <= ham(out[1], out[4])


def test_text_metrics_exact_ratios(spark):
    m = text_metrics(_docs(spark)).toPandas().set_index("doc_id")
    assert m.loc[1, "n_tokens"] == 9
    assert m.loc[1, "stopword_ratio"] == 2 / 9  # 'the' twice
    assert m.loc[4, "n_tokens"] == 6


def test_lang_scores_prefers_english_text(spark):
    out = lang_scores(_docs(spark)).toPandas().set_index("doc_id")
    assert out.loc[1, "lang_pred"] == "en"
    assert out.loc[1, "score_en"] >= 2


def test_cosine_topk_identical_vector_ranks_first(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),   # identical to query 0
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = cosine_topk(emb, k=3, max_query_id=1).toPandas()
    q0 = out[out["query_id"] == 0].sort_values("rank")
    assert list(q0["neighbor_id"]) == [1, 2, 3]
    assert q0.iloc[0]["cos_sim"] == 1.0


def test_parameter_chunking_roundtrip(spark):
    from omldm_spark.functions.chunking import chunk_parameters, reassemble_parameters

    rows = [
        (1, "weights", [float(i) for i in range(25)]),
        (1, "bias", [1.5]),
        (2, "weights", []),
    ]
    df = spark.createDataFrame(rows, "pipeline_id int, name string, values array<double>")
    chunks = chunk_parameters(df, bucket_size=10)
    pdf = chunks.toPandas()
    w = pdf[(pdf.pipeline_id == 1) & (pdf.name == "weights")]
    assert sorted(w["bucket_idx"]) == [0, 1, 2]           # 25 -> 10+10+5
    assert list(w[w.bucket_idx == 2].iloc[0]["bucket"]) == [20.0, 21.0, 22.0, 23.0, 24.0]
    back_pdf = reassemble_parameters(chunks).toPandas()
    back = {
        (r["pipeline_id"], r["name"]): list(r["values"])
        for r in back_pdf.to_dict("records")
    }
    assert back[(1, "weights")] == [float(i) for i in range(25)]
    assert back[(1, "bias")] == [1.5]
    assert back[(2, "weights")] == []


def test_ivf_topk_recall_against_brute_force(spark):
    from omldm_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = cosine_topk(emb, k=5, max_query_id=10).toPandas()
    approx = ivf_topk(spark, emb, n_centroids=8, n_probe=3, k=5,
                      max_query_id=10).toPandas()
    exact_sets = exact.groupby("query_id")["neighbor_id"].apply(set)
    approx_sets = approx.groupby("query_id")["neighbor_id"].apply(set)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / 5
        for q in exact_sets.index
    ]
    # probing 3/8 cells must still find most true neighbors
    assert sum(recalls) / len(recalls) > 0.5
    # and every returned neighbor is a real vector with a sane score
    assert (approx["cos_sim"] <= 1.0).all() and (approx["rank"] <= 5).all()


def test_ann_recall_table(spark):
    """One recall table across the ANN family (NOTES_r2 item 3): multi-probe
    LSH must dominate single-probe (its candidate set is a superset), and
    the ranked results must agree with brute force on every candidate both
    return (no false positives anywhere — all methods re-rank exactly)."""
    from omldm_spark.operators.similarity import (
        anchor_lsh_topk,
        cosine_topk,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    k, nq = 5, 10
    exact = cosine_topk(emb, k=k, max_query_id=nq).toPandas()
    exact_sets = exact.groupby("query_id")["neighbor_id"].apply(set)

    def recall(df):
        sets = df.groupby("query_id")["neighbor_id"].apply(set)
        return sum(
            len(exact_sets[q] & sets.get(q, set())) / k for q in exact_sets.index
        ) / len(exact_sets)

    single = anchor_lsh_topk(emb, n_anchors=4, k=k, max_query_id=nq).toPandas()
    multi = anchor_lsh_topk(
        emb, n_anchors=4, k=k, max_query_id=nq, flip_bits=1
    ).toPandas()
    ivf = ivf_topk(spark, emb, n_centroids=8, n_probe=3, k=k,
                   max_query_id=nq).toPandas()
    r1, rm, ri = recall(single), recall(multi), recall(ivf)
    # the multi-probe candidate set strictly contains the single-probe one,
    # and the 1-bit probes buy a REAL lift (measured 0.18 -> 0.48 here)
    assert rm >= r1 + 0.15
    assert rm > 0.4
    assert ri > 0.5
    # every (query, neighbor) any method returns scores identically to brute
    # force (within the shared round-6): join on the exact result
    ex = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact.itertuples()}
    for df in (single, multi, ivf):
        for r in df.itertuples():
            if (r.query_id, r.neighbor_id) in ex:
                assert abs(ex[(r.query_id, r.neighbor_id)] - r.cos_sim) < 1e-9


def test_winnowing_detects_shifted_duplicate(spark):
    """Winnowing's point: fingerprints survive content SHIFTS (prefix
    insertion), unlike whole-document hashing."""
    from omldm_spark.operators.dedup import winnow_fingerprints

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, "PREFIX INSERTED " + base),    # shifted copy
            (3, "completely different words populate this other document"),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs, k=8, w=4).toPandas()
    sets = fp.groupby("doc_id")["hash"].apply(set)
    overlap_dup = len(sets[1] & sets[2]) / len(sets[1])
    overlap_diff = len(sets[1] & sets[3]) / len(sets[1])
    assert overlap_dup > 0.6     # shifted copy shares most fingerprints
    assert overlap_diff < 0.1    # unrelated doc shares almost none


def test_embedding_lsh_recall_vs_brute_force(spark):
    """SRP-LSH pairs are a subset of brute-force pairs with recall matching
    the Charikar bound: p_bit = 1 - acos(s)/pi; 4 bands of 4 bits at
    s >= 0.4 predicts ~0.5 recall, rising toward 1 as s -> 1."""
    from omldm_spark.functions.vector import cosine, to_double_array
    from omldm_spark.operators.dedup import embedding_lsh_pairs

    emb = load_table(spark, SF_DIR, "embeddings")
    lsh = embedding_lsh_pairs(emb).toPandas()
    base = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        to_double_array("embedding").alias("v"),
    )
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine("va", "vb"), 6).alias("cos"))
        .filter(F.col("cos") >= 0.4)
        .toPandas()
    )
    lsh_pairs = set(zip(lsh.id_a, lsh.id_b))
    brute_pairs = set(zip(brute.id_a, brute.id_b))
    assert lsh_pairs <= brute_pairs  # no false positives (exact re-rank)
    assert len(lsh_pairs) / max(len(brute_pairs), 1) >= 0.4
    # high-similarity pairs (the actual near-dups) are caught reliably
    hi = brute[brute.cos >= 0.8]
    if len(hi):
        hi_pairs = set(zip(hi.id_a, hi.id_b))
        assert len(hi_pairs & lsh_pairs) / len(hi_pairs) >= 0.9


def test_chunking_boundaries(spark):
    """Chunk math: 150 tokens at size 64 / overlap 16 (stride 48) -> starts
    0, 48, 96 with lengths 64, 64, 54; a short doc yields one chunk."""
    from omldm_spark.operators.corpus import chunk_documents

    long_doc = " ".join(f"t{i}" for i in range(150))
    rows = [(1, long_doc), (2, "just three tokens"), (3, "")]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = chunk_documents(docs, chunk_size=64, overlap=16).toPandas()
    d1 = out[out.doc_id == 1].sort_values("chunk_idx")
    assert list(d1.chunk_start) == [0, 48, 96]
    assert list(d1.n_chunk_tokens) == [64, 64, 54]
    d2 = out[out.doc_id == 2]
    assert len(d2) == 1 and d2.iloc[0].n_chunk_tokens == 3
    assert (out.doc_id != 3).all()  # empty doc dropped
    # consecutive chunks overlap by exactly `overlap` tokens
    assert d1.iloc[1].chunk_start == 64 - 16


def test_corpus_clean_gates(spark):
    """Each gate drops exactly its target: dup loses to keeper, non-English
    fails the language gate, token-less fails min_tokens, no-stopword text
    fails the ratio gate."""
    from omldm_spark.operators.corpus import corpus_clean

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "der schnelle braune fuchs springt und der hund ist die faul"),
        (4, "too short"),
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    kept = corpus_clean(docs).toPandas()
    assert list(kept.doc_id) == [1]  # keeper of the dup pair, en, long, stopworded


def test_stratified_sample_rate_and_determinism(spark):
    """~rate_num/256 of every group kept; identical selection on re-run and
    under different partitioning (pure function of the key)."""
    from omldm_spark.operators.corpus import stratified_sample

    pdf = pd.DataFrame({
        "id": range(4000),
        "grp": ["a" if i % 2 else "b" for i in range(4000)],
    })
    df = spark.createDataFrame(pdf)
    s1 = stratified_sample(df, "grp", "id", rate_num=64).toPandas()
    s2 = stratified_sample(df.repartition(7), "grp", "id", rate_num=64).toPandas()
    assert sorted(s1.id) == sorted(s2.id)
    for g in ("a", "b"):
        rate = (s1.grp == g).sum() / 2000
        assert 0.18 < rate < 0.32  # ~0.25 within binomial noise


def test_kmeans_parallel_init_balances_ivf_cells(spark):
    """K-means|| seeding (NOTES_r2 item 7): first-k init collapses the
    quantizer (measured: one cell holds 489/500 vectors, so 'probing 2
    cells' scans ~98% of the data — recall looks great, pruning is fake).
    The Bahmani seed must bound the largest cell so n_probe/n_centroids
    approximates the scanned fraction, which is the whole point of IVF at
    100 TB."""
    import numpy as np
    from pyspark.sql import functions as F

    from omldm_spark.functions.vector import to_double_array
    from omldm_spark.learners.kmeans import kmeans_parallel_init

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        to_double_array("embedding").alias("v"),
    )
    X = np.asarray([r[1] for r in emb.orderBy("vec_id").limit(1024).collect()])
    C = kmeans_parallel_init(X, 8, seed=0)
    assert C.shape == (8, X.shape[1])
    sizes = np.bincount(
        ((X[:, None, :] - C[None, :, :]) ** 2).sum(2).argmin(1), minlength=8
    )
    # every cell populated, largest cell holds < 35% of the mass
    assert sizes.min() > 0
    assert sizes.max() / sizes.sum() < 0.35
    # deterministic under the same seed
    assert np.array_equal(C, kmeans_parallel_init(X, 8, seed=0))


def test_dedup_clusters_transitive_and_isolated(spark):
    """A~B, B~C must collapse into ONE cluster keyed by min id even though
    A and C never pair directly; isolated docs keep themselves; a longer
    chain exercises multi-round label propagation."""
    from omldm_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    pairs = spark.createDataFrame(
        # chain 0-1-2, pair 5-6 given in reversed id order, chain 7-8-9
        [(1, 2), (0, 1), (6, 5), (8, 7), (9, 8)],
        "id_a long, id_b long",
    )
    out = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in dedup_clusters(docs, pairs).collect()}
    assert out[0] == (0, True) and out[1] == (0, False) and out[2] == (0, False)
    assert out[3] == (3, True) and out[4] == (4, True)
    assert out[5] == (5, True) and out[6] == (5, False)
    assert out[7] == (7, True) and out[8] == (7, False) and out[9] == (7, False)
    # exactly one keeper per cluster
    keepers = [d for d, (c, k) in out.items() if k]
    assert sorted(keepers) == [0, 3, 4, 5, 7]


def test_canonical_url_rules(spark):
    # every documented rule, one planted case each, plus a referee that
    # two raw spellings of one page collapse while distinct pages don't
    from omldm_spark.operators.web import canonical_url

    from pyspark.sql import functions as F

    cases = [
        # (raw, expected canonical)
        ("HTTP://WWW.Example.COM:80/A/B/?utm_source=x&q=1#top",
         "http://example.com/A/B?q=1"),           # case, www, :80, utm, frag
        ("https://example.com:443/", "https://example.com/"),  # :443, root
        ("https://example.com", "https://example.com/"),       # empty path
        ("http://example.com/p?utm_a=1&utm_b=2",
         "http://example.com/p"),                 # all params tracking
        ("http://example.com/p?a=1&ref=r&b=2",
         "http://example.com/p?a=1&b=2"),         # order preserved
        ("http://example.com:8080/p", "http://example.com:8080/p"),
        ("https://example.com:80/p", "https://example.com:80/p"),
        ("http://example.com/p?fbclid=x&gclid=y",
         "http://example.com/p"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "url string")
    got = [r.c for r in
           df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]
    # path CASE is preserved (only scheme+host lowercase)
    assert got[0] == "http://example.com/A/B?q=1"


def test_url_canonical_dedup_collapses_planted_forms(spark):
    from omldm_spark.operators.web import plant_urls, url_canonical_dedup

    docs = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long")
    out = {r.canon_url: r for r in
           url_canonical_dedup(plant_urls(docs)).collect()}
    # every page canon collapsed exactly two raw forms from one doc
    page = [r for c, r in out.items() if "/path/" in c]
    assert page and all(r.n_raw_forms == 2 for r in page)
    # cdn assets: every 4th doc, 5 distinct images, one raw form each
    cdn = [r for c, r in out.items() if "cdn.example.com" in c]
    assert len(cdn) == 5
    assert sum(r.n_raw_rows for r in cdn) == 10  # docs 0,4,...,36
    assert all(":443" not in c and "#" not in c and "utm_" not in c
               for c in out)


def test_pii_redact_counts_and_placeholders(spark):
    from omldm_spark.operators.pii import pii_redact

    rows = [
        (1, "reach me at a.b+c@mail-host.org or 10.0.0.1 thanks"),
        (2, "two mails x@y.io z@w.co and call 555-123-4567"),
        (3, "no pii here at all"),
        (4, "ip 256.1.1.1 still matches the shape 1.2.3.4"),
    ]
    out = {
        r["doc_id"]: r
        for r in pii_redact(
            spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        ).collect()
    }
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_phones"]) == (1, 1, 0)
    assert "[EMAIL]" in out[1]["clean_text"] and "[IP]" in out[1]["clean_text"]
    assert "a.b+c@mail-host.org" not in out[1]["clean_text"]
    assert (out[2]["n_emails"], out[2]["n_phones"]) == (2, 1)
    assert out[2]["clean_text"].count("[EMAIL]") == 2
    assert (out[3]["n_emails"], out[3]["n_ips"], out[3]["n_phones"]) == (0, 0, 0)
    assert out[3]["clean_text"] == "no pii here at all"
    assert out[4]["n_ips"] == 2  # shape-based matcher, not range-validated


def test_decontaminate_flags_only_eval_overlap(spark):
    from omldm_spark.operators.dedup import decontaminate

    eval_doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, eval_doc),                                              # eval split
        (1, "prefix words then alpha beta gamma delta epsilon zeta eta theta end"),
        (2, "totally unrelated text with enough tokens one two three four five six"),
    ]
    out = {
        r["doc_id"]: r
        for r in decontaminate(
            spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])),
            n=8, eval_mod=50,
        ).collect()
    }
    assert set(out) == {1, 2}  # eval doc excluded from the output
    assert out[1]["contaminated"] and out[1]["n_shared"] == 1
    assert not out[2]["contaminated"] and out[2]["n_shared"] == 0


def test_bigram_lm_scores_exact_on_tiny_corpus(spark):
    from omldm_spark.operators.lm import bigram_lm_scores

    # corpus: "a b a b" and "a b c". bigrams: (a,b)x3 (b,a)x1 (b,c)x1
    # c1: a->3, b->2.  p(a,b)=3/3=1, p(b,a)=1/2, p(b,c)=1/2
    rows = [(1, "a b a b"), (2, "a b c")]
    out = {
        r["doc_id"]: r
        for r in bigram_lm_scores(
            spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        ).collect()
    }
    # doc1: bigrams (a,b),(b,a),(a,b) -> 1e6 + 5e5 + 1e6 = 2_500_000, n=3
    assert out[1]["q_score"] == 2_500_000 and out[1]["n_bigrams"] == 3
    assert abs(out[1]["avg_prob"] - 2_500_000 / 3e6) < 1e-15
    # doc2: (a,b),(b,c) -> 1e6 + 5e5, n=2
    assert out[2]["q_score"] == 1_500_000 and out[2]["n_bigrams"] == 2
    assert out[2]["avg_prob"] == 0.75


def test_temperature_sample_flattens_distribution(spark):
    from omldm_spark.operators.corpus import temperature_sample

    # skewed corpus: 400 docs from "big", 16 from "small"
    rows = [(i, "big" if i < 400 else "small") for i in range(416)]
    out = temperature_sample(
        spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "source"]))
    ).toPandas()
    # weights: isqrt(400)=20, isqrt(16)=4, W=24 -> rates 20/24 vs 4/24
    assert set(out[out.source == "big"]["w"]) == {20}
    assert set(out[out.source == "small"]["w"]) == {4}
    assert set(out["w_total"]) == {24}
    kept = out[out.kept]
    big_rate = len(kept[kept.source == "big"]) / 400
    small_rate = len(kept[kept.source == "small"]) / 16
    # raw ratio 400/16 = 25x; post-sampling doc-count ratio ~ sqrt ratio
    # (hash uniformity gives +-; assert the flattening direction strongly)
    assert 0.7 < big_rate < 0.95 and small_rate < 0.35
    # determinism: same inputs -> same verdict set
    again = temperature_sample(
        spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "source"]))
    ).toPandas()
    assert sorted(kept.doc_id) == sorted(again[again.kept].doc_id)


def test_quantized_topk_tracks_float_topk(spark):
    """int8 quantization should preserve most of the float top-k (recall
    measured, not assumed) — and be exactly deterministic."""
    from omldm_spark.operators.similarity import quantized_cosine_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    fk = cosine_topk(emb, k=5).toPandas()
    qk = quantized_cosine_topk(emb, k=5).toPandas()
    f_set = set(map(tuple, fk[["query_id", "neighbor_id"]].values))
    q_set = set(map(tuple, qk[["query_id", "neighbor_id"]].values))
    recall = len(f_set & q_set) / len(f_set)
    assert recall >= 0.8, f"int8 recall {recall}"
    # scores within quantization error of the float scores
    merged = fk.merge(qk, on=["query_id", "neighbor_id"],
                      suffixes=("_f", "_q"))
    assert (merged["cos_sim_f"] - merged["cos_sim_q"]).abs().max() < 0.02


def test_shared_chunk_stats_detects_cross_doc_duplication(spark):
    from omldm_spark.operators.corpus import shared_chunk_stats

    shared = " ".join(f"w{i}" for i in range(40))
    uniq_a = " ".join(f"a{i}" for i in range(40))
    uniq_b = " ".join(f"b{i}" for i in range(40))
    rows = [
        (1, shared + " " + uniq_a),
        (2, shared + " " + uniq_b),   # first chunks identical to doc 1
        (3, uniq_b + " tailpiece of unique text only here"),
    ]
    out = {
        r["doc_id"]: r
        for r in shared_chunk_stats(
            spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])),
            chunk_size=40, overlap=0,
        ).collect()
    }
    # docs 1 and 2 share their first 40-token window verbatim
    assert out[1]["n_shared"] >= 1 and out[2]["n_shared"] >= 1
    # doc 3 shares its first window (uniq_b) with doc 2's second window
    assert out[3]["n_chunks"] >= 1
    # totals are per-chunk counts, not flags
    assert out[1]["n_chunks"] == 2


def test_curriculum_order_global_rank(spark):
    """Two-phase distributed rank == the single-node sort order: ranks are a
    permutation of 1..n and agree with (quality DESC, doc_id) even when the
    corpus is spread over many range partitions (num_ranges > distinct
    keys forces empty + boundary-adjacent partitions)."""
    from omldm_spark.operators.corpus import curriculum_order

    rows = [(i, ("the and of " * (i % 7)) + "zzz qqq xxy " * (1 + i % 3))
            for i in range(1, 101)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curriculum_order(docs, num_ranges=16).collect()
    assert sorted(r["rank"] for r in out) == list(range(1, 101))
    by_rank = sorted(out, key=lambda r: r["rank"])
    keys = [(-r["quality_q"], r["doc_id"]) for r in by_rank]
    assert keys == sorted(keys)


def test_dup_span_removal_drops_cross_doc_spans_and_reassembles(spark):
    """A span shared verbatim across two docs is removed from BOTH; unique
    spans survive in original order; a fully-duplicated doc keeps its row
    with clean_text == ''."""
    from omldm_spark.operators.corpus import dup_span_removal

    shared = " ".join(f"w{i}" for i in range(8))
    uniq_a = " ".join(f"a{i}" for i in range(8))
    uniq_b = " ".join(f"b{i}" for i in range(8))
    rows = [
        (1, shared + " " + uniq_a),      # window 0 shared, window 1 unique
        (2, shared + " " + uniq_b),
        (3, shared),                     # every window duplicated
        (4, uniq_a[:-1] + "X"),          # near-miss: NOT identical, kept
    ]
    out = {
        r["doc_id"]: r
        for r in dup_span_removal(
            spark.createDataFrame(rows, "doc_id long, text string"), span=8
        ).collect()
    }
    assert out[1]["n_spans"] == 2 and out[1]["n_dropped"] == 1
    assert out[1]["clean_text"] == uniq_a
    assert out[2]["clean_text"] == uniq_b
    assert out[3]["n_dropped"] == out[3]["n_spans"] == 1
    assert out[3]["clean_text"] == ""
    assert out[4]["n_dropped"] == 0 and out[4]["clean_text"].endswith("x")


def test_dup_span_removal_within_doc_repeat_kept(spark):
    """The rule is CROSS-document: a span repeated twice inside one doc is
    not dropped (both occurrences survive, order preserved)."""
    from omldm_spark.operators.corpus import dup_span_removal

    rep = " ".join(f"r{i}" for i in range(8))
    docs = spark.createDataFrame([(7, rep + " " + rep)],
                                 "doc_id long, text string")
    row = dup_span_removal(docs, span=8).collect()[0]
    assert row["n_dropped"] == 0
    assert row["clean_text"] == rep + " " + rep


def test_cms_estimate_never_undercounts(spark):
    """CMS guarantee: est >= true for every probe, == for terms with no
    colliding buckets; an absent term gets true_cnt == 0."""
    from omldm_spark.operators.sketch import cms_term_counts

    rows = [(i, "alpha beta gamma " + ("alpha " * (i % 3))) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["term"]: r for r in cms_term_counts(
        docs, ["alpha", "beta", "nothere"], depth=4, width=64).collect()}
    assert out["alpha"]["true_cnt"] == 30 + sum(i % 3 for i in range(30))
    assert out["beta"]["true_cnt"] == 30
    assert out["nothere"]["true_cnt"] == 0
    for r in out.values():
        assert r["est_cnt"] >= r["true_cnt"]


def test_cms_sketch_size_bounded(spark):
    """The sketch never exceeds depth*width rows regardless of corpus."""
    from omldm_spark.operators.sketch import countmin_sketch

    rows = [(i, " ".join(f"tok{j}" for j in range(i, i + 50)))
            for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sk = countmin_sketch(docs, depth=3, width=32)
    assert sk.count() <= 3 * 32
    # cell counts are positive and each row's cells sum to the token total
    tot = sk.groupBy("d").sum("cnt").collect()
    totals = {r["d"]: r["sum(cnt)"] for r in tot}
    assert len(set(totals.values())) == 1  # every row sees every token once


def test_salted_join_equals_plain_join(spark):
    """Salting is invisible in the result: same rows as the plain join even
    with a pathologically hot key; the hot key's fact rows spread over
    multiple salt values."""
    from omldm_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 9000), (3, 9001)],
        "k long, payload long",
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (2, "cold"), (3, "cool")], "k long, label string"
    )
    out = salted_join(fact, dim, "k", salt_buckets=8)
    plain = fact.join(dim, "k")
    assert out.count() == plain.count() == 502
    got = sorted((r["k"], r["payload"], r["label"]) for r in out.collect())
    want = sorted((r["k"], r["payload"], r["label"]) for r in plain.collect())
    assert got == want
    # the hot key actually uses >1 salt bucket (the point of the exercise)
    from pyspark.sql import functions as SF
    f = fact.withColumn(
        "_salt", SF.pmod(SF.xxhash64(*fact.columns), SF.lit(8))
    )
    nsalts = f.filter("k = 1").select("_salt").distinct().count()
    assert nsalts > 1


def test_token_budget_mix_rates_and_clip(spark):
    """rate_ppm is the exact quantized min(1, target/supply): an
    over-weighted tiny source clips at 1e6 (keep-all), a heavy source
    samples down, and realized keeps track the rate within hash noise."""
    from omldm_spark.operators.corpus import token_budget_mix

    rows = (
        [(i, "t " * 10, "tiny") for i in range(5)]
        + [(100 + i, "t " * 10, "huge") for i in range(2000)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = token_budget_mix(docs, budget_tokens=1000,
                           weights={"tiny": 1, "huge": 1})
    rates = {r["source"]: r["rate_ppm"]
             for r in out.select("source", "rate_ppm").distinct().collect()}
    # tiny: target 500 >> supply 50 -> clip at keep-all
    assert rates["tiny"] == 1000000
    # huge: target 500 of 20000 -> exactly 2.5%
    assert rates["huge"] == 25000
    kept = out.filter("source = 'huge' AND kept").count()
    assert 10 <= kept <= 120  # 2.5% of 2000 = 50 expected, generous band
    assert out.filter("source = 'tiny' AND NOT kept").count() == 0


def test_cms_sketches_merge_by_cell_addition(spark):
    """CMS mergeability — sketch(A ∪ B) == cell-wise sketch(A) + sketch(B):
    the property that lets per-shard/per-day sketches combine without
    touching raw data (the reason to sketch at all at 100 TB)."""
    from omldm_spark.operators.sketch import countmin_sketch

    a = spark.createDataFrame(
        [(i, "red green blue " * (1 + i % 2)) for i in range(40)],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(100 + i, "blue cyan " * (1 + i % 3)) for i in range(40)],
        "doc_id long, text string",
    )
    whole = {(r["d"], r["bucket"]): r["cnt"]
             for r in countmin_sketch(a.union(b), depth=3, width=64).collect()}
    pa_ = {(r["d"], r["bucket"]): r["cnt"]
           for r in countmin_sketch(a, depth=3, width=64).collect()}
    pb = {(r["d"], r["bucket"]): r["cnt"]
          for r in countmin_sketch(b, depth=3, width=64).collect()}
    merged = {}
    for part in (pa_, pb):
        for k, v in part.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == whole


def test_bpe_merge_round_picks_top_pair_and_counts_greedy(spark):
    """'ll' dominates; overlapping runs count greedily ('llll' = 2 merges,
    'lll' = 1); frequency ties break lexicographically."""
    from omldm_spark.operators.lm import bpe_merge_round

    docs = spark.createDataFrame(
        [
            (1, "hello llll"),      # 'll' x1 in hello, 2 greedy in llll
            (2, "ball tall lll"),   # 'll' x2, 1 greedy in lll
        ],
        "doc_id long, text string",
    )
    row = bpe_merge_round(docs).collect()[0]
    assert (row["w1"], row["w2"]) == ("l", "l")
    # pair_cnt counts ALL adjacent positions (overlaps included):
    # hello 1, llll 3, ball 1, tall 1, lll 2 = 8
    assert row["pair_cnt"] == 8
    # merges are greedy non-overlapping: 1 + 2 + 1 + 1 + 1 = 6
    assert row["n_merges"] == 6
    assert row["n_syms_after"] == row["n_syms_before"] - 6


def test_sample_k_per_group_exact_quota(spark):
    """Every group yields exactly min(k, |group|) rows; the selection is a
    deterministic function of the ids (stable across runs/partitionings)."""
    from omldm_spark.operators.corpus import sample_k_per_group

    rows = (
        [(i, "big") for i in range(100)]
        + [(1000 + i, "small") for i in range(3)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = sample_k_per_group(docs, 10, group_col="source")
    counts = {r["source"]: r["cnt"]
              for r in out.groupBy("source").agg(
                  F.count("*").alias("cnt")).collect()}
    assert counts == {"big": 10, "small": 3}
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in sample_k_per_group(docs.repartition(13), 10,
                                    group_col="source").collect()
    )
    assert a == b


def test_wordpiece_criterion_prefers_rare_cohesive_pair(spark):
    """The likelihood criterion must rank a RARE-but-always-together
    pair above a frequent pair of ubiquitous symbols (the behavior
    that separates WordPiece from BPE), and every score must match the
    brute-force floor-ppb fraction."""
    from omldm_spark.operators.lm import wordpiece_pair_scores

    # 'qz' appears 3x and q/z appear ONLY there (cohesion 1);
    # 'aa' appears often but 'a' is everywhere
    docs = spark.createDataFrame(
        [(1, "qz qz qz aa aa aa aa ab ab ba a a a a a a")],
        "doc_id long, text string")
    out = {(r.w1, r.w2): r for r in
           wordpiece_pair_scores(docs, top_n=50).collect()}
    # brute-force counts over the token vocabulary weighted by freq
    toks = "qz qz qz aa aa aa aa ab ab ba a a a a a a".split()
    from collections import Counter
    vocab = Counter(toks)
    chars: Counter = Counter()
    pairs: Counter = Counter()
    for t, c in vocab.items():
        for ch in t:
            chars[ch] += c
        for i in range(len(t) - 1):
            pairs[(t[i], t[i + 1])] += c
    for pr, cnt in pairs.items():
        want = cnt * 10**9 // (chars[pr[0]] * chars[pr[1]])
        assert out[pr].score_ppb == want, pr
        assert out[pr].pair_cnt == cnt
    ranks = {p: out[p].rank for p in pairs}
    assert ranks[("q", "z")] == 1          # cohesion beats frequency
    assert out[("q", "z")].score_ppb > out[("a", "a")].score_ppb


def test_bpe_train_multi_round_merges(spark):
    """Three rounds on a tiny corpus follow the hand-derived merge path,
    including a tie broken lexicographically and a round that merges a
    PREVIOUSLY-merged symbol (aa + ab)."""
    from omldm_spark.operators.lm import bpe_train

    docs = spark.createDataFrame(
        [(1, "aaab aaab ccc")], "doc_id long, text string"
    )
    got = [(r["merge_round"], r["w1"], r["w2"], r["pair_cnt"])
           for r in bpe_train(docs, 3).orderBy("merge_round").collect()]
    assert got == [(0, "a", "a", 4), (1, "a", "b", 2), (2, "aa", "ab", 2)]


def test_ddm_flags_an_error_burst(spark):
    """A clean prefix followed by an error burst must raise warn then
    drift; a stationary low-error stream raises neither."""
    from datetime import datetime, timedelta

    from omldm_spark.operators.drift import ddm_drift_summary

    t0 = datetime(2024, 1, 1)
    rows = []
    # user 1: 10% baseline (every 10th errs) for 100, then 40 straight
    # errors -> drift fires inside the burst
    for i in range(140):
        err = (i % 10 == 9) if i < 100 else True
        rows.append((1, t0 + timedelta(seconds=i), i, err))
    # user 2: the same stationary 10% throughout -> no drift
    for i in range(140):
        rows.append((2, t0 + timedelta(seconds=i), 1000 + i, i % 10 == 9))
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, err boolean"
    )
    out = {r["user_id"]: r
           for r in ddm_drift_summary(ev, F.col("err")).collect()}
    assert out[1]["n_drift"] > 0 and out[1]["first_drift_i"] > 100
    assert out[1]["n_warn"] >= out[1]["n_drift"]
    assert out[2]["n_drift"] == 0


def test_page_hinkley_detects_mean_shift(spark):
    """A level shift in the value stream raises PH past lam shortly after
    the change point; a flat stream never accumulates deviation."""
    from datetime import datetime, timedelta

    from omldm_spark.operators.drift import page_hinkley_summary

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(200):
        # user 1: mean 10 then mean 20 from i=100
        rows.append((1, t0 + timedelta(seconds=i), i,
                     10.0 if i < 100 else 20.0))
        # user 2: flat 10 throughout
        rows.append((2, t0 + timedelta(seconds=i), 1000 + i, 10.0))
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    out = {r["user_id"]: r
           for r in page_hinkley_summary(ev, "value", delta=0.1,
                                         lam=50.0).collect()}
    assert out[1]["n_drift"] > 0 and out[1]["first_drift_i"] > 100
    assert out[2]["n_drift"] == 0


def test_auc_exact_matches_sklearn_style_reference(spark):
    """Histogram AUC equals the O(n log n) rank formulation computed in
    plain Python, including tie half-credit; degenerate separable and
    anti-separable streams hit 1.0 / 0.0."""
    from omldm_spark.operators.evaluation import auc_exact

    rows = [
        # score, label: interleaved with ties on 0.5
        (0.1, False), (0.2, False), (0.5, True), (0.5, False),
        (0.7, True), (0.9, True), (0.3, False), (0.5, True),
    ]
    df = spark.createDataFrame(
        [(float(s), bool(l)) for s, l in rows], "score double, lbl boolean"
    )
    out = auc_exact(df, F.col("lbl"), "score").collect()[0]

    # reference: mean over all (pos, neg) pairs of 1/0.5/0
    pos = [s for s, l in rows if l]
    neg = [s for s, l in rows if not l]
    ref = sum(
        1.0 if p > n else (0.5 if p == n else 0.0)
        for p in pos for n in neg
    ) / (len(pos) * len(neg))
    assert out["n_pos"] == 4 and out["n_neg"] == 4
    assert out["auc_q"] == int(ref * 1000000)

    sep = spark.createDataFrame(
        [(1.0, True), (2.0, True), (0.1, False)], "score double, lbl boolean"
    )
    assert auc_exact(sep, F.col("lbl"), "score").collect()[0]["auc_q"] == 1000000
    anti = spark.createDataFrame(
        [(0.1, True), (2.0, False)], "score double, lbl boolean"
    )
    assert auc_exact(anti, F.col("lbl"), "score").collect()[0]["auc_q"] == 0


def test_calibration_bins_edges_and_rates(spark):
    """Bin edges assign deterministically (0.2 lands in bin 2 for
    width 0.1), out-of-range scores clamp into edge bins, rates are the
    exact integral ppm."""
    from omldm_spark.operators.evaluation import calibration_bins

    rows = [
        (-0.5, False),  # clamps to bin 0
        (0.05, False), (0.05, True),
        (0.2, True),    # exactly on the 0.1-width edge -> bin 2
        (0.95, True), (1.7, True),  # 1.7 clamps to bin 9
    ]
    df = spark.createDataFrame(
        [(float(s), bool(l)) for s, l in rows], "score double, lbl boolean"
    )
    out = {r["bin_idx"]: r
           for r in calibration_bins(df, F.col("lbl"), "score").collect()}
    assert out[0]["n"] == 3 and out[0]["n_pos"] == 1
    assert out[0]["rate_ppm"] == 333333
    assert out[2]["n"] == 1 and out[2]["n_pos"] == 1
    assert out[9]["n"] == 2 and out[9]["rate_ppm"] == 1000000


def test_hll_registers_merge_by_cellwise_max(spark):
    """HLL mergeability — registers(A ∪ B) == cell-wise max of
    registers(A), registers(B); and the multiset collapses inside max()
    (duplicate keys never move a register)."""
    from omldm_spark.operators.sketch import hll_registers

    a = spark.range(0, 400).selectExpr("id AS user_id")
    b = spark.range(300, 700).selectExpr("id AS user_id")
    full = hll_registers(a.union(b), "user_id").collect()
    ra = {r["bucket"]: r["max_rho"] for r in hll_registers(a, "user_id").collect()}
    rb = {r["bucket"]: r["max_rho"] for r in hll_registers(b, "user_id").collect()}
    merged = {k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)}
    assert {r["bucket"]: r["max_rho"] for r in full} == merged
    # idempotence under duplication: the register table ignores multiplicity
    dup = hll_registers(a.union(a).union(a), "user_id").collect()
    assert {r["bucket"]: r["max_rho"] for r in dup} == ra


def test_hll_estimate_tracks_cardinality(spark):
    """The raw estimator lands within the ~1.04/sqrt(64)=13% band (loose
    3-sigma check) and v_zero/z_scaled stay consistent."""
    from omldm_spark.operators.sketch import hll_distinct

    df = spark.range(0, 5000).selectExpr("id AS user_id")
    row = hll_distinct(df, "user_id").collect()[0]
    assert row["true_distinct"] == 5000
    assert row["m"] == 64
    assert 0 <= row["v_zero"] < 64
    assert abs(row["est_distinct"] - 5000) < 5000 * 0.40


def test_incremental_dedup_admits_only_new_and_first(spark):
    """Admission rules: duplicate-of-corpus rejected, within-batch dup
    keeps min id, whitespace/case variants share a fingerprint."""
    from omldm_spark.functions.text import fingerprint
    from omldm_spark.operators.dedup import incremental_dedup

    existing = spark.createDataFrame(
        [(100, "Already Ingested   Text")], "doc_id long, text string")
    incoming = spark.createDataFrame(
        [
            (3, "already ingested text"),     # dup of corpus (normalized)
            (6, "brand new document"),
            (9, "brand  NEW   document"),     # within-batch dup of 6
            (12, "another fresh one"),
        ],
        "doc_id long, text string",
    )
    out = incremental_dedup(incoming, fingerprint(existing)).collect()
    assert sorted(r["doc_id"] for r in out) == [6, 12]


def test_bloom_semi_reduce_no_false_negatives_and_prunes(spark):
    """The bloom prefilter admits EVERY true member (result == plain semi
    join) and actually prunes non-members before the join."""
    from omldm_spark.operators.skew import bloom_build, bloom_semi_reduce
    from pyspark.sql import functions as F

    fact = spark.range(0, 5000).selectExpr("id AS fk")
    dim = spark.range(0, 5000, 50).selectExpr("id AS dk")   # 100 members
    reduced, cond = bloom_semi_reduce(fact, "fk", dim, "dk")
    got = sorted(r["fk"] for r in reduced.collect())
    want = sorted(r["fk"] for r in fact.join(
        dim, fact.fk == dim.dk, "left_semi").collect())
    assert got == want                      # exact semi-join result
    admitted = fact.filter(cond).count()
    assert admitted >= 100                  # no false negatives
    assert admitted < 5000                  # the filter prunes non-members
    words = bloom_build(dim, "dk")
    assert len(words) == 16 and any(w != 0 for w in words)


def test_pagerank_integer_star_graph(spark):
    """Hand-computed 2-round integer PageRank on a symmetric star: hub h
    (outdeg 3) and three leaves. Pins the exact BIGINT recurrence
    (base 150000 + sum(pr*850 div (1000*outdeg)))."""
    from omldm_spark.operators.graph import pagerank_rounds

    edges = spark.createDataFrame(
        [("h", "a"), ("h", "b"), ("h", "c"),
         ("a", "h"), ("b", "h"), ("c", "h")],
        "src string, dst string",
    )
    got = {r["v"]: r["pr"] for r in pagerank_rounds(edges, 2).collect()}
    # r1: leaf = 150000 + (1e6*850) div 3000 = 433333; h = 150000 + 3*850000
    # r2: leaf = 150000 + (2700000*850) div 3000 = 915000
    #     h    = 150000 + 3*((433333*850) div 1000) = 1254999
    assert got == {"h": 1254999, "a": 915000, "b": 915000, "c": 915000}


def test_zorder_layout_tightens_per_file_ranges(spark, tmp_path):
    """Z-order vs single-column ordering: with 16 output files, the
    z-ordered layout must give materially tighter per-file user ranges
    than a time-sorted layout (whose files each span the FULL user
    domain) while keeping time ranges bounded — that tightness is what
    parquet min/max pruning turns into skipped files."""
    from pyspark.sql import functions as F

    from omldm_spark.operators.layout import file_ranges, zorder_layout

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    zpath, tpath = str(tmp_path / "z"), str(tmp_path / "t")
    zorder_layout(grid, ["x", "y"], 6, 16).write.parquet(zpath)
    grid.repartitionByRange(16, "y").sortWithinPartitions("y") \
        .write.parquet(tpath)

    def mean_span(path, col):
        rows = file_ranges(spark, path, [col]).collect()
        spans = [r[f"max_{col}"] - r[f"min_{col}"] for r in rows]
        return sum(spans) / len(spans)

    # 16 files over the 64x64 z-curve are ~16x16 quadrant blocks: both
    # dims stay tight. The y-sorted layout leaves x spanning the full
    # domain (63) in every file.
    z_x, t_x = mean_span(zpath, "x"), mean_span(tpath, "x")
    z_y = mean_span(zpath, "y")
    assert t_x == 63.0, t_x
    assert z_x < 24, z_x
    assert z_y < 24, z_y


def test_dq_report_detects_violations(spark):
    """Dirty synthetic frame: nulls, out-of-range, bad category,
    duplicate keys, and an orphaned foreign key all counted exactly."""
    from omldm_spark.operators.quality import (dq_report, in_range, in_set,
                                               not_null)

    df = spark.createDataFrame(
        [(1, 10.0, "A", 100), (1, -5.0, "B", 100),   # dup id; range viol
         (2, None, "A", 999),                        # null amount; orphan fk
         (3, 20.0, "X", 101)],                       # bad category
        "id long, amount double, cat string, fk long",
    )
    parent = spark.createDataFrame([(100,), (101,)], "pk long")
    rpt = {r["check_name"]: (r["violations"], r["passed"])
           for r in dq_report(
               df,
               row_checks=[not_null("amount"),
                           in_range("amount", 0, 100),
                           in_set("cat", ["A", "B"])],
               unique=[["id"]],
               references=[("fk", parent, "pk")],
           ).collect()}
    assert rpt["not_null(amount)"] == (1, False)
    assert rpt["in_range(amount,0,100)"] == (1, False)   # null not counted
    assert rpt["in_set(cat)"] == (1, False)
    assert rpt["unique(id)"] == (2, False)               # both dup rows
    assert rpt["references(fk)"] == (1, False)


def test_compact_small_files(spark, tmp_path):
    """50 tiny files compact into the byte-sized target count with
    identical content."""
    from omldm_spark.operators.layout import compact_small_files

    src, dst = str(tmp_path / "small"), str(tmp_path / "compact")
    df = spark.range(50_000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("payload")
    )
    df.repartition(50).write.parquet(src)
    import glob
    assert len(glob.glob(src + "/*.parquet")) == 50

    total = sum(
        __import__("os").path.getsize(f)
        for f in glob.glob(src + "/*.parquet")
    )
    report = compact_small_files(spark, src, dst,
                                 target_bytes=total // 4 + 1)
    assert report["files_before"] == 50
    assert report["files_after"] == 4
    a = sorted(r["id"] for r in spark.read.parquet(src).collect())
    b = sorted(r["id"] for r in spark.read.parquet(dst).collect())
    assert a == b


def test_embedding_gram_reconstructs_pca(spark):
    """The Gram sufficient statistic actually suffices: eigendecompose
    the 64x64 matrix assembled from the query output and match the top
    eigenvalue computed directly by numpy on the raw embeddings (same
    1e3 quantization)."""
    import numpy as np

    from omldm_spark.queries import QUERIES

    rows = QUERIES["embedding_gram"](spark, SF_DIR).collect()
    dim = 64
    g = np.zeros((dim, dim))
    for r in rows:
        g[r["i"], r["j"]] = r["s_q"]
        g[r["j"], r["i"]] = r["s_q"]
    emb = np.array([
        np.round(np.array(r["embedding"], dtype=np.float64) * 1000)
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("embedding").collect()
    ])
    direct = emb.T @ emb
    assert np.array_equal(g, direct)
    ev_q = np.linalg.eigvalsh(g)[-1]
    ev_d = np.linalg.eigvalsh(direct)[-1]
    assert abs(ev_q - ev_d) / ev_d < 1e-12


def test_zvalue_interleave_bijective(spark):
    """The generated z-value expression is the exact bit interleave: it
    matches a Python reference on random coordinates and is injective
    over a dense grid (bijectivity is what makes z-range scans cover
    hyper-rectangles)."""
    import random

    from omldm_spark.operators.layout import zvalue_sql

    rnd = random.Random(7)
    pts = [(rnd.randrange(1 << 16), rnd.randrange(1 << 16))
           for _ in range(200)]

    def py_z(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pts, "x long, y long")
    got = {(r["x"], r["y"]): r["z"] for r in df.selectExpr(
        "x", "y", f"{zvalue_sql(['x', 'y'], 16)} AS z").collect()}
    for x, y in pts:
        assert got[(x, y)] == py_z(x, y)
    grid = spark.range(32 * 32).selectExpr(
        "id % 32 AS x", "CAST(id / 32 AS BIGINT) AS y")
    zs = [r["z"] for r in grid.selectExpr(
        f"{zvalue_sql(['x', 'y'], 5)} AS z").collect()]
    assert len(set(zs)) == 32 * 32 and max(zs) == 32 * 32 - 1


def _py_xy2d(bits: int, x: int, y: int) -> int:
    n = 1 << bits
    d, s = 0, n >> 1
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s >>= 1
    return d


def test_hilbert_key_matches_reference_and_is_adjacent(spark):
    """The generated Hilbert ladder equals the textbook xy2d on the full
    16x16 grid, is a bijection onto [0, 256), and consecutive keys are
    ALWAYS Manhattan-adjacent cells — the locality property Z-order
    lacks and the reason hilbert_events_key exists."""
    from omldm_spark.operators.layout import hilbert_key

    bits, n = 4, 16
    grid = spark.range(n * n).selectExpr(
        "id AS cid", f"id % {n} AS x", f"CAST(id / {n} AS BIGINT) AS y")
    got = {r["cid"]: r["hval"]
           for r in hilbert_key(grid, ["cid"], bits).collect()}
    for cid, h in got.items():
        assert h == _py_xy2d(bits, cid % n, cid // n)
    assert sorted(got.values()) == list(range(n * n))
    inv = {h: cid for cid, h in got.items()}
    for h in range(n * n - 1):
        a, b = inv[h], inv[h + 1]
        assert abs(a % n - b % n) + abs(a // n - b // n) == 1


def test_hilbert_beats_zorder_locality_on_full_grid(spark):
    """On the full 2^b x 2^b grid the Hilbert walk's total Manhattan
    jump is exactly n_cells - 1 (every step is one cell) while the Z
    walk pays diagonal seam jumps — the referee behind
    curve_locality_report's mean_jump_ppm comparison."""
    from pyspark.sql import Window

    from omldm_spark.operators.layout import hilbert_key, zvalue_sql

    bits, n = 4, 16
    grid = spark.range(n * n).selectExpr(
        "id AS cid", f"id % {n} AS x", f"CAST(id / {n} AS BIGINT) AS y")
    h = hilbert_key(grid, ["cid"], bits).selectExpr(
        "'h' AS curve", f"cid % {n} AS x", f"cid div {n} AS y",
        "hval AS kval")
    z = grid.selectExpr(
        "'z' AS curve", "x", "y", f"{zvalue_sql(['x', 'y'], bits)} AS kval")
    w = Window.partitionBy("curve").orderBy("kval")
    jumps = h.unionByName(z).select(
        "curve",
        (F.abs(F.col("x") - F.lag("x").over(w))
         + F.abs(F.col("y") - F.lag("y").over(w))).alias("jump"))
    tot = {r["curve"]: r["t"] for r in jumps.groupBy("curve").agg(
        F.sum("jump").alias("t")).collect()}
    assert tot["h"] == n * n - 1
    assert tot["z"] > tot["h"]


def test_bfs_path_graph_distances(spark):
    """BFS on a hand path graph 0-1-2-3-4 (+ isolated 9) from seeds {0}:
    after R rounds vertices at hops <= R carry the exact distance; beyond-R
    and unreachable vertices are absent."""
    from omldm_spark.operators.graph import bfs_rounds

    links = [(i, i + 1) for i in range(4)]
    edges = spark.createDataFrame(
        links + [(b, a) for a, b in links], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "v long")
    got2 = {r["v"]: r["d"] for r in bfs_rounds(edges, seeds, 2).collect()}
    assert got2 == {0: 0, 1: 1, 2: 2}
    got4 = {r["v"]: r["d"] for r in bfs_rounds(edges, seeds, 4).collect()}
    assert got4 == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}

    # multi-source: nearest seed wins
    seeds2 = spark.createDataFrame([(0,), (4,)], "v long")
    got = {r["v"]: r["d"] for r in bfs_rounds(edges, seeds2, 2).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 0}


def test_ewma_fold_matches_python_loop(spark):
    """The Catalyst higher-order EWMA fold reproduces the sequential
    Python recurrence exactly, at any partitioning."""
    from omldm_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    out = {r["user_id"]: r for r in QUERIES["ewma_user_value"](spark, sf).collect()}

    from omldm_spark.io import load_table
    from pyspark.sql import functions as F

    ev = (
        load_table(spark, sf, "events")
        .select(
            "user_id", "event_id",
            F.unix_timestamp("ts").alias("ts_s"),
            F.round(F.col("value") * 100, 0).cast("long").alias("v_c"),
        )
        .collect()
    )
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(
            (r["ts_s"], r["event_id"], r["v_c"])
        )
    for u, rows in by_user.items():
        vs = [v for _, _, v in sorted(rows)]
        s = vs[0]
        for x in vs[1:]:
            s = (3 * x + 7 * s) // 10
        assert out[u]["ewma_c"] == s, u
        assert out[u]["n_events"] == len(vs)


def test_cms_heavy_hitters_no_false_negatives(spark):
    """Every term at-or-above the threshold survives the hot-cell
    prefilter (CMS never undercounts), sub-threshold terms are absent,
    and est >= cnt cell-wise."""
    from omldm_spark.operators.sketch import cms_heavy_hitters

    docs = spark.createDataFrame(
        [(i, ("hot " * 10 + f"cold{i} warm") if i < 8 else "warm tail")
         for i in range(10)],
        "doc_id long, text string",
    )
    out = {r["tok"]: r for r in
           cms_heavy_hitters(docs, threshold=9, width=16).collect()}
    assert set(out) == {"hot", "warm"}  # hot=80, warm=10; cold*=1, tail=2
    assert out["hot"]["cnt"] == 80 and out["warm"]["cnt"] == 10
    assert all(r["est"] >= r["cnt"] for r in out.values())


def test_resample_forward_fill_hand_case(spark):
    """Two events in hour 0 and hour 2: the hour-1 marker carries the
    hour-0 value forward; the hour-2 marker picks up the newer value; an
    in-hour event at the marker second is included (at-or-before)."""
    from omldm_spark.queries import QUERIES
    import pyspark.sql.functions as F

    # build a miniature events frame and run the same plan via a temp dir
    import tempfile, os
    tmp = tempfile.mkdtemp(prefix="omldm_resample_")
    # ts1 = 1700000100 (hour h); ts2 = 1700009999 == the EXACT second of
    # hour h+2's marker (h*3600 offset: 1700000100//3600*3600 = 1699999200,
    # +2h +3599s = 1700009999) — pins the at-or-before tie rule
    ev = spark.createDataFrame(
        [(1, 0, 100, 5.0), (2, 0, 9999, 7.0)],
        "event_id long, user_id long, off long, value double",
    ).select(
        "event_id", "user_id",
        F.expr("timestamp_seconds(1700000000 + off)").alias("ts"),
        "value", F.lit("x").alias("event_type"), F.lit("{}").alias("props"),
    )
    os.makedirs(f"{tmp}", exist_ok=True)
    ev.write.parquet(f"{tmp}/events.parquet")
    out = {r["hour_s"]: r["v_c"] for r in
           QUERIES["resampled_user_values"](spark, tmp).collect()}
    base_h = (1700000000 + 100) // 3600
    assert out == {
        base_h * 3600: 500,          # hour of first event
        (base_h + 1) * 3600: 500,    # gap hour forward-filled
        (base_h + 2) * 3600: 700,    # event AT the marker second included
    }


def test_ab_test_welch_t_matches_numpy(spark):
    """The Welch t statistic from integer sufficient statistics matches
    the straightforward numpy computation on the raw values."""
    import numpy as np

    from omldm_spark.queries import QUERIES
    from omldm_spark.io import load_table
    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.001"
    out = {r["event_type"]: r for r in QUERIES["ab_test_report"](spark, sf).collect()}

    ev = load_table(spark, sf, "events").select(
        "event_type", (F.col("user_id") % 2).alias("grp"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v_c"),
    ).collect()
    for et in {r["event_type"] for r in ev}:
        a = np.array([r["v_c"] for r in ev if r["event_type"] == et and r["grp"] == 1], dtype=float)
        b = np.array([r["v_c"] for r in ev if r["event_type"] == et and r["grp"] == 0], dtype=float)
        t = (a.mean() - b.mean()) / np.sqrt(
            a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b))
        assert abs(out[et]["t_stat"] - t) < 1e-4, et
        assert out[et]["significant"] == (abs(t) > 1.96), et


def test_km_curve_hand_case(spark):
    """Textbook KM: durations 1,2,2,3 (deaths) + censored 2: risk sets
    5,4,1 and S = (4/5), (4/5)(2/4), (4/5)(2/4)(0/1) in truncated ppm."""
    from omldm_spark.operators.survival import km_curve

    obs = spark.createDataFrame(
        [(1, 1), (2, 1), (2, 1), (3, 1), (2, 0)], "dur_m long, is_death long"
    )
    out = {r["t"]: r for r in km_curve(obs, "dur_m", "is_death").collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["n_risk"] == 5 and out[1]["d"] == 1
    assert out[2]["n_risk"] == 4 and out[2]["d"] == 2
    assert out[3]["n_risk"] == 1 and out[3]["d"] == 1
    assert out[1]["s_ppm"] == 800000          # 1e6 * 4 // 5
    assert out[2]["s_ppm"] == 400000          # 800000 * 2 // 4
    assert out[3]["s_ppm"] == 0               # * 0 // 1


def test_nelson_aalen_hand_case(spark):
    """Same textbook observations as the KM hand case — the two
    estimators must read identical risk sets; H is the truncated-ppm
    cumsum of d/n: 1/5, +2/4, +1/1."""
    from omldm_spark.operators.survival import nelson_aalen_curve

    obs = spark.createDataFrame(
        [(1, 1), (2, 1), (2, 1), (3, 1), (2, 0)], "dur_m long, is_death long"
    )
    out = {r["t"]: r
           for r in nelson_aalen_curve(obs, "dur_m", "is_death").collect()}
    assert set(out) == {1, 2, 3}
    assert [(out[t]["n_risk"], out[t]["d"]) for t in (1, 2, 3)] == [
        (5, 1), (4, 2), (1, 1)]
    assert out[1]["h_ppm"] == 200000                  # 1e6 * 1 // 5
    assert out[2]["h_ppm"] == 700000                  # + 2e6 // 4
    assert out[3]["h_ppm"] == 1700000                 # + 1e6 // 1


def test_bitmap_segments_merge_across_shards(spark):
    """Bitmap distinct partials are reusable: OR-merging two shards'
    per-segment bitmaps gives the union's exact distinct (the property
    COUNT DISTINCT partials lack)."""
    from pyspark.sql import functions as F

    def segs(ids):
        df = spark.createDataFrame([(i,) for i in ids], "user_id long")
        return df.groupBy(
            F.expr("CAST(user_id div 63 AS BIGINT)").alias("seg")
        ).agg(F.expr(
            "bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT))"
        ).alias("bmp"))

    a, b = segs([1, 2, 100, 200]), segs([2, 3, 100, 999])
    merged = a.unionByName(b).groupBy("seg").agg(
        F.expr("bit_or(bmp)").alias("bmp")
    )
    total = merged.agg(F.expr("sum(bit_count(bmp))").alias("d")).collect()
    assert total[0]["d"] == 6  # |{1,2,3,100,200,999}|


def test_negative_samples_never_hit_positives(spark):
    """Sampled negatives can never be one of the user's positive items,
    and re-running yields the identical sample (no rand)."""
    from omldm_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    out1 = {(r["u"], r["item"], r["j"], r["neg_item"])
            for r in QUERIES["negative_samples"](spark, sf).collect()}
    out2 = {(r["u"], r["item"], r["j"], r["neg_item"])
            for r in QUERIES["negative_samples"](spark, sf).collect()}
    assert out1 == out2 and out1
    from omldm_spark.io import load_table
    from pyspark.sql import functions as F

    pos = {(r["u"], r["item"]) for r in load_table(spark, sf, "events").select(
        F.col("user_id").alias("u"),
        F.regexp_extract("props", "[0-9]+", 0).cast("long").alias("item"),
    ).distinct().collect()}
    assert all((u, neg) not in pos for u, _, _, neg in out1)


def test_apportionment_sums_to_budget_exactly(spark):
    """Hamilton quotas must sum exactly to the budget and never differ
    from the proportional share by more than 1 (quota property)."""
    from omldm_spark.queries import QUERIES

    rows = QUERIES["budget_apportion_sources"](
        spark, "/root/testdata/sf0.001").collect()
    total_docs = sum(r["n_docs"] for r in rows)
    assert sum(r["quota"] for r in rows) == 10_000
    for r in rows:
        exact = 10_000 * r["n_docs"] / total_docs
        assert exact - 1 < r["quota"] < exact + 1


def test_churn_training_set_no_label_leakage(spark):
    """Features must be computable from pre-split data only: recompute
    the feature columns on the pre-split frame and compare; a user
    active ONLY in the label window must be absent entirely."""
    from omldm_spark.queries import QUERIES
    from omldm_spark.io import load_table
    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.001"
    out = {r["user_id"]: r for r in QUERIES["churn_training_set"](spark, sf).collect()}
    ev = load_table(spark, sf, "events").select(
        "user_id", F.expr("unix_timestamp(ts) div 86400").alias("d")
    ).collect()
    t_split = max(r["d"] for r in ev) - 6
    pre = {}
    post = set()
    for r in ev:
        if r["d"] < t_split:
            pre.setdefault(r["user_id"], []).append(r["d"])
        else:
            post.add(r["user_id"])
    assert set(out) == set(pre)  # only users with pre-split activity
    for u, days in pre.items():
        assert out[u]["n_events"] == len(days)
        assert out[u]["recency_d"] == t_split - 1 - max(days)
        assert out[u]["churned"] == (0 if u in post else 1)


def test_table_fingerprint_order_insensitive_and_sensitive_to_change(spark):
    """The fingerprint is invariant to row order/partitioning but moves
    when any row's content changes."""
    from omldm_spark.queries import _row_fp_sql
    import pyspark.sql.functions as F

    rows = [(i, f"s{i % 3}") for i in range(100)]
    expr = "concat(CAST(k AS STRING), '|', s)"

    def fp(data, parts):
        df = spark.createDataFrame(data, "k long, s string").repartition(parts)
        return df.agg(F.sum(F.expr(_row_fp_sql(expr)))).collect()[0][0]

    base = fp(rows, 1)
    assert fp(list(reversed(rows)), 7) == base          # order/partition blind
    changed = rows[:50] + [(50, "CHANGED")] + rows[51:]
    assert fp(changed, 3) != base                        # content sensitive


def test_cc_alternating_stars_chain_logn_rounds(spark):
    """VERDICT r4 item 6: the large-star/small-star CC must resolve a
    100-hop chain — the deep entity-resolution shape where plain
    min-label propagation needs ~100 rounds — within ⌈log₂ diameter⌉+1
    alternations, and agree with the propagation variant exactly."""
    import math

    from omldm_spark.operators.dedup import (
        cc_alternating_stars, dedup_clusters)
    from pyspark.sql import functions as F

    n = 101                               # path 0-1-...-100, diameter 100
    nodes = spark.range(n).select(F.col("id"))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long")
    labels, rounds = cc_alternating_stars(nodes, edges, max_iter=20)
    got = {r["id"]: r["lbl"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= math.ceil(math.log2(n - 1)) + 1   # 8 for d=100

    # the dedup_clusters facade routes to it: one keeper (node 0), the
    # whole chain labeled 0 — running propagation here would need 100
    # join rounds, which is exactly why the stars variant exists
    docs = nodes.select(F.col("id").alias("doc_id"))
    pairs = edges.select(F.col("src").alias("id_a"),
                         F.col("dst").alias("id_b"))
    stars = {r["doc_id"]: (r["cluster_id"], r["keep"])
             for r in dedup_clusters(
                 docs, pairs, algorithm="stars", max_iter=20).collect()}
    assert stars == {i: (0, i == 0) for i in range(n)}


def test_cc_alternating_stars_forest_and_isolated(spark):
    """Multiple components, reversed edge directions, self-loops, and
    isolated nodes all resolve to per-component minimum labels."""
    from omldm_spark.operators.dedup import cc_alternating_stars
    from pyspark.sql import functions as F

    nodes = spark.range(12).select(F.col("id"))
    edges = spark.createDataFrame(
        [(2, 1), (1, 0),          # chain reversed
         (5, 6), (6, 5),          # duplicate both directions
         (7, 7),                  # self-loop ignored
         (9, 11), (10, 11)],      # star by shared neighbor
        "src long, dst long",
    )
    labels, _ = cc_alternating_stars(nodes, edges)
    got = {r["id"]: r["lbl"] for r in labels.collect()}
    assert got[0] == got[1] == got[2] == 0
    assert got[5] == got[6] == 5
    assert got[9] == got[10] == got[11] == 9
    for iso in (3, 4, 7, 8):
        assert got[iso] == iso


def test_ngram_containment_catches_doc_inside_doc(spark):
    """A short doc fully contained in a long one: containment = 1.0
    while Jaccard stays below a typical near-dup threshold — the exact
    asymmetric case the operator exists for."""
    from omldm_spark.operators.dedup import (
        ngram_containment_pairs, ngram_jaccard_pairs)

    short = "alpha beta gamma delta"                      # 2 3-shingles
    long_ = short + " " + " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, long_), (2, short)], "doc_id long, text string")
    cont = ngram_containment_pairs(
        docs, n=3, threshold_num=1, threshold_den=2).collect()
    assert len(cont) == 1
    assert cont[0]["containment"] == 1.0                  # fully contained
    jac = ngram_jaccard_pairs(
        docs, n=3, threshold_num=1, threshold_den=2).collect()
    assert jac == []                                      # jaccard misses it


def test_fs_linkage_weights_order_and_sign(spark):
    """Fellegi-Sunter evidence structure (field-level u, the canonical
    model): agreement on a SELECTIVE field (many distinct values, low u)
    carries more weight than agreement on a near-constant field (high
    u); more agreements always dominate; disagreements subtract."""
    import math

    from omldm_spark.operators.dedup import fs_linkage_scores

    # city: 5 distinct values evenly (selective, u = 0.2);
    # seg: constant 's' (useless, u = 1 - eps -> weight ~ ln(0.9) < 0...
    # keep it 9-of-10 so u = 0.82)
    recs = spark.createDataFrame(
        [(i, f"c{i % 5}", "s" if i < 9 else "t") for i in range(10)],
        "k long, city string, seg string",
    )
    pairs = spark.createDataFrame(
        [(0, 5),    # agree city (c0), agree seg      -> strongest
         (0, 9),    # agree city? 9%5=4 != 0 -> disagree city, disagree seg
         (0, 1)],   # disagree city, agree seg
        "key_a long, key_b long",
    )
    out = {(r["key_a"], r["key_b"]): r for r in fs_linkage_scores(
        recs, pairs, "k", ["city", "seg"]).collect()}
    assert out[(0, 5)]["n_agree"] == 2
    assert out[(0, 1)]["n_agree"] == 1
    assert out[(0, 9)]["n_agree"] == 0
    # ordering: both-agree > seg-only-agree > none
    assert (out[(0, 5)]["score_ppm"] > out[(0, 1)]["score_ppm"]
            > out[(0, 9)]["score_ppm"])
    # the city agreement's weight is ln(0.9/0.2) in ppm (u = 20/100):
    # diff(0,5 vs 0,1) = W_agree(city) - W_disagree(city)
    diff = out[(0, 5)]["score_ppm"] - out[(0, 1)]["score_ppm"]
    w_dis = round(1e6 * math.log(0.1 / (1 - 0.2)))
    assert abs((diff + w_dis) - round(1e6 * math.log(0.9 / 0.2))) <= 1
    # full disagreement scores negative overall
    assert out[(0, 9)]["score_ppm"] < 0


def test_incremental_cc_merge_equals_batch(spark):
    """Edges split across three batches, components crossing batch
    boundaries: the star-forest fold must equal the all-at-once CC, and
    the carried state stays one edge per non-root node."""
    from pyspark.sql import functions as F

    from omldm_spark.operators.dedup import (
        cc_alternating_stars, incremental_cc_merge)

    batches = [
        [(0, 1), (4, 5)],
        [(1, 2), (6, 7)],          # 2 joins {0,1}; new {6,7}
        [(5, 6), (2, 3)],          # bridges {4,5}+{6,7}; extends chain
    ]
    stars = None
    for rows in batches:
        df = spark.createDataFrame(rows, "src long, dst long")
        stars = incremental_cc_merge(stars, df)
    got = {r["b"]: r["a"] for r in stars.collect()}
    # batch ground truth over the union
    all_edges = spark.createDataFrame(
        [e for rows in batches for e in rows], "src long, dst long")
    nodes = spark.range(8).select(F.col("id"))
    labels, _ = cc_alternating_stars(nodes, all_edges)
    want = {r["id"]: r["lbl"] for r in labels.collect()}
    for node, root in want.items():
        if node != root:
            assert got[node] == root
    # star forest: exactly one parent edge per non-root node
    assert len(got) == sum(1 for n, r in want.items() if n != r)


def test_fs_tf_weights_rank_rare_above_common(spark):
    """The value-specific variant DOES distinguish rare from common
    agreement (the field-level model scores them equally)."""
    from omldm_spark.operators.dedup import fs_linkage_scores

    recs = spark.createDataFrame(
        [(i, "x" if i < 8 else "r") for i in range(10)],
        "k long, city string",
    )
    pairs = spark.createDataFrame(
        [(8, 9), (0, 1)], "key_a long, key_b long")
    tf = {(r["key_a"], r["key_b"]): r["score_ppm"]
          for r in fs_linkage_scores(
              recs, pairs, "k", ["city"], value_specific=True).collect()}
    flat = {(r["key_a"], r["key_b"]): r["score_ppm"]
            for r in fs_linkage_scores(
                recs, pairs, "k", ["city"]).collect()}
    assert tf[(8, 9)] > tf[(0, 1)]            # rare beats common
    assert flat[(8, 9)] == flat[(0, 1)]       # field-level: equal


def test_prefix_filter_lossless_and_actually_prunes(spark):
    """PPJoin prefix filter: identical results to the plain posting-list
    join (lossless) while generating strictly fewer candidate pairs on a
    corpus with a HOT shingle shared by every doc — the case where the
    unfiltered join degenerates to all-pairs."""
    from pyspark.sql import functions as F

    from omldm_spark.operators.dedup import (
        ngram_jaccard_pairs, prefix_filter_jaccard_pairs, shingles)

    # every doc shares the hot prefix "common stop words"; only doc
    # pairs (2i, 2i+1) share their rare tail
    rows = []
    for i in range(20):
        tail = f"rare{i // 2} tail{i // 2} unique{i // 2}"
        rows.append((i, f"common stop words {tail} x{i} y{i}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    plain = sorted(map(tuple, ngram_jaccard_pairs(
        docs, n=3, threshold_num=2, threshold_den=5).collect()))
    fast = sorted(map(tuple, prefix_filter_jaccard_pairs(
        docs, threshold_num=2, threshold_den=5, n=3).collect()))
    assert fast == plain and len(plain) > 0   # lossless

    # pruning really happens: the hot shingle pairs all 20 docs in the
    # plain posting join (>= C(20,2) candidate rows through it), while
    # the prefix relation excludes it for docs whose prefix is shorter
    sh = shingles(docs, n=3).distinct()
    hot = (
        sh.groupBy("shingle").count().orderBy(F.desc("count")).first()
    )
    assert hot["count"] == 20                 # genuinely hot
    full_cand = (
        sh.alias("a").join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select("a.doc_id", "b.doc_id").distinct().count()
    )
    assert full_cand == 190                   # all pairs via hot shingle

    # rebuild the operator's prefix relation and count ITS candidates
    from pyspark.sql import Window

    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = sh.join(dfreq, "shingle").select(
        "doc_id", "shingle",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("sz"),
    )
    plen = F.col("sz") - F.floor((F.col("sz") * 2 + 4) / 5) + 1
    pref = ranked.filter(F.col("pos") <= plen).select("doc_id", "shingle")
    pruned_cand = (
        pref.alias("a").join(
            pref.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select("a.doc_id", "b.doc_id").distinct().count()
    )
    assert pruned_cand < full_cand            # the filter prunes
    assert pruned_cand >= len(plain)          # but keeps every match


def test_hll_overlap_union_merge_and_bounds(spark):
    """The union registers are the cell-wise max of the two audience
    register sets (the sketch's merge law), and on disjoint audiences
    the estimated overlap is near zero while the exact columns pin the
    truth."""
    import pandas as pd
    from pyspark.sql import functions as F

    from omldm_spark.operators.sketch import hll_overlap

    pdf = pd.DataFrame({
        "user_id": list(range(0, 400)) + list(range(1000, 1400)),
        "event_type": ["a"] * 400 + ["b"] * 400,
    })
    df = spark.createDataFrame(pdf)
    row = hll_overlap(
        df, "user_id",
        F.col("event_type") == "a", F.col("event_type") == "b",
    ).first()
    assert row["true_a"] == 400 and row["true_b"] == 400
    assert row["true_overlap"] == 0
    # union >= each side in distinct mass => z_union <= min(z_a, z_b)
    assert row["z_union"] <= min(row["z_a"], row["z_b"])
    assert row["est_union"] >= max(row["est_a"], row["est_b"]) - 1e-9
    # disjoint: overlap estimate is small relative to audience size
    assert abs(row["est_overlap"]) < 0.35 * row["est_union"]


def test_revenue_changepoint_finds_planted_shift(spark):
    """A planted mean shift is recovered at the exact boundary: 30 days
    at level ~100 then 30 days at level ~500 -> split after day 29."""
    import pandas as pd

    from omldm_spark.queries import QUERIES  # noqa: F401  (pattern ref)
    from pyspark.sql import functions as F, Window

    days = list(range(60))
    vals = [100 + (i % 3) for i in range(30)] + [
        500 + (i % 3) for i in range(30)]
    daily = spark.createDataFrame(
        pd.DataFrame({"d": days, "s_c": vals}))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    pre = daily.select(
        "d", F.sum("s_c").over(w).cast("long").alias("cs"),
        F.row_number().over(Window.orderBy("d")).cast("long").alias("k"),
        F.sum("s_c").over(wall).cast("long").alias("tot"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
    )
    scored = pre.filter(F.col("k") < F.col("n")).withColumn(
        "gain",
        F.expr("CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE) / CAST(k AS"
               " DOUBLE) + CAST(tot - cs AS DOUBLE) * CAST(tot - cs AS"
               " DOUBLE) / CAST(n - k AS DOUBLE)"))
    best = scored.orderBy(F.col("gain").desc(), F.col("d").asc()).first()
    assert best["d"] == 29 and best["k"] == 30


# ---------------------------------------------------------------------------
# t-closeness / shared spans / label propagation (round 6 additions)
# ---------------------------------------------------------------------------


def test_t_closeness_known_emd(spark):
    """Hand-computable EMD: global sensitive dist {1:2, 2:2}; group 'a'
    holds both 1s (maximal skew for m=2 -> EMD=0.5), group 'b' both 2s
    (symmetric), and a 'u' group mirroring the global mix scores 0."""
    from omldm_spark.operators.pii import t_closeness_audit

    rows = [("a", 1), ("a", 1), ("b", 2), ("b", 2)]
    df = spark.createDataFrame(rows, "g string, s long")
    out = {r.g: (r.emd_ppm, r.passes_t)
           for r in t_closeness_audit(df, ["g"], "s",
                                      t_ppm=400_000).collect()}
    assert out == {"a": (500000, False), "b": (500000, False)}

    rows2 = rows + [("u", 1), ("u", 2)]
    df2 = spark.createDataFrame(rows2, "g string, s long")
    out2 = {r.g: (r.emd_ppm, r.passes_t)
            for r in t_closeness_audit(df2, ["g"], "s",
                                       t_ppm=400_000).collect()}
    # global is still 50/50, so 'u' matches it exactly
    assert out2["u"] == (0, True)
    assert out2["a"] == (500000, False)


def test_shared_span_pairs_planted_quote(spark):
    """A verbatim 5-token quote inside otherwise-different docs must
    surface as span_tokens=5; two disjoint shared runs count as two
    spans; sub-threshold overlap stays out."""
    from omldm_spark.operators.dedup import shared_span_pairs

    docs = spark.createDataFrame(
        [
            (1, "q w a b c d e f g h"),
            (2, "x y a b c d e z z z"),          # one 5-token run with 1
            (3, "a b c d r r r f g h k l"),      # two runs with 1 (4 + 3)
            (4, "m n o p q r s t u v"),          # nothing long enough
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b): (r.span_tokens, r.n_spans)
           for r in shared_span_pairs(docs, n=3, min_tokens=4).collect()}
    assert got[(1, 2)] == (5, 1)
    assert got[(1, 3)] == (4, 2)     # 'a b c d' and 'f g h'
    assert (1, 4) not in got and (2, 4) not in got
    # 2 vs 3 share only 'a b c d' -> 4 tokens, one span
    assert got[(2, 3)] == (4, 1)


def test_label_propagation_matches_python_referee(spark):
    """The deterministic sync-LPA recurrence vs an independent python
    referee on a two-community barbell: two triangles bridged by one
    edge must keep two distinct labels, and every round must match the
    referee exactly (the argmax-over-(cnt, -lbl) trick == the spec)."""
    from collections import Counter

    from omldm_spark.operators.graph import label_propagation_rounds

    und = [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3)]
    edges = und + [(b, a) for a, b in und]
    adj = {}
    for a, b in edges:
        adj.setdefault(b, []).append(a)

    def referee(rounds):
        lbl = {v: v for v in adj}
        for _ in range(rounds):
            nxt = {}
            for v, nbrs in adj.items():
                c = Counter(lbl[u] for u in nbrs)
                nxt[v] = min(c, key=lambda x: (-c[x], x))
            lbl = nxt
        return lbl

    edf = spark.createDataFrame(edges, "src long, dst long")
    for rounds in (1, 2, 3, 4):
        got = {r.v: r.lbl
               for r in label_propagation_rounds(edf, rounds).collect()}
        assert got == referee(rounds), rounds
    # communities: the two triangle cores never merge
    final = referee(4)
    assert len({final[0], final[5]}) == 2


def test_simhash_hamming_pairs_blocking_lossless(spark):
    """Pigeonhole blocking vs a python brute-force referee over the
    actual signatures: every pair within Hamming k must surface with
    its exact distance, none beyond k, at several k (block counts)."""
    from omldm_spark.operators.dedup import simhash, simhash_hamming_pairs

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "the quick brown fox leaps over the lazy dog",
        "completely different content about spark engines",
        "completely different content about spark engines",  # exact dup
        "unrelated words entirely here now",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"]
            for r in simhash(spark, docs).collect()}
    for k in (0, 2, 5):
        want = {
            (a, b): bin(sigs[a] ^ sigs[b]).count("1")
            for a in sigs for b in sigs
            if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= k
        }
        got = {(r.id_a, r.id_b): r.hamming
               for r in simhash_hamming_pairs(spark, docs, k=k).collect()}
        assert got == want, k
    # the exact dup is Hamming 0
    assert sigs[3] == sigs[4]


def test_rfm_segments_hand_quintiles(spark, tmp_path):
    """5 customers, one per quintile on every axis: most-recent/
    most-frequent/biggest-spend must land (5,5,5) -> segment 555, the
    stalest single small order (1,1,1) -> 111."""
    import datetime as dt

    from omldm_spark.queries import QUERIES

    rows = []
    base = dt.datetime(2024, 1, 10)
    for i in range(5):                     # customer i: i+1 orders,
        for j in range(i + 1):             # newest i days before anchor
            rows.append((i, base - dt.timedelta(days=(4 - i) + j),
                         100.0 * (i + 1)))
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_totalprice double")
    df.write.parquet(str(tmp_path / "orders.parquet"))
    out = {r.o_custkey: r
           for r in QUERIES["rfm_segments"](spark, str(tmp_path)).collect()}
    assert out[4].r_score == 5 and out[4].f_score == 5 and out[4].m_score == 5
    assert out[4].segment == 555
    assert out[0].segment == 111
    # monotone on every axis
    for i in range(4):
        assert out[i].r_score <= out[i + 1].r_score
        assert out[i].f_score <= out[i + 1].f_score
        assert out[i].m_score <= out[i + 1].m_score


def test_uplift_decile_report_matches_python_referee(spark, tmp_path):
    """Planted heterogeneous effect: high-activity users convert only
    when treated, low-activity never convert — the top decile must show
    positive uplift and the report must match an independent python
    referee (same edge formula, duplicate edges counted)."""
    import datetime as dt
    from collections import defaultdict

    from omldm_spark.queries import QUERIES

    rows = []
    ts = dt.datetime(2024, 1, 1)
    for u in range(40):
        n_ev = 1 + (u // 4)              # activity grows with id
        for _ in range(n_ev):
            rows.append((u, "view", ts))
        if n_ev >= 8 and u % 2 == 1:     # high activity + treated
            rows.append((u, "purchase", ts))
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp")
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {r.decile: r
           for r in QUERIES["uplift_decile_report"](
               spark, str(tmp_path)).collect()}

    # referee
    score, conv = defaultdict(int), defaultdict(int)
    for u, et, _ in rows:
        if et == "view":
            score[u] += 1
        else:
            conv[u] = 1
    # purchases also count toward the activity score (count(*))
    for u, et, _ in rows:
        if et == "purchase":
            score[u] += 1
    hist = defaultdict(int)
    for u in score:
        hist[score[u]] += 1
    vs = sorted(hist)
    n = len(score)
    edges = []
    for b in range(1, 10):
        need = (b * n + 9) // 10
        cum = 0
        for v in vs:
            cum += hist[v]
            if cum >= need:
                edges.append(v)
                break
    agg = defaultdict(lambda: [0, 0, 0, 0])  # n_t n_c conv_t conv_c
    for u in score:
        d = 1 + sum(1 for e in edges if e < score[u])
        t = u % 2
        a = agg[d]
        a[0] += t
        a[1] += 1 - t
        a[2] += t * conv.get(u, 0)
        a[3] += (1 - t) * conv.get(u, 0)
    for d, (nt, nc, ct, cc) in agg.items():
        r = got[d]
        assert (r.n_t, r.n_c, r.conv_t, r.conv_c) == (nt, nc, ct, cc), d
        if nt and nc:
            assert r.uplift_ppm == (ct * 10**6) // nt - (cc * 10**6) // nc
    # the purchase event itself bumps treated users' activity score, so
    # the very top decile can be all-treated -> NULL uplift (pinned)
    only_treated = [d for d, (nt, nc, _, _) in agg.items() if nc == 0]
    for d in only_treated:
        assert got[d].uplift_ppm is None, d
    top = max(d for d, (nt, nc, _, _) in agg.items() if nt and nc)
    assert got[top].uplift_ppm > 0          # the planted effect surfaces
    assert got[min(agg)].uplift_ppm == 0    # no effect at the bottom


def test_uplift_t_learner_matches_numpy_ridge_referee(spark, tmp_path):
    """Planted heterogeneous effect: treated users convert iff they have
    >= 3 clicks, control never convert.  The per-arm weights and every
    cross-scored tau must match an independent numpy ridge referee
    (linear solve vs the query's Cramer text), and tau must be
    monotone in clicks — the planted signal."""
    import datetime as dt

    import numpy as np

    from omldm_spark.queries import QUERIES

    ts = dt.datetime(2024, 1, 1)
    rows = []
    for u in range(40):
        clicks = u // 4
        views = 2 + (u % 3)
        for _ in range(clicks):
            rows.append((u, "click", ts))
        for _ in range(views):
            rows.append((u, "view", ts))
        if u % 2 == 1 and clicks >= 3:
            rows.append((u, "purchase", ts))
        if not clicks and not views:
            rows.append((u, "error", ts))
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp")
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {r.user_id: r
           for r in QUERIES["uplift_t_learner_orr"](
               spark, str(tmp_path)).collect()}
    assert len(got) == 40

    # referee: per-arm ridge via numpy linear solve on the same moments
    feats = {}
    for u in range(40):
        feats[u] = (u // 4, 2 + (u % 3),
                    1 if (u % 2 == 1 and u // 4 >= 3) else 0)
    w = {}
    for arm in (0, 1):
        xs = np.array([[feats[u][0], feats[u][1], 1.0]
                       for u in range(40) if u % 2 == arm])
        ys = np.array([float(feats[u][2])
                       for u in range(40) if u % 2 == arm])
        n = len(xs)
        g = xs.T @ xs / n + 0.1 * np.eye(3)
        v = xs.T @ ys / n
        w[arm] = np.round(np.linalg.solve(g, v), 6)
    for u, r in got.items():
        x = np.array([feats[u][0], feats[u][1], 1.0])
        pt = round(float(w[1] @ x), 6)
        pc = round(float(w[0] @ x), 6)
        assert abs(r.pred_t - pt) < 1e-9, u
        assert abs(r.pred_c - pc) < 1e-9, u
        assert r.tau_ppm == int(np.floor((pt - pc) * 1e6 + 0.5)), u
    # the planted effect: tau increases with clicks at fixed views
    taus = [got[u].tau_ppm for u in range(40) if u % 3 == 0]
    xs0 = [got[u].x0 for u in range(40) if u % 3 == 0]
    order = np.argsort(xs0)
    assert list(np.array(taus)[order]) == sorted(taus)
    assert max(r.tau_ppm for r in got.values()) > 100000  # > 0.1 lift


def test_kcore_peeling_cascade_and_fixpoint(spark):
    """Lollipop graph: a 4-clique with a 4-vertex tail.  At k=2 the tail
    peels exactly one vertex per round (the cascade), the clique never
    peels, and the survivor set reaches fixpoint — all against a python
    referee running the same synchronous recurrence."""
    from omldm_spark.operators.graph import kcore_rounds

    clique = [(a, b) for a in range(4) for b in range(4) if a != b]
    tail = []
    for i in range(4):          # 3 - 10 - 11 - 12 - 13
        a, b = (3 if i == 0 else 9 + i), 10 + i
        tail += [(a, b), (b, a)]
    edges = spark.createDataFrame(clique + tail, "src long, dst long")

    from collections import defaultdict
    adj = defaultdict(set)
    for s, t in clique + tail:
        adj[s].add(t)

    def referee(k, rounds):
        surv = set(adj)
        deg = {}
        for _ in range(rounds):
            deg = {v: len(adj[v] & surv) for v in surv}
            surv = {v for v in surv if deg[v] >= k}
        return {v: deg[v] for v in surv}

    for rounds in (1, 2, 3, 4, 5):
        got = {r.v: r.deg for r in
               kcore_rounds(edges, k=2, rounds=rounds).collect()}
        assert got == referee(2, rounds), rounds
    # the cascade: each early round removes exactly one tail vertex
    sizes = [len(referee(2, r)) for r in (1, 2, 3, 4, 5)]
    assert sizes == [7, 6, 5, 4, 4]          # fixpoint at round 4
    assert set(referee(2, 5)) == {0, 1, 2, 3}  # the clique is the 2-core
    # k=3: the clique alone survives
    assert {r.v for r in kcore_rounds(edges, k=3, rounds=4).collect()} \
        == {0, 1, 2, 3}


def test_kcore_events_graph_fixpoint_at_contract_rounds(spark):
    """The contract query's 4 rounds reach the true 8-core at sf0.001:
    round 4 == round 5 (fixpoint), so the fixed-round unroll IS the
    k-core here, not a truncation."""
    from omldm_spark.io import load_table
    from omldm_spark.operators.graph import kcore_rounds

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    pairs = ev.selectExpr(
        "user_id AS u",
        "CAST(regexp_extract(props, '[0-9]+', 0) AS LONG) AS k",
    ).distinct()
    edges = pairs.selectExpr("u * 2 AS src", "k * 2 + 1 AS dst").unionByName(
        pairs.selectExpr("k * 2 + 1 AS src", "u * 2 AS dst"))
    r4 = {(r.v, r.deg) for r in kcore_rounds(edges, k=8, rounds=4).collect()}
    r5 = {(r.v, r.deg) for r in kcore_rounds(edges, k=8, rounds=5).collect()}
    assert r4 == r5 and len(r4) == 63


def test_association_rules_planted_correlation(spark, tmp_path):
    """Planted rule: item 1 appears iff item 2 appears (perfect
    correlation -> confidence 100%, lift = n/n_cons); item 3 rides in
    every basket (lift exactly 1.0 against anything)."""
    rows = []
    for o in range(20):
        rows.append((o, 3, 1))
        if o % 2 == 0:
            rows.append((o, 1, 2))
            rows.append((o, 2, 3))
        else:
            rows.append((o, 4 + (o % 3), 4))
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_linenumber int")
    df.write.parquet(str(tmp_path / "lineitem.parquet"))
    from omldm_spark.queries import QUERIES

    out = {(r.ante, r.cons): r for r in
           QUERIES["association_rules_baskets"](
               spark, str(tmp_path)).collect()}
    r12 = out[(1, 2)]
    assert r12.n_ab == 10 and r12.n_ante == 10
    assert r12.confidence_ppm == 1000000          # always together
    assert r12.lift_ppm == 1000000 * 20 // 10     # 2.0x
    r13 = out[(1, 3)]
    assert r13.confidence_ppm == 1000000
    assert r13.lift_ppm == 1000000                # item 3 is everywhere
    assert out[(3, 1)].confidence_ppm == 500000   # reverse direction


def test_top_session_paths_truncation_and_ranking(spark, tmp_path):
    """Planted journeys: 6 sessions of 'view>click>purchase', 3 of
    'view>view', one 8-event session that must truncate to its first 5
    events; ranking ties break on path ASC."""
    import datetime as dt

    rows, eid = [], 0

    def session(u, start, types):
        nonlocal eid
        for i, t in enumerate(types):
            rows.append((eid, u, t,
                         start + dt.timedelta(seconds=10 * i)))
            eid += 1

    t0 = dt.datetime(2024, 1, 1)
    for s in range(6):
        session(s, t0 + dt.timedelta(hours=s),
                ["view", "click", "purchase"])
    for s in range(3):
        session(10 + s, t0, ["view", "view"])
    session(20, t0, ["signup"] * 8)            # truncates to 5
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp")
    df.write.parquet(str(tmp_path / "events.parquet"))
    from omldm_spark.queries import QUERIES

    out = QUERIES["top_session_paths"](spark, str(tmp_path)).collect()
    by_rank = {r.rank: r for r in out}
    assert by_rank[1].path == "view>click>purchase"
    assert by_rank[1].n_sessions == 6
    assert by_rank[2].path == "view>view" and by_rank[2].n_sessions == 3
    assert by_rank[3].path == ">".join(["signup"] * 5)  # truncated
    assert len(out) == 3


def test_pmi_collocations_planted_phrase(spark, tmp_path):
    """Planted collocation: 'aurora borealis' only ever appear together;
    filler words pair freely.  The planted phrase must rank first and
    its PMI must match a python referee to the ppm."""
    import math

    docs = []
    fill = ["the", "of", "and", "data"]
    for i in range(30):
        base = " ".join(fill[(i + j) % 4] for j in range(6))
        if i % 3 == 0:
            docs.append((i, base + " aurora borealis"))
        else:
            docs.append((i, base))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df.write.parquet(str(tmp_path / "documents.parquet"))
    from omldm_spark.queries import QUERIES

    out = QUERIES["pmi_collocations"](spark, str(tmp_path)).collect()
    top = min(out, key=lambda r: r.rank)
    assert (top.w1, top.w2) == ("aurora", "borealis")
    assert top.c12 == 10 and top.c1 == 10 and top.c2 == 10

    # referee on the same counts
    toks = [t for _, text in docs for t in text.lower().split()]
    t1 = len(toks)
    t2 = sum(len(text.split()) - 1 for _, text in docs)
    want = math.floor(
        math.log((10 / 10) * (t1 / 10) * (t1 / t2)) * 1e6 + 0.5)
    assert top.pmi_ppm == want
    # ubiquitous filler bigrams sit near PMI ~ ln(t1^2/(c1*c2*t2)) ~ small
    fillers = [r for r in out if r.w1 in fill and r.w2 in fill]
    assert fillers and all(r.pmi_ppm < top.pmi_ppm for r in fillers)


def test_markov_stationary_converges_to_referee_fixpoint(spark, tmp_path):
    """A two-state chain with known stationary distribution: the query's
    integer iterate must match an exact python replay of the same
    recurrence AND sit within 1% of the analytic stationary point."""
    import datetime as dt

    rows, eid = [], 0
    ts = dt.datetime(2024, 1, 1)
    # pattern A B B repeated: A->B always; from B half the time B->B,
    # half B->A => P = [[0,1],[1/2,1/2]] -> stationary pi = (1/3, 2/3)
    seq = ["A", "B", "B"] * 40
    for u in range(5):
        for i, s in enumerate(seq):
            rows.append((eid, u, s, ts + dt.timedelta(seconds=i)))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp")
    df.write.parquet(str(tmp_path / "events.parquet"))
    from collections import defaultdict

    from omldm_spark.queries import QUERIES

    got = {r.state: r.pi_micro
           for r in QUERIES["markov_stationary"](
               spark, str(tmp_path)).collect()}

    # referee: identical integer recurrence
    n = defaultdict(int)
    for u in range(5):
        for a, b in zip(seq, seq[1:]):
            n[(a, b)] += 1
    row_n = defaultdict(int)
    for (a, _), c in n.items():
        row_n[a] += c
    pi = {s: 10**6 for s in row_n}
    for _ in range(6):
        nxt = defaultdict(int)
        for (a, b), c in n.items():
            nxt[b] += (pi[a] * c) // row_n[a]
        pi = dict(nxt)
    assert got == pi
    # analytic: pi ~ (1/3, 2/3) of the surviving mass
    mass = sum(got.values())
    assert abs(got["A"] / mass - 1 / 3) < 0.01
    assert abs(got["B"] / mass - 2 / 3) < 0.01


def _pava_referee(blocks):
    """Classic sequential PAVA over (bx, sy, w), exact rationals."""
    st = []
    for bx, sy, w in sorted(blocks):
        st.append([bx, bx, sy, w])
        while len(st) >= 2 and st[-2][2] * st[-1][3] > st[-1][2] * st[-2][3]:
            b = st.pop()
            st[-1][1] = b[1]
            st[-1][2] += b[2]
            st[-1][3] += b[3]
    return [(a, b, c, d) for a, b, c, d in st]


def test_isotonic_pava_matches_sequential_referee(spark):
    """The synchronous-rounds fit must equal classic sequential PAVA on
    an adversarial staircase (violating runs of different lengths), and
    the fitted means must be non-decreasing (integer cross products)."""
    from omldm_spark.operators.evaluation import isotonic_pava_rounds

    # rates: .9 .1 .2 .8 .7 .6 .05 .5 -> multiple nested violations
    raw = [(0, 90, 100), (1, 10, 100), (2, 20, 100), (3, 80, 100),
           (4, 70, 100), (5, 60, 100), (6, 5, 100), (7, 50, 100)]
    df = spark.createDataFrame(
        [(bx, bx, sy, w) for bx, sy, w in raw],
        "bx long, xmax long, sy long, w long")
    got = sorted(
        (r.bx, r.xmax, r.sy, r.w)
        for r in isotonic_pava_rounds(df, rounds=6).collect())
    assert got == _pava_referee(raw)
    # non-decreasing pooled means
    for (_, _, s1, w1), (_, _, s2, w2) in zip(got, got[1:]):
        assert s1 * w2 <= s2 * w1
    # fixpoint: one more round changes nothing
    got7 = sorted(
        (r.bx, r.xmax, r.sy, r.w)
        for r in isotonic_pava_rounds(df, rounds=7).collect())
    assert got7 == got


def test_isotonic_contract_query_fixpoint(spark):
    """The contract query's 8 rounds reach the PAVA fixpoint at
    sf0.001 and the result equals the sequential referee on the same
    base blocks."""
    import duckdb

    from omldm_spark.queries import QUERIES

    got = sorted(
        (r.bx, r.xmax, r.sy, r.w, r.fit_ppm)
        for r in QUERIES["isotonic_calibration"](
            spark, "/root/testdata/sf0.001").collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW orders AS SELECT * FROM "
                "'/root/testdata/sf0.001/orders.parquet'")
    base = con.execute("""
SELECT least(CAST(floor(o_totalprice) AS BIGINT) // 20000, 15) AS bx,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS sy,
       CAST(count(*) AS BIGINT) AS w
FROM orders GROUP BY 1""").fetchall()
    want = [(a, b, c, d, c * 10**6 // d)
            for a, b, c, d in _pava_referee(base)]
    assert got == sorted(want)


def test_brier_decomposition_identity_and_referee(spark):
    """BS = REL - RES + UNC must hold to per-cell quantization slack,
    and every contribution must match a python referee on the sf0.001
    bins."""
    import duckdb
    import math

    from omldm_spark.queries import QUERIES

    rows = QUERIES["brier_decomposition"](
        spark, "/root/testdata/sf0.001").collect()
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                "'/root/testdata/sf0.001/events.parquet'")
    bins = con.execute("""
SELECT least(greatest((CAST(round(value / 600.0 * 1000000, 0) AS BIGINT)
         - 0) // 100000, 0), 9) AS b,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pos
FROM events GROUP BY 1""").fetchall()
    tn = sum(n for _, n, _ in bins)
    tp = sum(p for _, _, p in bins)
    obar = tp / tn
    ref = {}
    for b, n, p in bins:
        f = b * 0.1 + 0.05
        o = p / n
        ref[b] = (
            math.floor((n * f * f - 2.0 * f * p + p) / tn * 1e6 + 0.5),
            math.floor(n * (f - o) * (f - o) / tn * 1e6 + 0.5),
            math.floor(n * (o - obar) * (o - obar) / tn * 1e6 + 0.5),
            math.floor(obar * (1.0 - obar) * 1e6 + 0.5),
        )
    assert len(rows) == len(bins)
    for r in rows:
        assert (r.bs_contrib_ppm, r.rel_contrib_ppm,
                r.res_contrib_ppm, r.unc_ppm) == ref[r.bin_idx], r.bin_idx
    # Murphy identity with <= 1ppm-per-cell quantization slack
    bs = sum(r.bs_contrib_ppm for r in rows)
    rel = sum(r.rel_contrib_ppm for r in rows)
    res = sum(r.res_contrib_ppm for r in rows)
    unc = rows[0].unc_ppm
    assert abs(bs - (rel - res + unc)) <= len(rows) * 3 + 3


def test_benford_digit_audit_properties(spark):
    from omldm_spark.queries import QUERIES, _BENFORD_PPM

    rows = QUERIES["benford_digit_audit"](
        spark, "/root/testdata/sf0.001").collect()
    assert sum(_BENFORD_PPM.values()) == 1_000_000
    by_src = {}
    for r in rows:
        assert 1 <= r.digit <= 9
        assert r.exp_ppm == _BENFORD_PPM[r.digit]
        assert r.dev_ppm == r.obs_ppm - r.exp_ppm
        assert r.chi2_milli >= 0
        by_src.setdefault(r.src, []).append(r)
    assert set(by_src) == {"orders", "lineitem"}
    for src, rs in by_src.items():
        # every observed count accounted for: floor-div shares sum to
        # within 9 ppm of unity, counts sum to the shared total
        assert sum(r.n for r in rs) == rs[0].tot
        assert 1_000_000 - 9 <= sum(r.obs_ppm for r in rs) <= 1_000_000


def test_rendezvous_rebalance_invariant(spark):
    """HRW guarantee: growing the ring 8->9 moves keys ONLY onto the new
    shard, and the moved fraction concentrates near 1/9."""
    from omldm_spark.queries import QUERIES

    rows = QUERIES["rendezvous_shard_rebalance"](
        spark, "/root/testdata/sf0.001").collect()
    total = sum(r.n_keys for r in rows)
    moved = 0
    for r in rows:
        assert 0 <= r.shard_old <= 7
        assert 0 <= r.shard_new <= 8
        if r.shard_old != r.shard_new:
            # the ONLY allowed move target is the new shard 8
            assert r.shard_new == 8, (r.shard_old, r.shard_new)
            moved += r.n_keys
    assert total == 150
    # binomial(150, 1/9): mean ~16.7, sd ~3.85 — pin a generous 4-sigma band
    assert 2 <= moved <= 33, moved


def test_seasonal_anomaly_flags_are_profile_residuals(spark):
    """Every flagged event violates its OWN (type, hod) cell threshold,
    recomputed by an independent python referee; no non-flagged event
    violates it."""
    from collections import defaultdict

    from omldm_spark.io import load_table
    from omldm_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {r.event_id: r for r in
           QUERIES["seasonal_anomaly_events"](spark, sf).collect()}
    from pyspark.sql import functions as F
    ev = load_table(spark, sf, "events").select(
        "event_id", "event_type",
        F.hour("ts").cast("int").alias("hod"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v_c"),
    ).collect()
    cells = defaultdict(list)
    for r in ev:
        cells[(r.event_type, r.hod)].append(r)
    expect = {}
    for key, rows in cells.items():
        n = len(rows)
        mean_c = sum(r.v_c for r in rows) // n
        mad_c = sum(abs(r.v_c - mean_c) for r in rows) // n
        thr = max(4 * mad_c, 10)
        for r in rows:
            if abs(r.v_c - mean_c) > thr:
                expect[r.event_id] = (mean_c, mad_c)
    assert set(got) == set(expect)
    for eid, (mean_c, mad_c) in expect.items():
        assert got[eid].mean_c == mean_c and got[eid].mad_c == mad_c
    assert len(expect) > 0  # the detector actually fires at this SF


def test_mutual_information_ranking_direction(spark):
    """price_band determines the label band -> its MI must dominate the
    near-independent dow feature; all four features present; MI of the
    (near-)independent features is ~0 but the estimator may go slightly
    negative per-cell-quantization."""
    from omldm_spark.queries import QUERIES

    rows = {r.feature: r for r in QUERIES["mutual_information_features"](
        spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {"priority", "segment", "price_band", "dow"}
    assert rows["price_band"].mi_ppm > 10 * max(
        abs(rows["dow"].mi_ppm), abs(rows["segment"].mi_ppm), 1)
    for r in rows.values():
        assert r.n_cells >= 2


def test_link_prediction_python_referee(spark):
    """Scores recomputed by an independent adjacency-set referee: exact
    cn/jaccard, AA as the same per-middle quantized sum; candidates are
    exactly the non-adjacent pairs with >= 1 common neighbor."""
    import math
    from itertools import combinations

    from pyspark.sql import functions as F

    from omldm_spark.io import load_table
    from omldm_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {(r.u, r.v): r for r in
           QUERIES["link_prediction_items"](spark, sf).collect()}
    ui = load_table(spark, sf, "events").select(
        F.col("user_id").alias("u"),
        F.regexp_extract("props", "[0-9]+", 0).cast("long").alias("item"),
    ).distinct().collect()
    from collections import defaultdict
    by_user = defaultdict(set)
    for r in ui:
        by_user[r.u].add(r.item)
    co = defaultdict(int)
    for items in by_user.values():
        for x, y in combinations(sorted(items), 2):
            co[(x, y)] += 1
    edges = {p for p, n in co.items() if n >= 3}
    nbr = defaultdict(set)
    for x, y in edges:
        nbr[x].add(y)
        nbr[y].add(x)
    expect = {}
    for x, y in combinations(sorted(nbr), 2):
        if (x, y) in edges:
            continue
        common = nbr[x] & nbr[y]
        if not common:
            continue
        aa = sum(int(math.floor(1e6 / math.log(len(nbr[w])) + 0.5))
                 for w in common)
        jac = (len(common) * 1000000) // (len(nbr[x]) + len(nbr[y])
                                          - len(common))
        expect[(x, y)] = (len(common), aa, jac)
    assert set(got) == set(expect)
    for p, (cn, aa, jac) in expect.items():
        assert (got[p].cn, got[p].aa_ppm, got[p].jaccard_ppm) == (cn, aa, jac)
    assert len(expect) > 10


def test_interval_overlap_canonical_bucket_dedup(spark):
    """Bucket blocking must emit each overlapping pair EXACTLY once even
    when the pair shares many day-buckets, and never a non-overlap."""
    from pyspark.sql import functions as F

    from omldm_spark.io import load_table
    from omldm_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["interval_overlap_pairs"](spark, sf).collect()
    pairs = [(r.k_a, r.k_b) for r in rows]
    assert len(pairs) == len(set(pairs))  # exactly-once per pair
    iv = {r.k: (r.start_s, r.end_s) for r in load_table(
        spark, sf, "orders").filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.unix_timestamp("o_orderdate").cast("long").alias("start_s"),
        (F.unix_timestamp("o_orderdate").cast("long")
         + F.floor("o_totalprice").cast("long")).alias("end_s")).collect()}
    expect = set()
    keys = sorted(iv)
    for i, ka in enumerate(keys):
        for kb in keys[i + 1:]:
            (sa, ea), (sb, eb) = iv[ka], iv[kb]
            if sa <= eb and sb <= ea:
                expect.add((ka, kb))
    assert set(pairs) == expect and len(expect) > 0
    for r in rows:
        sa, ea = iv[r.k_a]
        sb, eb = iv[r.k_b]
        assert r.overlap_start_s == max(sa, sb)
        assert r.overlap_s == min(ea, eb) - max(sa, sb)
        assert r.overlap_s >= 0


def test_passjoin_catches_indel_shifts(spark):
    """Planted adversarial pairs: substitutions in DIFFERENT segments and
    an ins+del pair that shifts a whole middle segment by one — the case
    naive shift-0 segment blocking misses; PassJoin's +-d band must
    catch every pair the quadratic referee finds."""
    import itertools

    from omldm_spark.operators.dedup import passjoin_edit_pairs

    base = "abcdefghijklmnopqrstuvwxyz0123"  # 30 chars
    docs = {
        0: base,
        # two substitutions, one in segment 0 and one in segment 2
        1: "Xbcdefghij" + base[10:20] + "klmnopqrsX"[:0] + base[20:29] + "X",
        # one insert at pos 3 + one delete at pos 25: middle segment
        # shifts right by one
        2: base[:3] + "Z" + base[3:24] + base[25:],
        # distance 3 from base (three substitutions) — must NOT pair
        # with base at threshold 2
        3: "XbcdefghiX" + base[10:19] + "X" + base[20:],
        # identical twin of base
        4: base,
    }
    assert all(len(s) == 30 for s in docs.values())
    df = spark.createDataFrame(
        [(k, v, len(v)) for k, v in docs.items()],
        "doc_id long, text string, n_chars long")
    got = {(r.doc_a, r.doc_b): r.dist
           for r in passjoin_edit_pairs(df).collect()}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expect = {(x, y): lev(docs[x], docs[y])
              for x, y in itertools.combinations(sorted(docs), 2)
              if lev(docs[x], docs[y]) <= 2}
    assert got == expect
    assert (0, 2) in expect  # the indel-shift pair is really in play
    assert (0, 1) in expect and (0, 4) in expect


def test_textrank_python_referee(spark):
    """The integer-PageRank recurrence replayed exactly in python over an
    independently-built co-occurrence graph reproduces the top-30."""
    from collections import defaultdict

    from omldm_spark.io import load_table
    from omldm_spark.operators.graph import (
        BASE_PR, DAMP_DEN, DAMP_NUM, INIT_PR,
    )
    from omldm_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = [(r.rank, r.word, r.pr) for r in sorted(
        QUERIES["textrank_keywords"](spark, sf).collect(),
        key=lambda r: r.rank)]
    docs = load_table(spark, sf, "documents").select("text").collect()
    pairs = set()
    for d in docs:
        toks = [t for t in d.text.lower().split() if t]
        for w1, w2 in zip(toks, toks[1:]):
            if w1 != w2:
                pairs.add((min(w1, w2), max(w1, w2)))
    nbr = defaultdict(set)
    for a, b in pairs:
        nbr[a].add(b)
        nbr[b].add(a)
    deg = {w: len(ns) for w, ns in nbr.items()}
    pr = {w: INIT_PR for w in nbr}
    for _ in range(3):
        nxt = defaultdict(lambda: BASE_PR)
        for w, ns in nbr.items():
            c = (pr[w] * DAMP_NUM) // (DAMP_DEN * deg[w])
            for v in ns:
                nxt[v] += c
        pr = dict(nxt)
    ranked = sorted(pr.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    expect = [(i + 1, w, p) for i, (w, p) in enumerate(ranked)]
    assert got == expect


def test_zonemap_pruning_direction(spark):
    """The layout trade must point the right way at the driver SF:
    z-order prunes user point-lookups better than arrival order (which
    cannot prune them), and arrival order keeps its perfect-day-sort
    advantage on day probes.  Also: both layouts' zone maps cover every
    probe at least once (no probe prunes to zero everywhere)."""
    from omldm_spark.queries import QUERIES

    rows = {(r.layout, r.probe_kind): r
            for r in QUERIES["zonemap_pruning_report"](
                spark, "/root/testdata/sf0.01").collect()}
    assert set(rows) == {("arrival", "user_point"), ("arrival", "day_point"),
                         ("zorder", "user_point"), ("zorder", "day_point")}
    assert (rows[("zorder", "user_point")].touch_ppm
            < rows[("arrival", "user_point")].touch_ppm)
    assert (rows[("arrival", "day_point")].touch_ppm
            <= rows[("zorder", "day_point")].touch_ppm)
    for r in rows.values():
        assert 0 < r.files_touched <= r.n_probes * r.files_total
        assert r.files_touched >= r.n_probes  # every probe hits >= 1 file


def test_stratified_att_python_referee(spark):
    """Per-stratum diffs and the treated-weighted overall row recomputed
    by an independent referee over the unit table."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from omldm_spark.io import load_table
    from omldm_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    rows = {r.stratum: r for r in
            QUERIES["stratified_att_report"](spark, sf).collect()}
    ev = load_table(spark, sf, "events").groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .alias("x0"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .alias("x1"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("conv")).collect()

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b > 0) else -q

    cells = defaultdict(lambda: [0, 0, 0, 0])  # n_t, k_t, n_c, k_c
    for r in ev:
        s = min((r.x0 + r.x1) // 4, 4)
        trt = r.user_id % 2
        c = cells[s]
        if trt:
            c[0] += 1
            c[1] += r.conv
        else:
            c[2] += 1
            c[3] += r.conv
    num = den = 0
    for s, (n_t, k_t, n_c, k_c) in cells.items():
        got = rows[s]
        assert (got.n_t or 0, got.k_t or 0, got.n_c or 0, got.k_c or 0) \
            == (n_t, k_t, n_c, k_c), s
        if n_t > 0 and n_c > 0:
            d = tdiv(k_t * 1000000, n_t) - tdiv(k_c * 1000000, n_c)
            assert got.diff_ppm == d, s
            num += n_t * d
            den += n_t
    assert rows[-1].diff_ppm == tdiv(num, den)


def test_vocab_coverage_monotone_and_complete(spark):
    from omldm_spark.queries import QUERIES

    rows = sorted(QUERIES["vocab_coverage_curve"](
        spark, "/root/testdata/sf0.001").collect(), key=lambda r: r.k)
    cov = [r.coverage_ppm for r in rows]
    assert cov == sorted(cov)
    assert rows[-1].k == rows[-1].vocab
    assert rows[-1].cum == rows[-1].tot  # full vocab covers everything
    assert 999999 <= rows[-1].coverage_ppm <= 1000000


def test_watermark_lateness_referee(spark):
    """Two-phase running max == the sequential scan's running max."""
    from pyspark.sql import functions as F

    from omldm_spark.io import load_table
    from omldm_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {r.watermark_delay_s: r for r in
           QUERIES["watermark_lateness_report"](spark, sf).collect()}
    ev = sorted(load_table(spark, sf, "events").select(
        "event_id", F.unix_timestamp("ts").cast("long").alias("ts_s")
    ).collect(), key=lambda r: r.event_id)
    run = None
    lates = []
    for r in ev:
        lates.append(max(0, (run if run is not None else -1) - r.ts_s))
        run = r.ts_s if run is None else max(run, r.ts_s)
    for w in (0, 60, 300, 900, 3600):
        n = sum(1 for x in lates if x > w)
        assert got[w].n_dropped == n, w
        assert got[w].max_late_s == max(lates)
        assert got[w].drop_ppm == (n * 1000000) // len(lates)
    assert got[0].n_dropped >= got[3600].n_dropped


def test_markov_removal_monotone_and_python_referee(spark):
    """Removal can only destroy conversion paths (p_removed <= p_full);
    the K-round absorption recurrence replayed exactly in python over an
    independently-built journey chain reproduces every output."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from omldm_spark.io import load_table
    from omldm_spark.queries import _MRA_ROUNDS, QUERIES

    sf = "/root/testdata/sf0.001"
    got = {r.channel: r for r in
           QUERIES["markov_removal_attribution"](spark, sf).collect()}
    ev = sorted(load_table(spark, sf, "events").select(
        "user_id", "event_type", "ts", "event_id").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id))
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r.event_type)
    pairs = defaultdict(int)
    for seq in by_user.values():
        cut = seq
        if "purchase" in seq:
            cut = seq[: seq.index("purchase") + 1]
        states = ["start"] + ["conv" if s == "purchase" else s for s in cut]
        if states[-1] != "conv":
            states.append("null")
        for a, b in zip(states, states[1:]):
            pairs[(a, b)] += 1

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b > 0) else -q

    def absorb(pp):
        row_n = defaultdict(int)
        for (s, _), n in pp.items():
            row_n[s] += n
        a = {"conv": 1_000_000}
        for _ in range(_MRA_ROUNDS):
            nxt = defaultdict(int)
            for (s, t), n in pp.items():
                if t in a:
                    nxt[s] += tdiv(n * a[t], row_n[s])
            nxt["conv"] = 1_000_000
            a = dict(nxt)
        return a.get("start", 0)

    p_full = absorb(pairs)
    chans = {s for (s, _) in pairs if s != "start"}
    removal = {}
    for c in sorted(chans):
        pp = defaultdict(int)
        for (s, t), n in pairs.items():
            if s == c:
                continue
            pp[(s, "null" if t == c else t)] += n
        p_rm = absorb(pp)
        assert p_rm <= p_full, c  # monotone
        removal[c] = tdiv((p_full - p_rm) * 1_000_000, p_full)
    tot = sum(removal.values())
    assert set(got) == chans
    for c, r in got.items():
        assert r.p_full_micro == p_full
        assert r.removal_ppm == removal[c]
        assert r.share_ppm == tdiv(removal[c] * 1_000_000, tot)


def test_importance_weights_reweight_source_to_target(spark):
    """The defining property: reweighting source bin shares by w
    reproduces target bin shares exactly (up to the ppm quantization of
    w itself)."""
    from omldm_spark.queries import QUERIES

    rows = QUERIES["importance_weights_bins"](
        spark, "/root/testdata/sf0.01").collect()
    t_src = sum(r.n_src for r in rows)
    t_tgt = sum(r.n_tgt for r in rows)
    for r in rows:
        if r.n_src > 0:
            assert r.w_ppm == (r.n_tgt * t_src * 1000000) \
                // (r.n_src * t_tgt)
            # reweighted source mass == target mass, to w's quantization
            reweighted = r.n_src * r.w_ppm * t_tgt
            exact = r.n_tgt * t_src * 1000000
            assert 0 <= exact - reweighted < r.n_src * t_tgt
        else:
            assert r.w_ppm is None


def test_theil_sen_python_referee(spark):
    from pyspark.sql import functions as F

    from omldm_spark.io import load_table
    from omldm_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = QUERIES["theil_sen_revenue_trend"](spark, sf).collect()[0]
    daily = sorted(
        (r.d, r.s_c) for r in load_table(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 86400")
                 .alias("d"))
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long"))
             .alias("s_c")).collect())

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b > 0) else -q

    slopes = sorted(
        (tdiv((sj - si) * 1000000, dj - di), di, dj)
        for i, (di, si) in enumerate(daily)
        for dj, sj in daily[i + 1:])
    n = len(slopes)
    assert got.n_pairs == n
    assert got.slope_med_ppm == slopes[(n + 1) // 2 - 1][0]
    assert got.slope_q1_ppm == slopes[(n + 3) // 4 - 1][0]
    assert got.slope_q3_ppm == slopes[(3 * n + 1) // 4 - 1][0]
    assert got.slope_q1_ppm <= got.slope_med_ppm <= got.slope_q3_ppm


def test_ucb_daily_replay_python_referee(spark):
    """UCB1 recurrence replayed in python: same prefix stats, same
    quantized score, same cold-arm-first rule, same argmax tie-breaks."""
    import math
    from collections import defaultdict

    from pyspark.sql import functions as F

    from omldm_spark.io import load_table
    from omldm_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {r.day: r for r in
           QUERIES["ucb_daily_replay"](spark, sf).collect()}
    da = load_table(spark, sf, "events").groupBy(
        F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 86400").alias("d"),
        F.col("event_type").alias("arm"),
    ).agg(F.count(F.lit(1)).alias("n"),
          F.sum(F.round(F.col("value") * 100, 0).cast("long"))
          .alias("s_c")).collect()
    by_day = defaultdict(dict)
    for r in da:
        by_day[r.d][r.arm] = (r.n, r.s_c)
    cum = defaultdict(lambda: [0, 0])
    for day_no, d in enumerate(sorted(by_day), 1):
        best = None
        for arm, (n, s_c) in sorted(by_day[d].items()):
            cn, cs = cum[arm]
            if cn == 0:
                key = (0, 0, arm)          # cold arm: forced first
                ucb = None
            else:
                ucb = int(math.floor(
                    cs / cn * 10000.0
                    + 2000000.0 * math.sqrt(math.log(day_no) / cn) + 0.5))
                key = (1, -ucb, arm)
            if best is None or key < best[0]:
                best = (key, arm, ucb, n, s_c)
        _, arm, ucb, n, s_c = best
        g = got[d]
        assert (g.chosen_arm, g.ucb_ppm, g.day_no) == (arm, ucb, day_no), d
        assert g.realized_mean_cc == (s_c * 100) // n
        for a2, (n2, s2) in by_day[d].items():
            cum[a2][0] += n2
            cum[a2][1] += s2
    # early days must be cold-start picks; later days scored
    days_sorted = sorted(got)
    assert got[days_sorted[0]].ucb_ppm is None
    assert got[days_sorted[-1]].ucb_ppm is not None


def test_encoding_audit_python_referee(spark):
    import math

    from pyspark.sql import functions as F

    from omldm_spark.io import load_table
    from omldm_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {r.col: r for r in
           QUERIES["encoding_audit_report"](spark, sf).collect()}
    rows = sorted(load_table(spark, sf, "events").select(
        "event_id", "event_type", "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("v_c"),
    ).collect(), key=lambda r: r.event_id)
    series = {
        "event_type": [r.event_type for r in rows],
        "user_id": [str(r.user_id) for r in rows],
        "value_c": [str(r.v_c) for r in rows],
    }
    for col, vs in series.items():
        runs = 1 + sum(1 for a, b in zip(vs, vs[1:]) if a != b)
        nd = len(set(vs))
        g = got[col]
        assert (g.n, g.n_distinct, g.n_runs) == (len(vs), nd, runs), col
        assert g.rle_ratio_ppm == (runs * 1000000) // len(vs)
        want_bits = 0 if nd <= 1 else int(
            math.floor(math.log(nd - 1) / math.log(2.0))) + 1
        assert g.dict_bits == want_bits == math.ceil(math.log2(nd))
    # high-cardinality value column must not look RLE-friendly
    assert got["value_c"].rle_ratio_ppm > got["event_type"].rle_ratio_ppm


def test_max_f1_threshold_python_referee(spark):
    from pyspark.sql import functions as F

    from omldm_spark.io import load_table
    from omldm_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = QUERIES["max_f1_threshold"](spark, sf).collect()[0]
    pts = load_table(spark, sf, "events").select(
        F.round(F.col("value") * 100, 0).cast("long").alias("v_c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        .alias("y")).collect()
    total_p = sum(r.y for r in pts)
    best = None
    for t in sorted({r.v_c for r in pts}):
        tp = sum(r.y for r in pts if r.v_c >= t)
        pp = sum(1 for r in pts if r.v_c >= t)
        f1 = (2 * tp * 1000000) // (pp + total_p)
        key = (-f1, t)
        if best is None or key < best[0]:
            best = (key, t, tp, pp)
    _, t, tp, pp = best
    assert got.threshold_c == t
    assert got.tp == tp and got.fp == pp - tp and got.fn == total_p - tp
    assert got.precision_ppm == (tp * 1000000) // pp
    assert got.recall_ppm == (tp * 1000000) // total_p
    assert got.f1_ppm == (2 * tp * 1000000) // (pp + total_p)


def test_forecast_backtest_python_referee(spark):
    """Gram, Cramer solve, and holdout predictions replayed in numpy."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from omldm_spark.io import load_table
    from omldm_spark.queries import (
        _FCAST_LAMBDA,
        _FCAST_TRAIN_DAYS,
        QUERIES,
    )

    sf = "/root/testdata/sf0.01"
    got = {r.day: r for r in
           QUERIES["forecast_orr_backtest"](spark, sf).collect()}
    daily = sorted(
        (r.d, r.y) for r in load_table(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 86400")
                 .alias("d"))
        .agg(F.expr("CAST(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))"
                    " AS BIGINT) div 100 AS BIGINT)").alias("y"))
        .collect())
    ys = [y for _, y in daily]
    rows = []
    for i, (d, y) in enumerate(daily):
        if i >= 7:
            rows.append((d, i + 1, y, ys[i - 1], ys[i - 7]))
    train = [(x0, x1, y) for _, dn, y, x0, x1 in rows
             if dn <= _FCAST_TRAIN_DAYS]
    X = np.array([[x0, x1] for x0, x1, _ in train], dtype=np.float64)
    yv = np.array([y for *_, y in train], dtype=np.float64)
    n = len(train)
    A = np.zeros((3, 3))
    A[:2, :2] = X.T @ X / n
    A[2, :2] = X.mean(axis=0)
    A[:2, 2] = X.mean(axis=0)
    A[2, 2] = 1.0
    A += _FCAST_LAMBDA * np.eye(3)
    b = np.array([(X[:, 0] * yv).mean(), (X[:, 1] * yv).mean(), yv.mean()])
    w = np.linalg.solve(A, b)
    w = np.round(w, 6)  # the Cramer text rounds to 6 decimals
    test = [(d, dn, y, x0, x1) for d, dn, y, x0, x1 in rows
            if dn > _FCAST_TRAIN_DAYS]
    assert set(got) == {d for d, *_ in test} and len(test) >= 5
    for d, dn, y, x0, x1 in test:
        yhat = int(math.floor(
            (w[0] * x0 + w[1] * x1 + w[2]) * 1000.0 + 0.5))
        g = got[d]
        # Cramer's per-term IEEE tree differs from np.linalg.solve —
        # allow 1 milli of slack on the referee (the ORACLE is exact)
        assert abs(g.yhat_milli - yhat) <= 1, d
        assert g.naive7 == x1 and g.y == y and g.day_no == dn
        assert g.naive_abs_err_milli == abs(y - x1) * 1000


def test_shard_manifest_never_splits_and_fills_shards(spark):
    # the manifest contract: within a kind, shard indices are
    # non-decreasing in doc order, no item is split, and every shard
    # except the last carries >= budget bytes counting its first item's
    # arrival (prefix-before floor-div semantics).
    from collections import defaultdict

    from omldm_spark.queries import QUERIES, _SHARD_BUDGET
    from tests.conftest import SF_DIR

    rows = QUERIES["multimodal_shard_manifest"](spark, SF_DIR).collect()
    by_kind = defaultdict(list)
    for r in rows:
        by_kind[r.kind].append((int(r.media_id[1:]), r.nbytes, r.shard_idx))
    assert set(by_kind) == {"image", "audio", "video"}
    for kind, items in by_kind.items():
        items.sort()
        prefix = 0
        for doc, nb, shard in items:
            assert shard == prefix // _SHARD_BUDGET  # referee recompute
            prefix += nb
        shards = [s for _, _, s in items]
        assert shards == sorted(shards)
        # every non-final shard spans >= budget bytes of arrivals
        sizes = defaultdict(int)
        for _, nb, s in items:
            sizes[s] += nb
        assert all(s2 - s1 <= 1 or sizes[s1] >= _SHARD_BUDGET
                   for s1, s2 in zip(shards, shards[1:]))


def test_cap_key_degree_planted_hot_user(spark):
    # one crawler-grade user with 200 items among normal users: the cap
    # keeps exactly 64 for the hot key, everything else untouched, and
    # the kept subset is deterministic (md5 order, not partition order).
    from omldm_spark.operators.corpus import cap_key_degree

    rows = ([(99, i) for i in range(200)]
            + [(1, i) for i in range(10)] + [(2, 5)])
    df = spark.createDataFrame(rows, "u long, item long")
    out = cap_key_degree(df, 64).collect()
    by_u = {}
    for r in out:
        by_u.setdefault(r.u, set()).add(r.item)
    assert len(by_u[99]) == 64
    assert by_u[99] < set(range(200))
    assert by_u[1] == set(range(10)) and by_u[2] == {5}
    again = {(r.u, r.item)
             for r in cap_key_degree(df.repartition(7), 64).collect()}
    assert again == {(r.u, r.item) for r in out}


def test_cap_key_degree_null_keys_engine_identical(spark):
    # NULL keys/items coalesce to the '' sentinel before hashing on
    # BOTH engines (ADVICE r8: Spark concat_ws skips NULLs and sorts
    # NULLS FIRST; DuckDB || propagates NULL and sorts NULLS LAST — a
    # >cap key containing a NULL item kept a different subsample per
    # engine). Referee: CAP_DEGREE_SQL on DuckDB over the same rows.
    import duckdb

    from omldm_spark.operators.corpus import CAP_DEGREE_SQL, cap_key_degree

    rows = ([("hot", str(i)) for i in range(20)] + [("hot", None)]
            + [(None, str(i)) for i in range(20)] + [(None, None)]
            + [("cold", "x")])
    df = spark.createDataFrame(rows, "u string, item string")
    got = {(r.u, r.item) for r in cap_key_degree(df, 8).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE src (u VARCHAR, item VARCHAR)")
    con.executemany("INSERT INTO src VALUES (?, ?)", rows)
    want = {tuple(r) for r in con.execute(
        "WITH src2 AS (SELECT * FROM src) "
        + CAP_DEGREE_SQL(8, "src2", key="u", item="item")).fetchall()}
    assert got == want
    # both engines capped the hot and NULL keys to 8
    from collections import Counter

    per_key = Counter(u for u, _ in got)
    assert per_key["hot"] == 8 and per_key[None] == 8
    assert per_key["cold"] == 1


def test_embedding_silhouette_planted_geometry(spark):
    # two tight, well-separated clusters -> strongly positive mean
    # silhouette; one planted traitor sitting on the foreign centroid ->
    # counted negative for its own label
    from omldm_spark.queries import QUERIES
    import pyspark.sql.functions as F  # noqa: F401

    rows = []
    for i in range(8):
        rows.append((i, 0, [1.0, 0.0, 0.0, 0.0]))
    for i in range(8, 16):
        rows.append((i, 1, [0.0, 1.0, 0.0, 0.0]))
    rows.append((16, 0, [0.0, 1.0, 0.0, 0.0]))  # traitor: label 0 at c1
    emb = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>")
    import tempfile, os
    d = tempfile.mkdtemp()
    emb.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    out = {r.label: r for r in
           QUERIES["embedding_silhouette_report"](spark, d).collect()}
    assert out[1].n_negative == 0 and out[1].mean_sil_ppm > 900_000
    assert out[0].n_negative == 1          # the traitor
    assert out[0].min_sil_ppm < 0
    assert out[0].n_vecs == 9 and out[1].n_vecs == 8


def test_plsa_round_partition_invariant_and_shaped(spark):
    from omldm_spark.operators.lm import plsa_round

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i % 5} delta epsilon zeta")
         for i in range(30)],
        "doc_id long, text string")
    a = {(r.topic, r.term): (r.n_hat_q, r.rank)
         for r in plsa_round(docs, k=3, top_n=4).collect()}
    b = {(r.topic, r.term): (r.n_hat_q, r.rank)
         for r in plsa_round(docs.repartition(7), k=3, top_n=4).collect()}
    assert a == b                      # exact integer EM: order-free
    topics = {t for t, _ in a}
    assert topics == {0, 1, 2}
    for t in topics:                   # dense rank 1..top_n per topic
        ranks = sorted(rk for (tt, _), (_, rk) in a.items() if tt == t)
        assert ranks == [1, 2, 3, 4]
    # responsibilities split mass: a term's n_hat summed over topics is
    # close to 1e6 * corpus tf (floor-ppm loses < k per posting row);
    # needs the UNtruncated aggregate, so rank over the full vocab
    full = {(r.topic, r.term): r.n_hat_q
            for r in plsa_round(docs, k=3, top_n=1000).collect()}
    tot_alpha = sum(n for (t, term), n in full.items() if term == "alpha")
    assert 0 <= 30 * 1_000_000 - tot_alpha < 3 * 30


def test_host_quota_sample_bites_and_deterministic(spark):
    from omldm_spark.operators.web import host_quota_sample, plant_urls

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    urls = plant_urls(docs)
    out = host_quota_sample(urls, quota=3).collect()
    from collections import Counter

    per_host = Counter(r.host for r in out)
    # every site host has 7 distinct pages planted (doc_id % 7 paths x
    # one query id per path combo appears; >= 3 pages) -> quota bites
    assert all(v <= 3 for v in per_host.values())
    assert per_host["cdn.example.com"] == 3
    again = {(r.host, r.canon_url) for r in
             host_quota_sample(urls.repartition(11), quota=3).collect()}
    assert again == {(r.host, r.canon_url) for r in out}


def test_blocklist_filter_branches(spark):
    from omldm_spark.operators.web import blocklist_filter, plant_urls

    docs = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    out = blocklist_filter(plant_urls(docs),
                           ["site3.example.com"]).collect()
    blocked = {r.host for r in out if r.blocked}
    kept = {r.host for r in out if not r.blocked}
    assert blocked == {"site3.example.com"}
    assert "site3.example.com" not in kept and kept


def test_canonical_url_userinfo_and_schemeless(spark):
    # review r10: userinfo is split off and preserved VERBATIM (only
    # scheme+host case-fold); schemeless input passes through unchanged.
    # Both pinned engine-identically against the DuckDB mirror.
    import duckdb

    from pyspark.sql import functions as F

    from omldm_spark.operators.web import (CANONICAL_URL_SQL, HOST_OF_SQL,
                                           canonical_url, host_of)

    cases = [
        ("http://User:Pw@WWW.Example.COM/p",
         "http://User:Pw@example.com/p"),      # userinfo kept, host folds
        ("HTTPS://uSeR@Example.COM:443/x/",
         "https://uSeR@example.com/x"),        # port strip behind userinfo
        ("example.com/path?utm_source=x", "example.com/path?utm_source=x"),
        ("/relative/p#frag", "/relative/p#frag"),   # passthrough, frag kept
        ("mailto:alice@example.com", "mailto:alice@example.com"),  # no ://
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "url string")
    got = [r.c for r in
           df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]
    # hosts of canonical urls exclude the userinfo
    hosts = [r.h for r in df.select(
        host_of(canonical_url(F.col("url"))).alias("h")).collect()]
    assert hosts[:2] == ["example.com", "example.com"]
    con = duckdb.connect()
    for raw, want in cases:
        lit = "'" + raw.replace("'", "''") + "'"
        assert con.execute(
            f"SELECT {CANONICAL_URL_SQL(lit)}").fetchone()[0] == want
    assert con.execute(
        "SELECT " + HOST_OF_SQL(CANONICAL_URL_SQL("'http://U@Ex.COM/p'"))
    ).fetchone()[0] == "ex.com"


def test_blocklist_sql_escapes_quoted_hosts():
    # review r10: a host containing a quote must not produce malformed
    # oracle SQL — the literal is doubled ('' escape)
    from omldm_spark.operators.web import BLOCKLIST_SQL

    sql = BLOCKLIST_SQL(["o'malley.example.com", "plain.example.com"])
    assert "'o''malley.example.com'" in sql
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT 1::BIGINT AS doc_id, "
                "'x' AS text")
    con.execute(sql)  # must parse and run


def test_plsa_second_round_cache_out_releases(spark):
    # review r10: sweep callers can release the persisted postings
    # frame; r12-opt added the persisted E-step frame (the stacked
    # consumer pair reads it twice), so TWO handles ride cache_out
    from omldm_spark.operators.lm import plsa_second_round

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(6)],
        "doc_id long, text string")
    caches: list = []
    out = plsa_second_round(docs, k=2, top_n=3, cache_out=caches)
    out.collect()
    assert len(caches) == 2 and all(c.is_cached for c in caches)
    for c in caches:
        c.unpersist()
    assert not any(c.is_cached for c in caches)


def test_audio_frame_energy_referee(spark):
    # brute-force python referee on tiny ids: frame boundaries, energy,
    # peak, zero crossings all match the closed-form samples
    from omldm_spark.operators.multimodal import (
        AUDIO_HOP, AUDIO_WIN, audio_frame_energy)

    docs = spark.createDataFrame([(1,), (6,)], "doc_id long")
    got = {(r.doc_id, r.frame): (r.n_samples, r.energy_q, r.peak,
                                 r.n_zero_cross)
           for r in audio_frame_energy(docs).collect()}
    for d in (1, 6):
        n = 512 + (d % 7) * 128
        s = [((d * 31 + i * 17) % 256) - 128 for i in range(n + 1)]
        nframes = (n - AUDIO_WIN) // AUDIO_HOP + 1
        for f in range(nframes):
            seg = s[f * AUDIO_HOP: f * AUDIO_HOP + AUDIO_WIN]
            nxt = s[f * AUDIO_HOP + 1: f * AUDIO_HOP + AUDIO_WIN]
            zc = sum(1 for a, b in zip(seg[:-1], nxt) if a * b < 0)
            assert got[(d, f)] == (
                AUDIO_WIN, sum(v * v for v in seg),
                max(abs(v) for v in seg), zc)
        assert {fr for dd, fr in got if dd == d} == set(range(nframes))


def test_plsa_second_round_invariant_and_moves(spark):
    from omldm_spark.operators.lm import plsa_round, plsa_second_round

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i % 5} delta epsilon zeta")
         for i in range(30)],
        "doc_id long, text string")
    a = {(r.topic, r.term): (r.n_hat2_q, r.rank)
         for r in plsa_second_round(docs, k=3, top_n=4).collect()}
    b = {(r.topic, r.term): (r.n_hat2_q, r.rank)
         for r in plsa_second_round(docs.repartition(7), k=3,
                                    top_n=4).collect()}
    assert a == b                       # exact integer EM round 2
    for t in {0, 1, 2}:
        ranks = sorted(rk for (tt, _), (_, rk) in a.items() if tt == t)
        assert ranks == [1, 2, 3, 4]
    # EM moved the factors: round-2 masses differ from round-1 masses
    r1 = {(r.topic, r.term): r.n_hat_q
          for r in plsa_round(docs, k=3, top_n=4).collect()}
    common = set(a) & set(r1)
    assert common
    assert any(a[key][0] != r1[key] for key in common)


def test_char_simpson_planted_extremes(spark):
    from omldm_spark.functions.text import char_simpson_scores

    docs = spark.createDataFrame(
        [(1, "aaaaaaaa"),            # degenerate: collision mass 1e6
         (2, "abcdefgh"),            # all distinct: 1/8 -> 125000
         (3, "aabb"),                # 2*(2/4)^2 -> 500000
         (4, "")],                   # empty: NO row on either engine
        "doc_id long, text string")
    out = {r.doc_id: r for r in char_simpson_scores(docs).collect()}
    assert out[1].simpson_ppm == 1_000_000 and out[1].n_distinct_chars == 1
    assert out[2].simpson_ppm == 125_000
    assert out[3].simpson_ppm == 500_000
    assert out[3].n_chars == 4
    # empty text: Spark sequence(1, 0) REVERSES to [1, 0]; unguarded it
    # fabricated a 2-char row (review r9) — now filtered on both engines
    assert 4 not in out
    # huge flood: the double formula cannot wrap (an int64 sum(c²)·1e6
    # wraps at ~3e6 repeated chars)
    flood = spark.createDataFrame([(9, "z" * 4_000_000)],
                                  "doc_id long, text string")
    r = char_simpson_scores(flood).collect()[0]
    assert r.simpson_ppm == 1_000_000 and r.n_chars == 4_000_000


def test_short_doc_gram_and_frame_guards(spark):
    # r9 sequence-reversal sweep: a 1-word doc must yield NO 2/3-grams
    # (unguarded sequence(1, 0) reversed and fabricated phantom grams),
    # and a 0-frame video must yield NO sampled frames
    from omldm_spark.functions.text import repetition_metrics
    from omldm_spark.operators.multimodal import frame_sample

    docs = spark.createDataFrame(
        [(1, "solo"), (2, "two words"), (3, "three word doc")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_metrics(docs).collect()}
    # no phantom-gram inflation: a 1-word doc has NO 2-gram (None, not a
    # fabricated gram from out-of-range element_at NULLs) and zero
    # gram-mass fractions
    assert out[1].n_words == 1
    assert out[1].top_2gram is None
    assert out[1].top_2gram_frac == 0.0
    assert out[1].dup_2gram_frac == 0.0 and out[1].dup_3gram_frac == 0.0
    assert out[2].top_2gram == "two words"

    media = spark.createDataFrame(
        [("m0", "video", "raw", 8, 8, 0, bytearray(b"x")),
         ("m1", "video", "raw", 8, 8, 4, bytearray(b"y"))],
        "media_id string, kind string, format string, width int,"
        " height int, n_frames int, bytes binary")
    frames = frame_sample(media, every_n=2).collect()
    assert {r.media_id for r in frames} == {"m1"}
    assert sorted(r.frame_idx for r in frames) == [0, 2]


def test_freq_drift_and_ks_referee(spark):
    # python referee on a tiny planted event stream: even epoch-days are
    # the reference window, odd the current; counts/shares/KS gap exact
    import datetime as dt

    from omldm_spark.operators.drift import freq_drift_report, ks_two_sample

    # ASYMMETRIC plant (review r10: a symmetric plant is blind to an
    # a/b window swap) with the window derived from the REAL epoch-day
    # parity, not an assumed day-index parity (2024-01-01 is epoch day
    # 19723 — odd)
    rows = []
    win = {}
    for i in range(40):
        day = i % 3                      # days 0..2 -> UNEQUAL windows
        ts = dt.datetime(2024, 1, 1 + day, 3, 0, 0)
        epoch_day = (dt.datetime(2024, 1, 1 + day, 3)
                     - dt.datetime(1970, 1, 1)).days
        win[i] = epoch_day % 2
        etype = "click" if i % 3 else "error"
        rows.append((i, ts, i % 7, etype, float(i % 5 + day) + 0.25, "{}"))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    assert len({v for v in win.values()}) == 2
    na_ = sum(1 for v in win.values() if v == 0)
    assert na_ != 40 - na_   # the windows must be distinguishable
    na = sum(1 for i in range(40) if win[i] == 0)
    nb = 40 - na
    out = {r.event_type: r for r in freq_drift_report(ev).collect()}
    for et in ("click", "error"):
        a = sum(1 for i in range(40)
                if win[i] == 0 and (("click" if i % 3 else "error") == et))
        b = sum(1 for i in range(40)
                if win[i] == 1 and (("click" if i % 3 else "error") == et))
        r = out[et]
        assert (r.a_cnt, r.b_cnt) == (a, b)
        assert r.a_ppm == a * 1_000_000 // na
        assert r.b_ppm == b * 1_000_000 // nb
        assert r.l1_ppm == abs(r.a_ppm - r.b_ppm)
    ks = ks_two_sample(ev).collect()[0]
    vals_a = sorted(int((i % 5 + (i % 3) + 0.25) * 100 + 0.5)
                    for i in range(40) if win[i] == 0)
    vals_b = sorted(int((i % 5 + (i % 3) + 0.25) * 100 + 0.5)
                    for i in range(40) if win[i] == 1)
    best = (-1, None)
    for v in sorted(set(vals_a) | set(vals_b)):
        ca = sum(1 for x in vals_a if x <= v) * 1_000_000 // len(vals_a)
        cb = sum(1 for x in vals_b if x <= v) * 1_000_000 // len(vals_b)
        d = abs(ca - cb)
        if d > best[0]:
            best = (d, v)
    assert (ks.d_ppm, ks.at_value_cents) == best
    assert (ks.n_a, ks.n_b) == (len(vals_a), len(vals_b))


def test_robust_merge_survives_byzantine(spark):
    # the corrupted mean must move; trimmed mean and median must equal
    # the honest (uncorrupted) referee values per coordinate
    from omldm_spark.operators.federated import (
        BYZANTINE, DIM, N_SPOKES, robust_federated_merge, spoke_gradients,
        topk_sparse_merge)

    li = spark.createDataFrame(
        [(i, (i * 13) % 97, float((i * 7) % 50) + 0.31)
         for i in range(400)],
        "l_orderkey long, l_partkey long, l_extendedprice double")
    honest = {(r.spoke, r.coord): r.g
              for r in spoke_gradients(li, corrupt=False).collect()}
    out = {r.coord: r for r in robust_federated_merge(li).collect()}
    assert set(out) == set(range(DIM))
    import math

    for j in range(DIM):
        vals = sorted(
            honest[(s, j)] + (1000000007 * (j + 1) if s in BYZANTINE else 0)
            for s in range(N_SPOKES))
        assert out[j].mean_q == math.floor(sum(vals) / N_SPOKES)
        assert out[j].trimmed_mean_q == math.floor(sum(vals[2:6]) / 4)
        assert out[j].median_q == math.floor((vals[3] + vals[4]) / 2)
        # robustness: the 2-trimmed stats see no corrupted value (the 2
        # corrupted entries are the 2 largest by construction here)
        hon = sorted(honest[(s, j)] for s in range(N_SPOKES))
        assert vals[2:6] == hon[2:6] or out[j].trimmed_mean_q != out[j].mean_q

    sp = {r.coord: r for r in topk_sparse_merge(li, k=4).collect()}
    for j in range(DIM):
        dense = sum(honest[(s, j)] for s in range(N_SPOKES))
        assert sp[j].dense_sum_q == dense
        kept_total = sum(sp[jj].n_kept_spokes for jj in range(DIM))
    assert kept_total == N_SPOKES * 4


def test_kneser_ney_bigram_referee(spark):
    # brute-force KN referee on a tiny corpus; pins the continuation
    # count ("francisco" frequent but only ever follows "san")
    from collections import Counter

    from omldm_spark.operators.lm import kneser_ney_bigram

    texts = ["san francisco is big", "san francisco fog",
             "san jose is near san francisco", "is big big big"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    bi = Counter()
    for t in texts:
        w = t.split()
        bi.update(zip(w, w[1:]))
    c1 = Counter()
    n1f = Counter()
    n1p = Counter()
    for (w1, w2), c in bi.items():
        c1[w1] += c
        n1f[w1] += 1
        n1p[w2] += 1
    B = len(bi)
    d = 750_000
    got = {(r.w1, r.w2): r for r in
           kneser_ney_bigram(docs, top_n=100).collect()}
    assert set(got) == set(bi)
    for (w1, w2), c in bi.items():
        t1 = max(c * 1_000_000 - d, 0) // c1[w1]
        lam = d * n1f[w1] // c1[w1]
        t2 = lam * (n1p[w2] * 1_000_000 // B) // 1_000_000
        r = got[(w1, w2)]
        assert (r.c12, r.c1, r.n1f, r.n1p) == (c, c1[w1], n1f[w1], n1p[w2])
        assert r.p_kn_ppm == t1 + t2
    # the KN signature: "francisco" has high c12 but continuation 1,
    # so P_KN(francisco | san) leans on term1, and a novel-context
    # bigram with the same MLE but richer continuation scores higher
    assert got[("san", "francisco")].n1p == 1


def test_bradley_terry_round_referee(spark):
    # python referee over the same plant; MM round ranks the planted
    # high-skill players above low-skill ones
    from collections import Counter, defaultdict

    from omldm_spark.operators.preference import bradley_terry_round

    orders = spark.createDataFrame(
        [(k, (k * 37 + 11) % 200) for k in range(600)],
        "o_orderkey long, o_custkey long")
    nij = Counter()
    wins = Counter()
    nmatch = Counter()
    for k in range(600):
        cust = (k * 37 + 11) % 200
        p1, p2 = cust % 16, (cust // 16 + k) % 16
        if p1 == p2:
            continue
        s1, s2 = (p1 * 7 + 3) % 16, (p2 * 7 + 3) % 16
        fav = p1 if s1 > s2 else p2 if s2 > s1 else min(p1, p2)
        dog = p2 if fav == p1 else p1
        w = dog if k % 5 == 0 else fav
        a, b = min(p1, p2), max(p1, p2)
        nij[(a, b)] += 1
        nmatch[p1] += 1
        nmatch[p2] += 1
        wins[w] += 1
    w0 = {p: (wins[p] + 1) * 1_000_000 // (nmatch[p] + 2)
          for p in nmatch}
    dd = defaultdict(int)
    for (a, b), n in nij.items():
        dd[a] += n * 10**12 // (w0[a] + w0[b])
        dd[b] += n * 10**12 // (w0[a] + w0[b])
    out = {r.player: r for r in bradley_terry_round(orders).collect()}
    assert set(out) == set(nmatch)
    for p in nmatch:
        r = out[p]
        assert (r.n_matches, r.n_wins, r.w0_ppm) == (
            nmatch[p], wins[p], w0[p])
        assert r.w1_ppm == wins[p] * 10**12 // dd[p]


def test_cohens_kappa_referee(spark):
    from omldm_spark.operators.preference import cohens_kappa

    rows = [(i, 10 + i) for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, n_chars long")
    a1 = [(10 + i) % 3 for i in range(300)]
    a2 = [((10 + i + 1) % 3 if i % 5 == 0 else (10 + i) % 3)
          for i in range(300)]
    n = 300
    agree = sum(1 for x, y in zip(a1, a2) if x == y)
    po = agree * 1_000_000 // n
    pe = sum((a1.count(k) * 1_000_000 // n)
             * (a2.count(k) * 1_000_000 // n) // 1_000_000
             for k in range(3))
    import math

    kappa = math.floor((po - pe) * 1_000_000 / (1_000_000 - pe))
    r = cohens_kappa(docs).collect()[0]
    assert (r.n, r.n_agree, r.po_ppm, r.pe_ppm, r.kappa_ppm) == (
        n, agree, po, pe, kappa)


def test_bradley_terry_two_rounds_consistency(spark):
    # round-1 strengths in the two-round operator must equal the
    # one-round operator's w1 exactly; round 2 must move and stay
    # positive; the persisted pair matrix is released via cache_out
    from omldm_spark.operators.preference import (
        bradley_terry_round, bradley_terry_two_rounds)

    orders = spark.createDataFrame(
        [(k, (k * 37 + 11) % 200) for k in range(600)],
        "o_orderkey long, o_custkey long")
    one = {r.player: r.w1_ppm
           for r in bradley_terry_round(orders).collect()}
    caches: list = []
    rows = bradley_terry_two_rounds(orders, cache_out=caches).collect()
    two = {r.player: r for r in rows}
    assert set(two) == set(one)
    for p, r in two.items():
        assert r.w1_ppm == one[p]
        assert r.w2_ppm > 0
    assert any(r.w2_ppm != r.w1_ppm for r in rows)
    assert len(caches) == 1 and caches[0].is_cached
    caches[0].unpersist()


def test_streaming_freq_drift_matches_batch(spark, tmp_path):
    # the IVM fold over shuffled micro-batches reproduces the one-shot
    # batch report exactly (counts are additive)
    import datetime as dt

    from omldm_spark.operators.drift import (freq_drift_counts,
                                             freq_drift_from_counts,
                                             freq_drift_report)

    rows = []
    for i in range(60):
        ts = dt.datetime(2024, 1, 1 + (i % 5), 2 + i % 7, 0, 0)
        rows.append((i, ts, i % 9, ["click", "view", "error"][i % 3],
                     float(i % 4), "{}"))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    batch = {r.event_type: r for r in freq_drift_report(ev).collect()}
    # simulate the fold: three arbitrary batches
    state = None
    from pyspark.sql import functions as F

    for lo, hi in ((40, 60), (0, 25), (25, 40)):
        part = ev.where(f"event_id >= {lo} AND event_id < {hi}")
        cnt = freq_drift_counts(part)
        state = cnt if state is None else (
            state.unionByName(cnt).groupBy("event_type").agg(
                F.sum("a_cnt").cast("long").alias("a_cnt"),
                F.sum("b_cnt").cast("long").alias("b_cnt")))
    inc = {r.event_type: r for r in freq_drift_from_counts(state).collect()}
    assert set(inc) == set(batch)
    for et in batch:
        assert tuple(inc[et]) == tuple(batch[et])


def test_video_shot_boundaries_referee(spark):
    from omldm_spark.operators.multimodal import (SHOT_LUMA_TAU,
                                                  video_shot_boundaries)

    docs = spark.createDataFrame([(d,) for d in range(12)], "doc_id long")
    out = {r.doc_id: r for r in video_shot_boundaries(docs).collect()}
    for d in range(12):
        nf = 24 + (d % 5) * 8
        luma = [((d * 37 + f * f * 11) % 200) + 20 for f in range(nf)]
        cuts = [f for f in range(1, nf)
                if abs(luma[f] - luma[f - 1]) > SHOT_LUMA_TAU]
        r = out[d]
        assert r.n_frames == nf
        assert r.n_shots == len(cuts) + 1
        assert r.first_boundary_frame == (min(cuts) if cuts else None)
        assert r.mean_shot_len_ppm == nf * 1_000_000 // (len(cuts) + 1)


def test_audio_silence_segments_referee(spark):
    from omldm_spark.operators.multimodal import (AUDIO_HOP, AUDIO_WIN,
                                                  SILENCE_TAU,
                                                  audio_silence_segments)

    docs = spark.createDataFrame([(d,) for d in range(8)], "doc_id long")
    out = {r.doc_id: r for r in audio_silence_segments(docs).collect()}
    for d in range(8):
        n = 512 + (d % 7) * 128
        nframes = (n - AUDIO_WIN) // AUDIO_HOP + 1
        quiet = []
        for f in range(nframes):
            e = sum((((d * 31 + (f * AUDIO_HOP + j) * 17) % 256) - 128) ** 2
                    for j in range(AUDIO_WIN))
            quiet.append(e < SILENCE_TAU)
        runs = []
        cur = 0
        for q in quiet:
            if q:
                cur += 1
            elif cur:
                runs.append(cur)
                cur = 0
        if cur:
            runs.append(cur)
        r = out[d]
        assert r.n_frames == nframes
        assert r.n_quiet_frames == sum(quiet)
        assert r.n_segments == len(runs)
        assert r.longest_run == (max(runs) if runs else 0)


def test_source_loo_value_referee(spark):
    # planted two-source corpus where one source is pure junk: its LOO
    # delta must be positive (removing it raises corpus quality) and
    # every counterfactual matches the brute-force recomputation
    from omldm_spark.operators.quality import source_loo_value

    passing = ("the quick brown foxes jumps sunny rivers stone hills "
               "green lakes windy grass cloud birds trees roads table "
               "chair plant water sound light nights")
    good = [(i, passing, "good") for i in range(20)]
    junk = [(100 + i, "x", "junk") for i in range(10)]
    docs = spark.createDataFrame(
        good + junk, "doc_id long, text string, source string")
    out = {r.source: r for r in source_loo_value(docs).collect()}
    n, k = 30, out["good"].n_pass + out["junk"].n_pass
    assert out["junk"].n_pass == 0 and out["good"].n_pass > 0
    for s, r in out.items():
        assert r.pass_ppm == k * 1_000_000 // n
        loo = (k - r.n_pass) * 1_000_000 // (n - r.n_docs)
        assert r.loo_pass_ppm == loo
        assert r.loo_delta_ppm == loo - r.pass_ppm
    assert out["junk"].loo_delta_ppm > 0
    assert out["good"].loo_delta_ppm < 0
    # single-source corpus: the counterfactual is NULL, not a crash
    solo = source_loo_value(
        spark.createDataFrame(good, "doc_id long, text string, "
                              "source string")).collect()
    assert len(solo) == 1 and solo[0].loo_pass_ppm is None


def test_kn_heldout_backoff_ladder(spark):
    # plants a held-out doc that exercises all three backoff branches
    # and pins each against a python referee
    from collections import Counter

    from omldm_spark.operators.lm import kn_heldout_scores

    train = [(0, "alpha beta gamma"), (2, "alpha beta delta"),
             (4, "beta gamma alpha")]
    # held-out doc 1: "alpha beta" (seen bigram), "beta zeta" (seen
    # history, unseen bigram with UNSEEN w2), "zeta gamma" (unseen
    # history, seen continuation)
    held = [(1, "alpha beta zeta gamma")]
    docs = spark.createDataFrame(train + held, "doc_id long, text string")
    bi = Counter()
    for _, t in train:
        w = t.split()
        bi.update(zip(w, w[1:]))
    c1, n1f, n1p = Counter(), Counter(), Counter()
    for (w1, w2), c in bi.items():
        c1[w1] += c
        n1f[w1] += 1
        n1p[w2] += 1
    B = len(bi)
    d = 750_000

    def p(w1, w2):
        if c1[w1] == 0:
            return n1p[w2] * 1_000_000 // B
        t1 = max(bi[(w1, w2)] * 1_000_000 - d, 0) // c1[w1]
        lam = d * n1f[w1] // c1[w1]
        return t1 + lam * (n1p[w2] * 1_000_000 // B) // 1_000_000
    hw = held[0][1].split()
    expect = sum(p(a, b) for a, b in zip(hw, hw[1:]))
    caches: list = []
    out = {r.doc_id: r for r in
           kn_heldout_scores(docs, cache_out=caches).collect()}
    assert set(out) == {1}
    r = out[1]
    assert r.n_bigrams == 3
    assert r.q_score == expect
    assert r.n_unseen_bigrams == 2      # beta-zeta and zeta-gamma
    assert r.n_oov_histories == 1       # zeta
    assert p("zeta", "gamma") > 0       # continuation backoff is live
    assert len(caches) == 1 and caches[0].is_cached
    caches[0].unpersist()


def test_louvain_first_pass_referee(spark):
    # two planted cliques joined by one weak bridge: every vertex must
    # join a same-clique neighbor, gains must match the brute force,
    # and the modularity contributions must sum to the exact Q
    from omldm_spark.operators.graph import (louvain_first_pass,
                                             louvain_modularity_report)

    # clique A = {0,1,2} (w=5 each pair), clique B = {10,11,12} (w=5),
    # bridge 2-10 (w=1)
    E = [(0, 1, 5), (0, 2, 5), (1, 2, 5),
         (10, 11, 5), (10, 12, 5), (11, 12, 5), (2, 10, 1)]
    edges = spark.createDataFrame(E, "a long, b long, w long")
    adj = {}
    for a, b, w in E:
        adj.setdefault(a, {})[b] = w
        adj.setdefault(b, {})[a] = w
    k = {v: sum(nb.values()) for v, nb in adj.items()}
    W = sum(k.values())
    out = {r.item: r for r in louvain_first_pass(edges).collect()}
    for v, nb in adj.items():
        best = max(nb, key=lambda j: (nb[j] * W - k[v] * k[j], -j))
        gains = {j: nb[j] * W - k[v] * k[j] for j in nb}
        bg = max(gains.values())
        cands = sorted(j for j in nb if gains[j] == bg)
        want = cands[0] if bg > 0 else v
        assert out[v].community == want
        assert out[v].gain_q == bg
        # same-clique attraction: the chosen community is in-clique
        if bg > 0:
            assert (v < 5) == (want < 5)
    rep = louvain_modularity_report(edges).collect()
    # exact Q for the assignment, python referee
    lab = {v: out[v].community for v in adj}
    comms = set(lab.values())
    q = 0
    for c in comms:
        in_w = sum(w for a, b, w in E if lab[a] == c and lab[b] == c)
        tot = sum(k[v] for v in adj if lab[v] == c)
        q += 2 * in_w * 10**6 // W - (tot * 10**6 // W) ** 2 // 10**6
    assert sum(r.q_contrib_ppm for r in rep) == q
    assert all(r.in_w > 0 for r in rep if r.n_items > 1)


def test_louvain_second_pass_merges_planted_hierarchy(spark):
    """Two-level plant: four triangles (w=5 in-clique); triangle pairs
    (A,B) and (C,D) are joined by medium bridges (w=3), the pairs by
    one weak bridge (w=1).  Pass 1 collapses each triangle; pass 2
    must merge the two triangles WITHIN a bridge pair and must never
    merge across the weak bridge.  Every item keeps its pass-1 label
    in community_l1 (the lv frame passes through unmodified)."""
    from omldm_spark.operators.graph import (louvain_first_pass,
                                             louvain_second_pass)

    tri = lambda base: [(base, base + 1, 5), (base, base + 2, 5),
                        (base + 1, base + 2, 5)]
    E = (tri(0) + tri(10) + tri(20) + tri(30)
         + [(2, 10, 3), (22, 30, 3), (12, 20, 1)])
    edges = spark.createDataFrame(E, "a long, b long, w long")
    lv1 = {r.item: r.community
           for r in louvain_first_pass(edges).collect()}
    out = {r.item: r for r in louvain_second_pass(edges).collect()}
    assert {v: r.community_l1 for v, r in out.items()} == lv1

    # brute-force referee of the level-2 move: aggregated inter-
    # community weights, member-degree-sum super-degrees, same gain
    k = {}
    for a, b, w in E:
        k[a] = k.get(a, 0) + w
        k[b] = k.get(b, 0) + w
    W = sum(k.values())
    inter: dict[tuple, int] = {}
    for a, b, w in E:
        ca, cb = lv1[a], lv1[b]
        if ca != cb:
            key = (min(ca, cb), max(ca, cb))
            inter[key] = inter.get(key, 0) + w
    k2: dict[int, int] = {}
    for v, c in lv1.items():
        k2[c] = k2.get(c, 0) + k[v]
    want = {}
    for c in set(lv1.values()):
        nb = {(d if a == c else a): w
              for (a, d), w in inter.items() if c in (a, d)}
        if not nb:
            want[c] = c
            continue
        gains = {j: w * W - k2[c] * k2[j] for j, w in nb.items()}
        bg = max(gains.values())
        best = min(j for j in gains if gains[j] == bg)
        # min-ward symmetry breaking: move only toward a smaller id
        want[c] = best if (bg > 0 and best < c) else c
    # chain suppression: a move stands only if its target is a
    # fixpoint this pass (otherwise c would relabel to an id whose
    # own members left — a phantom merge)
    want = {c: (d if want.get(d, d) == d else c) for c, d in want.items()}
    for v in lv1:
        assert out[v].community_l2 == want[lv1[v]], (v, lv1[v])
    # the WEAK bridge never wins: no pass-1 community on the A/B side
    # moves to a C/D-side community (pass-1 labels stay on their side)
    side = lambda c: c < 15
    for c, c2 in want.items():
        assert side(c) == side(c2)
    # genuine coarsening: the level-2 label count strictly shrinks and
    # no mutual pair merely swapped (every moved-to label is a fixpoint)
    l2 = {want[c] for c in set(lv1.values())}
    assert len(l2) < len(set(lv1.values()))
    for c, d in want.items():
        if d != c:
            # every moved-to label is a FIXPOINT: no swaps (min-ward)
            # and no chains (suppression) — the merge is real
            assert want.get(d, d) == d, (c, d)
            assert d < c


def test_louvain_second_pass_suppresses_chained_moves(spark):
    """Planted chain (review r12): a dense 8-vertex graph whose pass-1
    communities produce c -> d while d -> e in the same level-2 pass.
    Without suppression c's members would be relabeled to d — an id
    whose own members left (a phantom merge).  The fix keeps c in
    place (its move waits for the next pass) while d genuinely merges
    into the stationary e.  The referee recomputes min-ward moves from
    Spark's own pass-1 labels, asserts the chain EXISTS pre-
    suppression (so the plant stays relevant), then pins the
    suppressed fixpoint-only output."""
    from omldm_spark.operators.graph import (louvain_first_pass,
                                             louvain_second_pass)

    E = [(0, 1, 1), (0, 3, 6), (0, 4, 6), (1, 3, 4), (1, 5, 4),
         (1, 6, 5), (1, 7, 1), (2, 3, 3), (2, 4, 2), (2, 5, 4),
         (2, 6, 4), (2, 7, 3), (3, 7, 4), (4, 7, 2), (5, 6, 2),
         (5, 7, 6), (6, 7, 4)]
    edges = spark.createDataFrame(E, "a long, b long, w long")
    lv1 = {r.item: r.community
           for r in louvain_first_pass(edges).collect()}
    k: dict[int, int] = {}
    for a, b, w in E:
        k[a] = k.get(a, 0) + w
        k[b] = k.get(b, 0) + w
    W = sum(k.values())
    inter: dict[tuple, int] = {}
    for a, b, w in E:
        ca, cb = lv1[a], lv1[b]
        if ca != cb:
            key = (min(ca, cb), max(ca, cb))
            inter[key] = inter.get(key, 0) + w
    k2: dict[int, int] = {}
    for v, c in lv1.items():
        k2[c] = k2.get(c, 0) + k[v]
    raw = {}
    for c in set(lv1.values()):
        nb = {(d if a == c else a): w
              for (a, d), w in inter.items() if c in (a, d)}
        if not nb:
            raw[c] = c
            continue
        gains = {j: w * W - k2[c] * k2[j] for j, w in nb.items()}
        bg = max(gains.values())
        best = min(j for j in gains if gains[j] == bg)
        raw[c] = best if (bg > 0 and best < c) else c
    # the plant must actually contain a chain pre-suppression
    assert any(d != c and raw.get(d, d) != d for c, d in raw.items()), raw
    want = {c: (d if raw.get(d, d) == d else c) for c, d in raw.items()}
    out = {r.item: r for r in louvain_second_pass(edges).collect()}
    for v in lv1:
        assert out[v].community_l2 == want[lv1[v]], (v, lv1[v])
    used = {r.community_l2 for r in out.values()}
    l2_of = {r.community_l1: r.community_l2 for r in out.values()}
    for lbl in used:
        assert l2_of.get(lbl, lbl) == lbl, lbl


def test_cox_newton_step_referee(spark):
    # lifelines-free brute-force referee: exact U(0), I(0), beta1 under
    # the Breslow convention on a planted cohort where larger x dies
    # earlier (beta1 must be negative... sign: higher hazard for larger
    # x => positive beta in the hazard; at beta=0 the score U sums
    # (x_death - mean risk x): early deaths with high x give U > 0)
    import math

    from omldm_spark.operators.survival import cox_newton_step

    rows = [(2, 1, 9), (3, 1, 8), (5, 1, 5), (5, 0, 4), (8, 1, 2),
            (9, 0, 3), (12, 1, 1), (12, 1, 2), (15, 0, 1)]
    obs = spark.createDataFrame(rows, "dur long, death long, x long")
    times = sorted({d for d, e, x in rows if e})
    U = I = 0
    for t in times:
        risk = [x for d, e, x in rows if d >= t]
        deaths = [(e, x) for d, e, x in rows if d == t and e]
        dcnt = len(deaths)
        sxd = sum(x for _, x in deaths)
        n_r, sx_r, sxx_r = (len(risk), sum(risk),
                            sum(x * x for x in risk))
        mean = sx_r / n_r
        U += math.floor((sxd - dcnt * mean) * 1e6 + 0.5)
        I += math.floor(dcnt * (sxx_r / n_r - mean * mean) * 1e6 + 0.5)
    beta = math.floor(U * 1_000_000 / I)
    r = cox_newton_step(obs, "dur", "death", "x").collect()[0]
    assert (r.n_obs, r.n_deaths) == (9, 6)
    assert (r.u_ppm, r.i_ppm, r.beta1_ppm) == (U, I, beta)
    assert r.u_ppm > 0  # high-x observations die early in this plant


def test_ipw_ate_matches_referee(spark):
    # hand-built cells referee over the same plant at tiny scale
    from omldm_spark.queries import QUERIES

    out = QUERIES["ipw_ate_report"](spark,
                                    "/root/testdata/sf0.001").collect()
    rows = {r.stratum: r for r in out}
    assert -1 in rows and rows[-1].ate_ppm is not None
    for s, r in rows.items():
        if s != -1:
            assert 0 < r.e_ppm < 1_000_000
            assert r.ate_ppm is None


def test_ngram_novelty_first_batch_all_novel(spark):
    # batch 0 contains the corpus's very first occurrence of each of
    # its bigrams... not in general; pin instead: a bigram unique to
    # one batch is fully novel there, and novelty sums bound totals
    from omldm_spark.operators.lm import ngram_novelty_by_batch

    docs = spark.createDataFrame(
        [(0, "alpha beta alpha beta"),     # batch 0
         (1, "alpha beta gamma"),          # batch 1: 'beta gamma' novel
         (2, "unique pair here"),          # batch 2: all novel
         (8, "alpha beta")],               # batch 0 again
        "doc_id long, text string")
    caches: list = []
    out = {r.batch: r for r in
           ngram_novelty_by_batch(docs, n_batches=8,
                                  cache_out=caches).collect()}
    # batch 2's bigrams appear nowhere else -> fully novel
    assert out[2].novel_ppm == 1_000_000
    # batch 0 owns 'alpha beta' (min batch) -> fully novel there too
    assert out[0].novel_occurrences == out[0].n_occurrences
    # batch 1: 'alpha beta' first seen in batch 0, 'beta gamma' novel
    assert out[1].n_occurrences == 2
    assert out[1].novel_occurrences == 1
    assert out[1].novel_ppm == 500_000
    for r in out.values():
        assert 0 <= r.novel_occurrences <= r.n_occurrences
        assert 0 <= r.novel_types <= r.n_types
    assert caches and caches[0].is_cached
    caches[0].unpersist()


def test_roc_points_referee(spark):
    # brute-force referee: every threshold's TP/FP + monotone curve,
    # and consistency with auc_exact's endpoint totals
    from omldm_spark.operators.evaluation import auc_exact, roc_points
    from pyspark.sql import functions as F

    rows = [(0.9, 1), (0.8, 1), (0.8, 0), (0.6, 1), (0.5, 0),
            (0.4, 0), (0.3, 1), (0.2, 0), (0.2, 0), (0.1, 0)]
    df = spark.createDataFrame(rows, "score double, y long")
    pts = {r.threshold_q: r for r in
           roc_points(df, F.col("y") == 1, "score").collect()}
    sq = lambda s: round(s * 100)
    for t in sorted({sq(s) for s, _ in rows}):
        tp = sum(1 for s, y in rows if sq(s) >= t and y)
        fp = sum(1 for s, y in rows if sq(s) >= t and not y)
        r = pts[t]
        assert (r.tp, r.fp) == (tp, fp)
        assert r.tpr_ppm == tp * 1_000_000 // 4
        assert r.fpr_ppm == fp * 1_000_000 // 6
    # curve is monotone non-increasing in threshold order
    ordered = [pts[t] for t in sorted(pts)]
    assert all(a.tp >= b.tp and a.fp >= b.fp
               for a, b in zip(ordered, ordered[1:]))
    a = auc_exact(df, F.col("y") == 1, "score").collect()[0]
    assert (a.n_pos, a.n_neg) == (4, 6)


def test_pr_points_referee(spark):
    from omldm_spark.operators.evaluation import pr_points
    from pyspark.sql import functions as F

    rows = [(0.9, 1), (0.8, 1), (0.8, 0), (0.6, 1), (0.5, 0),
            (0.4, 0), (0.3, 1), (0.2, 0), (0.2, 0), (0.1, 0)]
    df = spark.createDataFrame(rows, "score double, y long")
    pts = {r.threshold_q: r for r in
           pr_points(df, F.col("y") == 1, "score").collect()}
    sq = lambda s: round(s * 100)
    for t in sorted({sq(s) for s, _ in rows}):
        tp = sum(1 for s, y in rows if sq(s) >= t and y)
        fp = sum(1 for s, y in rows if sq(s) >= t and not y)
        r = pts[t]
        assert r.precision_ppm == tp * 1_000_000 // (tp + fp)
        assert r.recall_ppm == tp * 1_000_000 // 4
    # at the lowest threshold everything is predicted positive:
    # recall = 1, precision = base rate
    lo = pts[min(pts)]
    assert lo.recall_ppm == 1_000_000
    assert lo.precision_ppm == 400_000


def test_draft_acceptance_planted_referee(spark):
    """Hand-computable corpus: a fully self-predictable source accepts
    every transition, a source whose continuations lose the global
    argmax accepts none, and the draft tie-break is the
    lexicographically SMALLEST next token."""
    from omldm_spark.operators.lm import draft_acceptance_by_source

    docs = spark.createDataFrame(
        [(1, "x y x y x y", "s1"),       # x->y *3, y->x *2
         (2, "x z", "s2"),               # x->z loses to x->y
         (3, "q b q a", "s3"),           # q->b, b->q, q->a: tie q->a|b
         (4, "q a", "s3")],              # breaks the q tie toward 'a'
        "doc_id long, text string, source string")
    rows = {r["source"]: r for r in
            draft_acceptance_by_source(docs).collect()}
    assert rows["s1"]["n_transitions"] == 5
    assert rows["s1"]["n_accepted"] == 5
    assert rows["s1"]["accept_ppm"] == 1_000_000
    assert rows["s2"]["n_accepted"] == 0
    # s3: q->b 1, b->q 1, q->a 2 over both docs -> draft(q)=a (count 2),
    # draft(b)=q; accepted: q->a (2) + b->q (1) = 3 of 4
    assert rows["s3"]["n_transitions"] == 4
    assert rows["s3"]["n_accepted"] == 3
    # tie-break referee: equal counts pick the smaller token
    tie = spark.createDataFrame(
        [(1, "k a k b", "t1"), (2, "k b k a", "t1")],
        "doc_id long, text string, source string")
    r = draft_acceptance_by_source(tie).collect()[0]
    # transitions: k->a 2, k->b 2, a->k 1, b->k 1; draft(k)='a'
    assert r["n_transitions"] == 6 and r["n_accepted"] == 4


def test_tokenizer_fertility_hand_counts(spark):
    """Counting referee on one hand doc: 'Hello, world!' = 13 chars,
    2 whitespace tokens, 4 subwords (hello , world !) -> fertility
    2.0, compression 3.25; empty-text cell yields NULL ratios."""
    from omldm_spark.operators.lm import tokenizer_fertility_report

    docs = spark.createDataFrame(
        [(1, "Hello, world!", "en", "a", 13),
         (2, "   ", "zz", "b", 3)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
    rows = {(r["lang"], r["source"]): r
            for r in tokenizer_fertility_report(docs).collect()}
    en = rows[("en", "a")]
    assert (en["n_chars"], en["n_ws_tokens"], en["n_subwords"]) == (13, 2, 4)
    assert en["fertility_ppm"] == 2_000_000
    assert en["compression_ppm"] == 3_250_000
    zz = rows[("zz", "b")]
    assert zz["n_ws_tokens"] == 0
    assert zz["fertility_ppm"] is None and zz["compression_ppm"] is None


def test_best_of_n_curve_planted_referee(spark):
    """Two hand groups: best(n) takes the max type-token ratio among
    the first n candidates in doc_id order, short groups use all their
    candidates, and the curve is monotone non-decreasing in n."""
    from omldm_spark.operators.preference import best_of_n_curve

    docs = spark.createDataFrame(
        [(1, "a a a a", "en", "g1"),   # ttr 0.25
         (2, "a b", "en", "g1"),       # ttr 1.0
         (3, "a a b", "en", "g1"),     # ttr 2/3
         (4, "c", "en", "g1"),         # ttr 1.0
         (9, "a a", "fr", "g2")],      # single candidate, ttr 0.5
        "doc_id long, text string, lang string, source string")
    rows = {r["n"]: r for r in best_of_n_curve(docs).collect()}
    assert all(rows[n]["n_groups"] == 2 for n in (1, 2, 4, 8))
    assert rows[1]["mean_best_ppm"] == (250_000 + 500_000) // 2
    assert rows[2]["mean_best_ppm"] == (1_000_000 + 500_000) // 2
    assert rows[4]["mean_best_ppm"] == rows[8]["mean_best_ppm"] \
        == (1_000_000 + 500_000) // 2
    means = [rows[n]["mean_best_ppm"] for n in (1, 2, 4, 8)]
    assert means == sorted(means)


def test_shapley_attribution_hand_game(spark):
    """Hand-computed two-channel game: v(∅)=1, v({c})=v({v})=2,
    v(N)=4 gives φ·2! = 3 for both channels and 500000 ppm shares;
    post-purchase touches are excluded and non-converters contribute
    channels but no coalitions.  Efficiency: Σφ·n! = n!·(v(N)-v(∅))."""
    import datetime as dt

    from omldm_spark.operators.attribution import shapley_attribution

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, u, typ, mins):
        return (i, t0 + dt.timedelta(minutes=mins), u, typ)

    rows = [
        ev(1, 1, "click", 0), ev(2, 1, "purchase", 1),
        ev(3, 2, "view", 0), ev(4, 2, "purchase", 1),
        ev(5, 3, "click", 0), ev(6, 3, "view", 1),
        ev(7, 3, "purchase", 2),
        ev(8, 4, "purchase", 0),
        ev(9, 5, "click", 0),                       # never converts
        ev(10, 6, "purchase", 0), ev(11, 6, "click", 1),  # post-purchase
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string")
    out = {r["channel"]: r for r in shapley_attribution(events).collect()}
    assert set(out) == {"click", "view"}
    for ch in ("click", "view"):
        r = out[ch]
        assert (r["n_channels"], r["n_fact"]) == (2, 2)
        assert (r["v_empty"], r["v_all"]) == (2, 5)
        # v(∅)=2 (u4, u6), v({c})=3, v({v})=3, v(N)=5:
        # φ·2! = (3-2) + (5-3) = 3 for both, share 3/(2*3)=0.5
        assert r["phi_numer"] == 3
        assert r["phi_share_ppm"] == 500_000
    total = sum(r["phi_numer"] for r in out.values())
    r0 = next(iter(out.values()))
    assert total == r0["n_fact"] * (r0["v_all"] - r0["v_empty"])


def test_shapley_attribution_asymmetric_and_monotone(spark):
    """Asymmetric reach: channel a reaches 2 of 3 conversions alone,
    b reaches 1 — φ_a·2! = 4, φ_b·2! = 2, and all marginals are
    non-negative (monotone v)."""
    import datetime as dt

    from omldm_spark.operators.attribution import shapley_attribution

    t0 = dt.datetime(2024, 1, 1)
    rows, i = [], 0

    def add(u, typ, mins):
        nonlocal i
        i += 1
        rows.append((i, t0 + dt.timedelta(minutes=mins), u, typ))

    add(1, "a", 0); add(1, "purchase", 1)
    add(2, "a", 0); add(2, "purchase", 1)
    add(3, "b", 0); add(3, "purchase", 1)
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string")
    out = {r["channel"]: r for r in shapley_attribution(events).collect()}
    assert out["a"]["phi_numer"] == 4
    assert out["b"]["phi_numer"] == 2
    assert all(r["phi_numer"] >= 0 for r in out.values())


def test_source_shapley_brute_force_referee(spark):
    """Three planted sources (two clean, one junk): φ must match the
    brute-force permutation average over the quantized game, the junk
    source must be NEGATIVE (the signal LOO can dilute), and the
    efficiency identity Σφ·n! = n!·v(N) must hold exactly."""
    from itertools import permutations

    from omldm_spark.operators.quality import source_shapley_value

    passing = ("the quick brown foxes jumps sunny rivers stone hills "
               "green lakes windy grass cloud birds trees roads table "
               "chair plant water sound light nights")
    docs = spark.createDataFrame(
        [(i, passing, "good_a") for i in range(10)]
        + [(100 + i, passing, "good_b") for i in range(8)]
        + [(200 + i, "x", "junk") for i in range(6)],
        "doc_id long, text string, source string")
    out = {r.player: r for r in source_shapley_value(docs).collect()}
    assert set(out) == {"good_a", "good_b", "junk"}
    stats = {p: (out[p].n_docs, out[p].n_pass) for p in out}

    def v(S):
        dd = sum(stats[p][0] for p in S)
        pp = sum(stats[p][1] for p in S)
        return 0 if dd == 0 else pp * 1_000_000 // dd

    players = sorted(stats)
    nfact = 6
    for p in players:
        phi = 0
        for perm in permutations(players):
            pre = perm[:perm.index(p)]
            phi += v(set(pre) | {p}) - v(set(pre))
        assert out[p].phi_numer == phi, p
        assert out[p].shapley_ppm == phi // nfact  # floor, signed
    assert out["junk"].phi_numer < 0
    assert out["good_a"].phi_numer > 0
    assert sum(r.phi_numer for r in out.values()) \
        == nfact * v(set(players))


def test_shapley_channel_bound_raises_loudly(spark):
    """ADVICE r10 (medium): the MAX_CHANNELS guard must live on a
    CONSUMED expression — the old projected-then-dropped assert_true
    was pruned by Catalyst, so 13 channels yielded silent NULLs and 14+
    a silently WRONG sum.  Both overflow counts must now raise on
    evaluation, and the DuckDB oracle must raise too."""
    import datetime as dt

    import duckdb
    import pytest

    from omldm_spark.operators.attribution import (SHAPLEY_SQL,
                                                   shapley_attribution)

    t0 = dt.datetime(2024, 1, 1)
    for nch in (13, 14):
        rows = [(i, t0 + dt.timedelta(minutes=i), 1, f"ch{i:02d}")
                for i in range(nch)]
        rows.append((99, t0 + dt.timedelta(minutes=99), 1, "purchase"))
        events = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string")
        with pytest.raises(Exception, match="more than 12 channels"):
            shapley_attribution(events).collect()
        con = duckdb.connect()
        con.register("events", events.toPandas())
        with pytest.raises(Exception, match="more than 12 channels"):
            con.execute(SHAPLEY_SQL("events")).fetchall()
        con.close()
    # at exactly 12 the guard passes through untouched
    rows = [(i, t0 + dt.timedelta(minutes=i), 1, f"ch{i:02d}")
            for i in range(12)]
    rows.append((99, t0 + dt.timedelta(minutes=99), 1, "purchase"))
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string")
    out = shapley_attribution(events).collect()
    assert len(out) == 12
    assert all(r["n_fact"] == 479001600 for r in out)


def test_doremi_round_upweights_lossy_domain(spark):
    """Planted mixture: a fully repetitive domain (λ=750000) must end
    with a strictly larger weight than a zero-repetition domain under
    one MW round; weights normalize to ~1e6 (floor slack < K) and the
    ε-smoothing pulls both toward uniform by exactly the documented
    blend."""
    from omldm_spark.operators.corpus import (
        DOREMI_EPS_PPM, doremi_weight_round)

    docs = spark.createDataFrame(
        [(1, "a a a a", "rep"), (2, "b b b b", "rep"),
         (3, "w x y z", "fresh"), (4, "p q r s", "fresh")],
        "doc_id long, text string, source string")
    out = {r["source"]: r for r in doremi_weight_round(docs).collect()}
    assert out["rep"]["lam_ppm"] == 750_000
    assert out["fresh"]["lam_ppm"] == 0
    assert out["rep"]["w1_ppm"] > out["fresh"]["w1_ppm"]
    s = out["rep"]["w1_ppm"] + out["fresh"]["w1_ppm"]
    assert 1_000_000 - 2 <= s <= 1_000_000
    for r in out.values():
        exp = ((1_000_000 - DOREMI_EPS_PPM) * r["w1_ppm"]
               + DOREMI_EPS_PPM * 500_000) // 1_000_000
        assert r["w_ppm"] == exp


def test_adam_hub_rounds_matches_python_recurrence(spark):
    """The two-step Adam state and µ-updates match a Python mirror of
    the exact integer recurrences on a tiny planted fact frame, and the
    t=1 update is lr-bounded (|upd| <= lr·(1+ε-slack) in µ-units — the
    well-known |Δ| <~ lr property of bias-corrected Adam's first
    step)."""
    import math

    from omldm_spark.operators.federated import DIM, adam_hub_rounds

    rows = [(ok, pk, ep) for ok, pk, ep in [
        (0, 3, 7100000.0), (1, 5, 12000000.0), (2, 11, 8750000.5),
        (3, 2, 21420000.0), (4, 9, 3000300.3), (5, 1, 9999999.99)]]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_extendedprice double")
    out = {r["coord"]: r for r in adam_hub_rounds(li).collect()}
    assert set(out) == set(range(DIM))

    def fdiv(a, b):
        return math.floor(a / b)

    for j in range(DIM):
        g1 = sum(round(ep * 100) * (((pk + 3 * j) % 7) - 3)
                 for ok, pk, ep in rows if ok % 2 == 0)
        g2 = sum(round(ep * 100) * (((pk + 3 * j) % 7) - 3)
                 for ok, pk, ep in rows if ok % 2 == 1)
        g1u, g2u = fdiv(g1, 10**6), fdiv(g2, 10**6)
        m1, v1 = fdiv(g1u, 10), fdiv(g1u * g1u, 1000)
        m2 = fdiv(9 * m1 + g2u, 10)
        v2 = fdiv(999 * v1 + g2u * g2u, 1000)
        r = out[j]
        assert (r["g1_u"], r["g2_u"]) == (g1u, g2u)
        assert (r["m2_u"], r["v2_u"]) == (m2, v2)
        u1 = math.floor(1000.0 * (10 * m1)
                        / (math.sqrt(1000 * v1) + 1e-8))
        u2 = math.floor(1000.0 * fdiv(100 * m2, 19)
                        / (math.sqrt(fdiv(1000000 * v2, 1999)) + 1e-8))
        assert (r["upd1_micro"], r["upd2_micro"]) == (u1, u2)
        if abs(g1u) >= 1000:
            # floor slack: |m̂| <= |g1u|+9, v̂ >= g1u²-999, so the
            # ratio is < 1.0095 for |g1u| >= 1000 -> bound 1010 µ
            assert abs(r["upd1_micro"]) <= 1010


def test_ccnet_buckets_are_ordered_terciles(spark):
    """Structural referee on real data: every language gets buckets
    1..3 with sizes differing by at most one, and the score ranges are
    ordered head >= middle >= tail (min of bucket k >= max of bucket
    k+1 up to the shared boundary value)."""
    from omldm_spark.io import load_table
    from omldm_spark.operators.lm import ccnet_perplexity_buckets

    docs = load_table(spark, SF_DIR, "documents")
    rows = ccnet_perplexity_buckets(docs).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    for lang, b in by_lang.items():
        assert set(b) == {1, 2, 3}
        sizes = [b[k]["n_docs"] for k in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1
        assert b[1]["min_score_ppm"] >= b[2]["max_score_ppm"]
        assert b[2]["min_score_ppm"] >= b[3]["max_score_ppm"]
        assert b[1]["mean_score_ppm"] >= b[3]["mean_score_ppm"]


def test_clipped_merge_limits(spark):
    """Clip semantics at the two extremes: an effectively infinite
    clip leaves the merge untouched (0 clipped spokes, clipped == raw);
    a unit clip rescales every spoke to norm <= 1, so each coordinate's
    clipped sum is bounded by the spoke count."""
    from omldm_spark.io import load_table
    from omldm_spark.operators.federated import (
        N_SPOKES, clipped_merge_report)

    li = load_table(spark, SF_DIR, "lineitem")
    loose = clipped_merge_report(li, clip_q=10**17).collect()
    assert all(r["n_clipped_spokes"] == 0 for r in loose)
    assert all(r["clipped_sum_u"] == r["raw_sum_u"] for r in loose)
    tight = clipped_merge_report(li, clip_q=10**6).collect()
    assert all(r["n_clipped_spokes"] == N_SPOKES for r in tight)
    assert all(abs(r["clipped_sum_u"]) <= N_SPOKES for r in tight)
    assert any(abs(r["raw_sum_u"]) > N_SPOKES for r in tight)


def test_streaming_shapley_fold_is_order_free(spark):
    """The min-fold state gives the same report whether events arrive
    in one batch, or split adversarially with the purchase arriving
    BEFORE its earlier-timestamped touches."""
    import datetime as dt

    from omldm_spark.operators.attribution import (
        shapley_attribution, shapley_from_state, shapley_merge,
        shapley_min_deltas)

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "click"), (2, t0 + dt.timedelta(minutes=1), 1, "view"),
        (3, t0 + dt.timedelta(minutes=2), 1, "purchase"),
        (4, t0, 2, "view"), (5, t0 + dt.timedelta(minutes=1), 2, "purchase"),
        (6, t0 + dt.timedelta(minutes=2), 2, "click"),   # post-purchase
        (7, t0, 3, "click"),                             # never converts
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    full = spark.createDataFrame(rows, schema)
    batch = {r["channel"]: r["phi_numer"]
             for r in shapley_attribution(full).collect()}
    # adversarial split: purchases first, their touches later
    b1 = spark.createDataFrame([rows[2], rows[4], rows[5]], schema)
    b2 = spark.createDataFrame([rows[0], rows[1], rows[3], rows[6]], schema)
    st = shapley_merge(shapley_min_deltas(b1), shapley_min_deltas(b2))
    inc = {r["channel"]: r["phi_numer"]
           for r in shapley_from_state(*st).collect()}
    assert inc == batch


def test_skyline_users_hand_frontier(spark):
    """Hand 2-d dominance: A(10,0) and D(12,3) form the frontier;
    B(10,1) loses the value tie, C(5,0) is dominated by A with equal
    errors, E(3,2) is dominated outright; co-located optima both
    survive (F duplicates A's point)."""
    import datetime as dt

    from omldm_spark.operators.skyline import skyline_users

    t0 = dt.datetime(2024, 1, 1)
    rows, i = [], 0

    def add(u, typ, val):
        nonlocal i
        i += 1
        rows.append((i, t0 + dt.timedelta(minutes=i), u, typ, val))

    add(1, "purchase", 10.0)                      # A: (1000, 0)
    add(2, "purchase", 10.0); add(2, "error", 0.0)  # B: (1000, 1)
    add(3, "purchase", 5.0)                       # C: (500, 0)
    add(4, "purchase", 12.0)                      # D: (1200, 3)
    add(4, "error", 0.0); add(4, "error", 0.0); add(4, "error", 0.0)
    add(5, "purchase", 3.0); add(5, "error", 0.0); add(5, "error", 0.0)
    add(6, "purchase", 10.0)                      # F: ties A exactly
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double")
    got = {(r["user_id"], r["value_c"], r["n_errors"])
           for r in skyline_users(ev).collect()}
    assert got == {(1, 1000, 0), (6, 1000, 0), (4, 1200, 3)}


def test_disparate_impact_flags_filtered_group(spark):
    """A language whose docs all pass the funnel anchors the ratio at
    1e6; a language of too-short docs passes nothing, lands below the
    four-fifths line, and carries a negative gap while the passing
    group's gap is positive."""
    from omldm_spark.operators.quality import disparate_impact_report

    good_text = " ".join([f"wrd{i:02d}" for i in range(25)] + ["the"])
    rows = [(i, good_text, "gg", "s", 1) for i in range(4)]
    rows += [(10 + i, "a b c", "bb", "s", 1) for i in range(4)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long")
    out = {r["lang"]: r for r in disparate_impact_report(docs).collect()}
    assert out["gg"]["pass_ppm"] == 1_000_000
    assert out["gg"]["ratio_to_best_ppm"] == 1_000_000
    assert out["gg"]["below_four_fifths"] is False
    assert out["bb"]["pass_ppm"] == 0
    assert out["bb"]["below_four_fifths"] is True
    assert out["gg"]["gap_ppm"] > 0 > out["bb"]["gap_ppm"]


def test_sprt_crossings_match_constant_arithmetic(spark):
    """Pure-success and pure-failure arms cross exactly where the
    integer constants say: ceil(lnA/incS) = 15 events to accept H1,
    ceil(-lnB/-incF) = 59 to accept H0; an undecided short arm reports
    'continue'."""
    import datetime as dt

    from omldm_spark.operators.drift import (
        SPRT_INC_F, SPRT_INC_S, SPRT_LN_A, SPRT_LN_B, sprt_decision_replay)

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(20):     # arm 0: all purchases
        rows.append((i + 1, t0 + dt.timedelta(minutes=i), 2, "purchase"))
    for i in range(70):     # arm 1: all views
        rows.append((100 + i, t0 + dt.timedelta(minutes=i), 3, "view"))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string")
    out = {r["arm"]: r for r in sprt_decision_replay(ev).collect()}
    # integer first-crossing: smallest i with i*inc beyond the boundary
    need_h1 = next(i for i in range(1, 200)
                   if i * SPRT_INC_S >= SPRT_LN_A)
    need_h0 = next(i for i in range(1, 200)
                   if i * SPRT_INC_F <= SPRT_LN_B)
    assert out[0]["decision"] == "h1"
    assert out[0]["first_h1_i"] == need_h1 == 15
    assert out[1]["decision"] == "h0"
    assert out[1]["first_h0_i"] == need_h0 == 59
    short = spark.createDataFrame(
        [(1, t0, 2, "purchase"), (2, t0, 3, "view")],
        "event_id long, ts timestamp, user_id long, event_type string")
    sh = {r["arm"]: r for r in sprt_decision_replay(short).collect()}
    assert sh[0]["decision"] == "continue"
    assert sh[1]["decision"] == "continue"


def test_hilbert_layout_tightens_per_file_ranges(spark, tmp_path):
    """Writing range-partitioned on the Hilbert key gives per-file
    hyper-rectangles at least as tight as the Z-order layout on the
    same 64x64 grid (16 files ~ 16 curve segments): both dims stay
    bounded, and the Hilbert mean spans never exceed the Z spans —
    the file-level consequence of its strictly better curve
    locality."""
    from pyspark.sql import functions as F

    from omldm_spark.operators.layout import (
        file_ranges, hilbert_key, zorder_layout)

    grid = spark.range(64 * 64).select(
        F.col("id").alias("cid"),
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"))
    h = hilbert_key(grid, ["cid"], 6).join(grid, "cid")
    hpath, zpath = str(tmp_path / "h"), str(tmp_path / "z")
    h.repartitionByRange(16, "hval").sortWithinPartitions("hval") \
        .select("x", "y").write.parquet(hpath)
    zorder_layout(grid.drop("cid"), ["x", "y"], 6, 16) \
        .write.parquet(zpath)

    def mean_span(path, col):
        rows = file_ranges(spark, path, [col]).collect()
        spans = [r[f"max_{col}"] - r[f"min_{col}"] for r in rows]
        return sum(spans) / len(spans)

    h_x, h_y = mean_span(hpath, "x"), mean_span(hpath, "y")
    z_x, z_y = mean_span(zpath, "x"), mean_span(zpath, "y")
    assert h_x < 24 and h_y < 24, (h_x, h_y)
    assert h_x <= z_x and h_y <= z_y, (h_x, z_x, h_y, z_y)


def test_skyline_matches_bruteforce_on_random_sets(spark):
    """Randomized referee (fixed seed): the domain-sweep skyline equals
    the O(n²) dominance definition on 8 random point sets, including
    duplicate points and heavy ties."""
    import random

    from omldm_spark.operators.skyline import skyline_from_user_stats

    rnd = random.Random(20260816)
    for _ in range(8):
        n = rnd.randint(1, 24)
        pts = [(u, rnd.randint(0, 5) * 100, rnd.randint(0, 4))
               for u in range(n)]
        df = spark.createDataFrame(
            pts, "user_id long, value_c long, n_errors long")
        got = {r["user_id"] for r in skyline_from_user_stats(df).collect()}
        exp = set()
        for u, v, e in pts:
            dominated = any(
                (v2 >= v and e2 <= e and (v2 > v or e2 < e))
                for u2, v2, e2 in pts if u2 != u)
            if not dominated:
                exp.add(u)
        assert got == exp, (pts, got, exp)


def test_shapley_matches_permutation_bruteforce(spark):
    """Randomized referee (fixed seed): φ·n! from the coalition sweep
    equals the permutation-average definition computed by brute force
    over all n! orders, for random 3-channel games."""
    import datetime as dt
    import itertools
    import math
    import random

    from omldm_spark.operators.attribution import shapley_core

    rnd = random.Random(7)
    chans = ["a", "b", "c"]
    for _ in range(6):
        n_users = rnd.randint(1, 10)
        conv_rows, touch_rows, masks = [], [], []
        for u in range(n_users):
            sub = [c for c in chans if rnd.random() < 0.6]
            converted = rnd.random() < 0.7
            # every channel must appear somewhere for the 3-player game
            for c in sub:
                touch_rows.append((u, c))
            if converted:
                conv_rows.append((u,))
                masks.append(frozenset(sub))
        for c in chans:                      # pin the channel universe
            touch_rows.append((900 + ord(c), c))
        conv = spark.createDataFrame(conv_rows or [(999,)], "user_id long")
        if not conv_rows:
            masks = [frozenset()]            # user 999 converted, no touch
        touches = spark.createDataFrame(touch_rows, "user_id long, ch string")
        got = {r["channel"]: r["phi_numer"]
               for r in shapley_core(conv, touches).collect()}

        def v(S):
            return sum(1 for m in masks if m <= S)

        nfact = math.factorial(len(chans))
        for c in chans:
            phi = 0
            for perm in itertools.permutations(chans):
                pre = frozenset(perm[:perm.index(c)])
                phi += v(pre | {c}) - v(pre)
            assert got[c] == phi, (masks, c, got[c], phi)


def test_ams_f2_matches_python_mirror(spark):
    """The AMS counters, median pick, and signed error match a pure
    Python mirror (hashlib md5, same digit-parity signs) on a planted
    corpus with repeated tokens."""
    import hashlib

    from omldm_spark.operators.sketch import AMS_K, ams_f2_report

    docs = spark.createDataFrame(
        [(1, "apple apple banana cherry"),
         (2, "banana banana banana date"),
         (3, "apple cherry cherry cherry egg egg")],
        "doc_id long, text string")
    r = ams_f2_report(docs).collect()[0]
    freq = {"apple": 3, "banana": 4, "cherry": 4, "date": 1, "egg": 2}
    assert r["n_tokens"] == sum(freq.values())
    assert r["n_types"] == len(freq)
    true_f2 = sum(v * v for v in freq.values())
    assert r["true_f2"] == true_f2
    cs = []
    for j in range(AMS_K):
        c = 0
        for t, f in freq.items():
            d = hashlib.md5(t.encode()).hexdigest()[j]
            c += f if int(d, 16) % 2 == 0 else -f
        cs.append(c * c)
    est = sorted(cs)[(AMS_K + 1) // 2 - 1]
    assert r["est_f2"] == est
    import math
    assert r["err_ppm"] == math.floor((est - true_f2) * 1e6 / true_f2)


def test_chimerge_referee_and_fixpoint(spark):
    """Hand blocks with a planted label break: two statistically
    identical low bins must merge, the bin pair across a strong label
    shift must NOT, a zero-marginal pair always merges, and the python
    referee replays the synchronous run-merge exactly."""
    from omldm_spark.operators.evaluation import (CHIMERGE_TAU_X1000,
                                                  chimerge_rounds)

    rows = [
        (0, 0, 5, 95),     # 5% pos
        (1, 1, 6, 94),     # ~6% pos — same distribution, must merge w/ 0
        (2, 2, 60, 40),    # 60% pos — sharp break, must stay separate
        (3, 3, 62, 38),    # same high regime, merges with 2
        (4, 4, 0, 50),     # zero pos marginal vs 5? no — vs bin 3: differs
        (5, 5, 0, 70),     # (4,5) zero c1 marginal -> always merge
    ]
    blocks = spark.createDataFrame(
        rows, "bx long, xmax long, pos long, neg long")

    def chi_lt_tau(p, q):
        a1, b1 = p
        a2, b2 = q
        if a1 + a2 == 0 or b1 + b2 == 0:
            return True
        n = a1 + b1 + a2 + b2
        d = a1 * b2 - a2 * b1
        return (1000 * n * d * d
                < CHIMERGE_TAU_X1000 * (a1 + b1) * (a2 + b2)
                * (a1 + a2) * (b1 + b2))

    def ref_round(bins):
        # the SYNCHRONOUS semantics: pair flags against the ORIGINAL
        # neighbors, then maximal runs collapse in one pass
        out = []
        for i, b in enumerate(bins):
            merge = i > 0 and chi_lt_tau(
                (bins[i - 1][2], bins[i - 1][3]), (b[2], b[3]))
            if merge:
                last = out.pop()
                out.append((last[0], b[1], last[2] + b[2],
                            last[3] + b[3]))
            else:
                out.append(tuple(b))
        return out

    ref = [tuple(r) for r in rows]
    for _ in range(3):
        ref = ref_round(ref)
    got = sorted(
        (r.bx, r.xmax, r.pos, r.neg)
        for r in chimerge_rounds(blocks, rounds=3).collect())
    assert got == sorted(ref)
    # fixpoint: rounds 3 == rounds 4
    got4 = sorted(
        (r.bx, r.xmax, r.pos, r.neg)
        for r in chimerge_rounds(blocks, rounds=4).collect())
    assert got4 == got
    # planted semantics
    spans = {r[0]: r for r in got}
    assert spans[0][1] == 1          # bins 0+1 merged
    assert 2 in spans and spans[2][1] >= 3   # high regime separate
    assert spans[max(spans)][2] == 0          # zero-pos tail merged


def test_cdc_chunking_shift_resistant_and_exact(spark):
    """Brute-force referee replays the rolling-hash boundaries; a
    1-char insertion at the head of a copied payload must leave most
    chunk fingerprints shared (the content-defined property a fixed
    chunker lacks), surfacing as savings_ppm well above zero."""
    import hashlib

    from omldm_spark.operators.dedup import (CDC_DIVISOR, CDC_WINDOW,
                                             _CDC_B, cdc_chunk_dedup)

    payload = ("the quick brown fox jumps over the lazy dog again and "
               "again while seventeen rolling hashes mark the cut points "
               "of this synthetic binary payload standing in for bytes")
    docs = spark.createDataFrame(
        [(1, payload, "s"), (2, "Z" + payload, "s")],
        "doc_id long, text string, source string")

    def ref_chunks(t):
        flags = []
        for p in range(1, len(t) + 1):
            h = sum(ord(t[p - 1 - j]) * (_CDC_B ** j)
                    for j in range(CDC_WINDOW)) if p >= CDC_WINDOW else None
            flags.append(1 if h is not None and h % CDC_DIVISOR == 0
                         else 0)
        out, start = [], 0
        for p in range(1, len(t) + 1):
            if flags[p - 1]:
                out.append(t[start:p])
                start = p
        if start < len(t):
            out.append(t[start:])
        return out

    c1, c2 = ref_chunks(payload), ref_chunks("Z" + payload)
    fps = {}
    for c in c1 + c2:
        key = hashlib.md5(c.encode()).hexdigest()
        fps[key] = (fps.get(key, (0, 0))[0] + 1, len(c))
    total = sum(n * ln for n, ln in fps.values())
    distinct = sum(ln for _, ln in fps.values())
    out = {r["source"]: r for r in cdc_chunk_dedup(docs).collect()}
    r = out["s"]
    assert r.n_chunks == len(c1) + len(c2)
    assert r.n_distinct_chunks == len(fps)
    assert r.total_chars == total and r.distinct_chars == distinct
    assert r.savings_ppm == (total - distinct) * 1_000_000 // total
    # shift resistance: only the head chunk re-fingerprints, so well
    # over a third of the bytes dedup away despite the insertion
    assert r.savings_ppm > 350_000


def test_assortativity_star_negative_regular_null(spark):
    """A star graph is maximally disassortative (hub degree n meets
    leaf degree 1 at every end): r = -1 exactly, so the floor-ppm is
    -1000000; a 4-cycle is regular (zero degree variance) and must
    report NULL, not a division error.  Moments pinned by brute
    force."""
    from omldm_spark.operators.graph import assortativity_report

    star = spark.createDataFrame(
        [(0, i, 1) for i in range(1, 6)], "a long, b long, w long")
    r = assortativity_report(star).collect()[0]
    ends = [(5, 1)] * 5 + [(1, 5)] * 5
    assert r.n_ends == 10
    assert r.sum_x == sum(x for x, _ in ends)
    assert r.sum_xy == sum(x * y for x, y in ends)
    assert r.sum_xx == sum(x * x for x, _ in ends)
    assert r.assortativity_ppm == -1_000_000
    cycle = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 1)],
        "a long, b long, w long")
    r2 = assortativity_report(cycle).collect()[0]
    assert r2.assortativity_ppm is None


def test_wasserstein_two_sample_referee(spark):
    """Hand windows referee: W1 between two planted distributions
    matches the brute-force discrete integral; identical windows give
    exactly zero; a pure location shift of delta cents gives
    1e6 x delta."""
    import datetime as dt

    from omldm_spark.operators.drift import (wasserstein_from_counts,
                                             wasserstein_value_periods)

    def per_frame(pairs):
        return spark.createDataFrame(
            pairs, "v_cents long, a_cnt long, b_cnt long")

    # planted counts: a = {1:2, 3:2}, b = {2:2, 5:2}
    per = per_frame([(1, 2, 0), (2, 0, 2), (3, 2, 0), (5, 0, 2)])
    r = wasserstein_from_counts(per).collect()[0]
    # cdf_a(ppm): 1->500000, 2->500000, 3->1000000, 5->1000000
    # cdf_b:      1->0,      2->500000, 3->500000,  5->1000000
    # gaps:        1, 1, 2
    want = (500000 * 1 + 0 * 1 + 500000 * 2)
    assert r.w1_cents_ppm == want and r.n_values == 4
    # identical windows -> zero
    r0 = wasserstein_from_counts(
        per_frame([(1, 3, 3), (4, 2, 2)])).collect()[0]
    assert r0.w1_cents_ppm == 0
    # pure shift by 7 cents, equal mass -> 7e6
    rs = wasserstein_from_counts(
        per_frame([(10, 4, 0), (17, 0, 4)])).collect()[0]
    assert rs.w1_cents_ppm == 7_000_000
    # end-to-end window split runs (events-shaped smoke)
    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(i, t0 + dt.timedelta(days=i % 30), i, "view", float(i % 5))
         for i in range(40)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double")
    out = wasserstein_value_periods(ev).collect()
    assert len(out) == 1 and out[0].w1_cents_ppm >= 0


def test_boilerplate_ngrams_planted_template(spark):
    """Docs of source 'web' share a planted footer 5-gram (80% of
    docs, repeated twice in one doc — must count ONCE per doc); source
    'clean' has no repeated n-gram and must report nothing."""
    from omldm_spark.operators.dedup import boilerplate_ngrams

    footer = "all rights reserved contact us"
    web = [(i, f"unique words number {i} " * 2 + footer
            + (" " + footer if i == 0 else ""), "web")
           for i in range(4)]
    web.append((9, "totally different content with no template here",
                "web"))
    clean = [(100 + i,
              f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i}",
              "clean") for i in range(5)]
    docs = spark.createDataFrame(
        web + clean, "doc_id long, text string, source string")
    out = boilerplate_ngrams(docs, min_share_ppm=500_000)
    rows = [r for r in out.collect()]
    webrows = [r for r in rows if r["source"] == "web"]
    assert any(r["ngram"] == footer for r in webrows)
    f = next(r for r in webrows if r["ngram"] == footer)
    assert f.n_docs_with == 4 and f.n_docs == 5      # doc 0 counted once
    assert f.doc_share_ppm == 800_000
    assert not [r for r in rows if r["source"] == "clean"]


def test_fd_strength_endpoints(spark, tmp_path):
    """The FD report must pin 1e6 on the planted-perfect nation pair
    (nationkey -> regionkey is single-valued by construction) and sit
    strictly below 1e6 when the dependent genuinely varies."""
    from omldm_spark.queries import QUERIES

    out = {(r.tbl, r.det): r for r in
           QUERIES["functional_dependency_report"](
               spark, "/root/testdata/sf0.001").collect()}
    nation = out[("nation", "n_nationkey")]
    assert nation.fd_strength_ppm == 1_000_000
    assert nation.ndv_det == nation.ndv_pair
    for k, r in out.items():
        assert 0 < r.fd_strength_ppm <= 1_000_000
        assert r.ndv_pair >= r.ndv_det


def test_dp_topk_noise_bounded_and_deterministic(spark):
    """Integer Laplace noise at eps=1 stays small (|noise| <= ~16 with
    overwhelming margin over md5 uniforms) and is a pure function of
    the term — two runs must agree bit-for-bit."""
    from omldm_spark.queries import QUERIES

    a = sorted(map(tuple, QUERIES["dp_topk_terms"](
        spark, "/root/testdata/sf0.001").collect()))
    b = sorted(map(tuple, QUERIES["dp_topk_terms"](
        spark, "/root/testdata/sf0.001").collect()))
    assert a == b
    for rank, term, true_cnt, noisy_cnt in a:
        assert abs(noisy_cnt - true_cnt) <= 20


def test_chimerge_envelope_guard_raises(spark):
    """Bins past 8e6 rows with full label separation push the LHS
    1000·N·det² = 2000·m⁵ past DECIMAL(38,0) (~1e38 at m ≈ 8.7e6) —
    silently NULLing on non-ANSI Spark, raising on DuckDB — so the
    guard on the N operand INSIDE the product must raise on Spark
    instead; bins at the 8e6 boundary still work; and a zero-marginal
    over-envelope pair merges exactly (chi2 = 0) without evaluating
    the product, hence without raising."""
    import pytest

    from omldm_spark.operators.evaluation import chimerge_rounds

    big = spark.createDataFrame(
        [(0, 0, 6_000_000, 6_000_000), (1, 1, 5_500_000, 6_500_000)],
        "bx long, xmax long, pos long, neg long")
    with pytest.raises(Exception, match="chimerge: bins over 8e6"):
        chimerge_rounds(big, rounds=1).collect()
    ok = spark.createDataFrame(
        [(0, 0, 4_000_000, 4_000_000), (1, 1, 3_500_000, 4_500_000)],
        "bx long, xmax long, pos long, neg long")
    out = chimerge_rounds(ok, rounds=1).collect()
    assert len(out) in (1, 2)
    # zero label marginal (all-pos bins): chi2 = 0 exactly — the
    # product is never evaluated, so no overflow and no raise even
    # over-envelope; the pair must merge.
    zero_marginal = spark.createDataFrame(
        [(0, 0, 9_000_000, 0), (1, 1, 9_000_000, 0)],
        "bx long, xmax long, pos long, neg long")
    merged = chimerge_rounds(zero_marginal, rounds=1).collect()
    assert len(merged) == 1 and merged[0]["pos"] == 18_000_000
    # DuckDB twin: same guard text via error() in the CTE unroll.
    import duckdb

    from omldm_spark.operators.evaluation import CHIMERGE_ROUND_CTES

    def duck(rows):
        vals = ", ".join(f"({bx}, {xm}, {p}, {n})" for bx, xm, p, n in rows)
        ctes = ",\n".join(CHIMERGE_ROUND_CTES(1))
        return duckdb.sql(
            f"WITH c0 AS (SELECT * FROM (VALUES {vals})"
            f" t(bx, xmax, pos, neg)),\n{ctes}\n"
            "SELECT * FROM c1 ORDER BY bx").fetchall()

    with pytest.raises(Exception, match="chimerge: bins over 8e6"):
        duck([(0, 0, 6_000_000, 6_000_000), (1, 1, 5_500_000, 6_500_000)])
    assert len(duck([(0, 0, 4_000_000, 4_000_000),
                     (1, 1, 3_500_000, 4_500_000)])) in (1, 2)


def test_cdc_chunking_handles_non_ascii(spark):
    """Non-ASCII codepoints fold to % 256 in the rolling hash — the
    chunker must neither wrap (Spark int32) nor error (DuckDB), and
    both engines must agree on the planted unicode payload."""
    import duckdb

    from omldm_spark.operators.dedup import CDC_CHUNK_SQL, cdc_chunk_dedup

    text = ("héllo wörld é中文 payload with émojis and "
            "enough bytes to cross several rolling-hash boundaries "
            "abcdefghijklmnopqrstuvwxyz" * 2)
    docs = spark.createDataFrame([(1, text, "s"), (2, text, "s")],
                                 "doc_id long, text string, source string")
    got = {r["source"]: r for r in cdc_chunk_dedup(docs).collect()}
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = con.execute(CDC_CHUNK_SQL()).fetchdf().iloc[0]
    r = got["s"]
    assert (r.n_chunks, r.n_distinct_chunks, r.total_chars,
            r.distinct_chars, r.savings_ppm) == (
        want.n_chunks, want.n_distinct_chunks, want.total_chars,
        want.distinct_chars, want.savings_ppm)
    # identical docs (plus an in-doc repeated run): at least half dedups
    assert r.savings_ppm >= 500_000


def test_drift_panel_empty_window_is_null_not_error(spark):
    """A counts frame with one EMPTY window (all events in one parity
    day) must yield NULL KS/W1 on both engines, not a division error
    (Spark non-ANSI would silently NULL where DuckDB raises)."""
    from omldm_spark.operators.drift import (ks_from_counts,
                                             wasserstein_from_counts)

    per = spark.createDataFrame([(1, 3, 0), (4, 2, 0)],
                                "v_cents long, a_cnt long, b_cnt long")
    ks = ks_from_counts(per).collect()[0]
    assert ks.d_ppm is None
    w1 = wasserstein_from_counts(per).collect()[0]
    assert w1.w1_cents_ppm is None and w1.n_a == 5 and w1.n_b == 0


def test_salted_join_skew_balance_spreads_hot_key(spark):
    """The planted-skew evidence query (review r12): half of lineitem
    lands on join key 1; the salted layout must spread that hot key
    over ALL 8 salt buckets with no bucket above 2x the mean — the
    balance property salting exists to deliver — and the per-bucket
    sums must recompose to the direct (unsalted) hot-key totals."""
    from pyspark.sql import functions as F

    from omldm_spark.io import load_table
    from omldm_spark.queries import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    rows = QUERIES["salted_join_skew_balance"](spark, sf_dir).collect()
    assert sorted(r["salt_bucket"] for r in rows) == list(range(8))
    counts = [r["n_rows"] for r in rows]
    mean = sum(counts) / len(counts)
    assert max(counts) <= 2 * mean, counts
    li = load_table(spark, sf_dir, "lineitem")
    # the hot key 1 collects the remapped even-orderkey rows AND the
    # natural l_partkey = 1 rows on odd orderkeys
    hot = li.where("l_orderkey % 2 = 0 OR"
                   " (l_partkey = 1 AND l_orderkey % 2 = 1)").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                      * 100, 0).cast("long")).alias("rev")).collect()[0]
    assert sum(counts) == hot["n"]
    assert sum(r["rev_q"] for r in rows) == hot["rev"]


def test_louvain_dendrogram_third_level_referee(spark):
    """Level-3 referee (review r12 stretch): on both the planted
    hierarchy (4 triangles / 2 bridge pairs) and the dense chain-plant
    graph, louvain_third_pass's community_l3 must equal one more
    min-ward + chain-suppressed merge pass computed in Python from the
    operator's OWN level-2 labels; l1/l2 columns must pass through
    unchanged from louvain_second_pass; and every moved-to l3 label is
    a fixpoint."""
    from omldm_spark.operators.graph import (louvain_second_pass,
                                             louvain_third_pass)

    def ref_merge(E, lab):
        k: dict[int, int] = {}
        for a, b, w in E:
            k[a] = k.get(a, 0) + w
            k[b] = k.get(b, 0) + w
        W = sum(k.values())
        inter: dict[tuple, int] = {}
        for a, b, w in E:
            ca, cb = lab[a], lab[b]
            if ca != cb:
                key = (min(ca, cb), max(ca, cb))
                inter[key] = inter.get(key, 0) + w
        kc: dict[int, int] = {}
        for v, c in lab.items():
            kc[c] = kc.get(c, 0) + k[v]
        raw = {}
        for c in set(lab.values()):
            nb = {(d if a == c else a): w
                  for (a, d), w in inter.items() if c in (a, d)}
            if not nb:
                raw[c] = c
                continue
            gains = {j: w * W - kc[c] * kc[j] for j, w in nb.items()}
            bg = max(gains.values())
            best = min(j for j in gains if gains[j] == bg)
            raw[c] = best if (bg > 0 and best < c) else c
        return {c: (d if raw.get(d, d) == d else c)
                for c, d in raw.items()}

    tri = lambda base: [(base, base + 1, 5), (base, base + 2, 5),
                        (base + 1, base + 2, 5)]
    G1 = (tri(0) + tri(10) + tri(20) + tri(30)
          + [(2, 10, 3), (22, 30, 3), (12, 20, 1)])
    G2 = [(0, 1, 1), (0, 3, 6), (0, 4, 6), (1, 3, 4), (1, 5, 4),
          (1, 6, 5), (1, 7, 1), (2, 3, 3), (2, 4, 2), (2, 5, 4),
          (2, 6, 4), (2, 7, 3), (3, 7, 4), (4, 7, 2), (5, 6, 2),
          (5, 7, 6), (6, 7, 4)]
    for E in (G1, G2):
        edges = spark.createDataFrame(E, "a long, b long, w long")
        l2 = {r.item: (r.community_l1, r.community_l2)
              for r in louvain_second_pass(edges).collect()}
        out = {r.item: r for r in louvain_third_pass(edges).collect()}
        assert {v: (r.community_l1, r.community_l2)
                for v, r in out.items()} == l2
        want3 = ref_merge(E, {v: c2 for v, (_, c2) in l2.items()})
        for v, (_, c2) in l2.items():
            assert out[v].community_l3 == want3[c2], (v, c2)
        moved_to = {r.community_l3 for r in out.values()}
        l3_of = {r.community_l2: r.community_l3 for r in out.values()}
        for lbl in moved_to:
            assert l3_of.get(lbl, lbl) == lbl, lbl


def test_bloom_pruning_report_invariants(spark):
    """The pruning ledger's defining inequalities: every true match
    passes the bloom (no false negatives — n_true_match <= n_pass),
    the bloom never admits more than the fact (n_pass <= n_fact), and
    the false positives are exactly the admitted non-members
    (n_false_pos = n_pass - n_true_match, since matches always pass).
    n_true_match must equal the exact semi-join count."""
    from pyspark.sql import functions as F

    from omldm_spark.io import load_table
    from omldm_spark.queries import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    r = QUERIES["bloom_pruning_report"](spark, sf_dir).collect()[0]
    assert r["n_true_match"] <= r["n_pass_bloom"] <= r["n_fact"]
    assert r["n_false_pos"] == r["n_pass_bloom"] - r["n_true_match"]
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer").where(
        "c_mktsegment = 'BUILDING'").select(
        F.col("c_custkey").alias("o_custkey"))
    exact = od.join(cu, "o_custkey", "left_semi").count()
    assert r["n_true_match"] == exact and exact > 0


def test_opq_beats_pq_on_planted_unbalanced_variance(spark):
    """On a corpus whose variance is concentrated in a contiguous dim
    block, contiguous PQ wastes whole subspaces on near-constant dims
    while the snake permutation spreads the hot dims — OPQ's total
    distortion must be strictly lower (the Ge et al. motivation, made
    a testable invariant).  Also pins the report's shape identities:
    both variants see the same n_vectors and avg_d2 = total div n."""
    import random

    from omldm_spark.operators.similarity import opq_vs_pq_distortion

    rng = random.Random(11)
    dim, n = 32, 80
    rows = []
    for i in range(n):
        # dims 0..7 carry all the variance; 8..31 are near-constant
        v = [rng.uniform(-1, 1) for _ in range(8)] + [0.001] * (dim - 8)
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["variant"]: r
           for r in opq_vs_pq_distortion(emb, m=4, k=8, rounds=2,
                                         dim=dim).collect()}
    assert set(out) == {"pq", "opq"}
    for r in out.values():
        assert r["n_vectors"] == n
        assert r["avg_d2"] == r["total_d2"] // n
    assert out["opq"]["total_d2"] < out["pq"]["total_d2"], out


def test_scd2_integrity_audit_clean_and_detects_breakage(spark):
    """A freshly built SCD2 dimension must pass its own audit (zero
    overlaps, zero gaps, every key exactly one open row); and the
    audit's per-key window logic must actually DETECT breakage when a
    broken dimension (overlapping window, two open rows, a gap) is fed
    through the same flags/rollup."""
    from pyspark.sql import Window, functions as F

    from omldm_spark.queries import QUERIES

    r = QUERIES["scd2_integrity_audit"](
        spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n_overlaps"] == 0 and r["n_gaps"] == 0
    assert r["n_keys_bad_current"] == 0
    assert r["n_keys"] > 0 and r["n_rows"] >= r["n_keys"]
    assert r["max_versions"] >= 1

    # broken dimension: key 1 overlaps (v2 starts before v1 ends) and
    # has TWO open rows; key 2 has a gap between v1 and v2
    broken = spark.createDataFrame(
        [(1, "a", 0, 100, 1, False), (1, "b", 90, None, 2, True),
         (1, "c", 200, None, 3, True),
         (2, "a", 0, 50, 1, False), (2, "b", 60, None, 2, True)],
        "user_id long, state string, valid_from_s long,"
        " valid_to_s long, version int, is_current boolean")
    w = Window.partitionBy("user_id").orderBy("version")
    flags = broken.select(
        "user_id", "valid_from_s",
        F.col("is_current").cast("int").alias("cur"),
        F.lag("valid_to_s").over(w).alias("pv"))
    per_key = flags.groupBy("user_id").agg(
        F.sum(F.when(F.col("pv").isNotNull()
                     & (F.col("valid_from_s") < F.col("pv")), 1)
              .otherwise(0)).alias("n_overlap"),
        F.sum(F.when(F.col("pv").isNotNull()
                     & (F.col("valid_from_s") > F.col("pv")), 1)
              .otherwise(0)).alias("n_gap"),
        F.sum("cur").alias("n_open"))
    got = {x["user_id"]: x for x in per_key.collect()}
    assert got[1]["n_overlap"] == 1 and got[1]["n_open"] == 2
    assert got[2]["n_gap"] == 1 and got[2]["n_open"] == 1


def test_unimax_referee_sequential_loop(spark):
    """unimax_mixture_plan (review r12 extension) computes the
    water-filling closed form of UniMax's published sequential loop
    (Chung et al. 2023, smallest-first, min(cap*T_s, fair share),
    leftover re-spreads).  The referee replays the sequential loop in
    exact Fraction arithmetic across budget regimes — none capped,
    mixed, all capped, zero budget — and pins the capped set, the
    capped allocations, the floor/remainder convention, and budget
    conservation."""
    from fractions import Fraction

    from omldm_spark.operators.corpus import unimax_mixture_plan

    sizes = {"a": 10, "b": 40, "c": 50, "d": 400}
    docs = spark.createDataFrame(
        [(s, "w " * n) for s, n in sizes.items()], "source string, text string"
    )
    c = 4
    for budget in [0, 100, 500, 2000, 100000]:
        got = {
            r["source"]: r
            for r in unimax_mixture_plan(
                docs, budget_tokens=budget, epoch_cap=c
            ).collect()
        }
        order = sorted(sizes, key=lambda s: (sizes[s], s))
        k = len(order)
        rem = Fraction(budget)
        capped_seq, t = {}, 0
        for i, s in enumerate(order):
            fair = rem / (k - i)
            if Fraction(c * sizes[s]) <= fair:
                capped_seq[s] = True
                rem -= c * sizes[s]
                t = i + 1
            else:
                capped_seq[s] = False
                rem -= fair
        s_t = sum(sizes[s] for s in order[:t])
        leftover = budget - c * s_t
        if t < k:
            q, r = divmod(leftover, k - t)
        for i, s in enumerate(order):
            assert got[s]["capped"] == capped_seq[s], (budget, s)
            if capped_seq[s]:
                assert got[s]["alloc_tokens"] == c * sizes[s], (budget, s)
            else:
                want = q + (r if i == k - 1 else 0)
                assert got[s]["alloc_tokens"] == want, (budget, s)
        total = sum(got[s]["alloc_tokens"] for s in order)
        assert total == (budget if t < k else c * sum(sizes.values()))
        for s in order:
            assert got[s]["epochs_ppm"] == \
                got[s]["alloc_tokens"] * 1_000_000 // sizes[s]


def test_wordpiece_encode_referee_roundtrip(spark):
    """wordpiece_encode_vocab's Catalyst aggregate-fold greedy scan
    (review r12 extension) against a Python reimplementation of
    longest-match-first over the same derived piece vocabulary; the
    referee also checks the round-trip invariant (stripping ## and
    concatenating re-spells every token) and count conservation."""
    from collections import Counter

    from omldm_spark.operators.lm import wordpiece_encode_vocab

    texts = [
        "the theme thesis then the",
        "there other the them anthem",
        "xy xyz zzz the",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    toks = Counter(w for t in texts for w in t.lower().split())
    chars = Counter()
    pairs = Counter()
    for w, n in toks.items():
        for ch in w:
            chars[ch] += n
        for i in range(len(w) - 1):
            pairs[(w[i], w[i + 1])] += n
    scored = sorted(
        (
            (-(pn * 10**9 // (chars[a] * chars[b])), a, b)
            for (a, b), pn in pairs.items()
        )
    )
    n_pieces = 3
    pieces = {a + b for _, a, b in scored[:n_pieces]}
    expect = Counter()
    for w, n in toks.items():
        pos, out = 0, []
        while pos < len(w):
            if w[pos:pos + 2] in pieces:
                piece, pos = w[pos:pos + 2], pos + 2
            else:
                piece, pos = w[pos], pos + 1
            out.append(("##" if len(out) else "") + piece)
        assert "".join(p.removeprefix("##") for p in out) == w
        for p in out:
            expect[p] += n
    got = {
        r["piece"]: r["cnt"]
        for r in wordpiece_encode_vocab(docs, n_pieces=n_pieces).collect()
    }
    assert got == dict(expect)
    # conservation: piece character mass == token character mass
    assert sum(len(p.removeprefix("##")) * n for p, n in got.items()) == \
        sum(len(w) * n for w, n in toks.items())


def test_llm_watermark_detect_referee(spark):
    """llm_watermark_detect against a hashlib replay of the green test
    and the exact signed-z^2 integer statistic; single-token docs are
    excluded; the z > 4 flag threshold pins at 16e6 ppm."""
    import hashlib

    from omldm_spark.operators.lm import llm_watermark_detect

    texts = {
        1: "alpha beta gamma delta epsilon zeta",
        2: "one",
        3: "red blue red blue red blue red blue red blue",
        4: "Mixed CASE Words here",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in llm_watermark_detect(docs).collect()}
    assert 2 not in got  # single token: no scored positions
    for did, text in texts.items():
        toks = [w for w in text.lower().split() if w]
        if len(toks) < 2:
            continue
        n = len(toks) - 1
        g = sum(
            hashlib.md5(f"{a} {b}".encode()).hexdigest()[0] in "0123"
            for a, b in zip(toks, toks[1:])
        )
        num = (4 * g - n) ** 2 * 1_000_000
        z2 = (1 if 4 * g >= n else -1) * (num // (3 * n))
        r = got[did]
        assert (r["n_scored"], r["green_cnt"], r["z2_signed_ppm"]) == \
            (n, g, z2), did
        assert r["flagged"] == (z2 > 16_000_000)


def test_wordpiece_encode_edge_cases_and_unicode_oracle(spark):
    """Edge cases of the greedy fold: n_pieces=0 degenerates to pure
    character segmentation (the empty-literal branch), and a non-ASCII
    corpus must agree with the DuckDB oracle — both engines' substr()
    count CHARACTERS, not bytes, which is exactly what the recursive
    CTE and the Catalyst fold both rely on."""
    import duckdb
    import pandas as pd

    from omldm_spark.operators.lm import (WORDPIECE_ENCODE_SQL,
                                          wordpiece_encode_vocab)

    texts = ["héllo wörld héllo", "naïve café naïve", "ßüß ßüß grüß"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    # n_pieces=0: every piece is one character, round-trip by length
    chars_only = {
        r["piece"]: r["cnt"]
        for r in wordpiece_encode_vocab(docs, n_pieces=0).collect()
    }
    assert all(len(p.removeprefix("##")) == 1 for p in chars_only)
    total_chars = sum(len(w) for t in texts for w in t.lower().split())
    assert sum(chars_only.values()) == total_chars
    # unicode corpus against the DuckDB oracle, in-process
    got = {
        r["piece"]: r["cnt"]
        for r in wordpiece_encode_vocab(docs, n_pieces=5).collect()
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts}))
    want = {
        p: int(c)
        for p, c in con.execute(WORDPIECE_ENCODE_SQL(n_pieces=5)).fetchall()
    }
    assert got == want


def test_llm_watermark_empty_and_degenerate(spark):
    """Schema-stable empty result on an empty corpus; an all-identical
    token stream is all-green or all-red (the md5 test is a constant),
    and the signed statistic lands on the correct side."""
    from omldm_spark.operators.lm import llm_watermark_detect

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = llm_watermark_detect(empty)
    assert out.columns == ["doc_id", "n_scored", "green_cnt",
                           "z2_signed_ppm", "flagged"]
    assert out.count() == 0

    same = spark.createDataFrame(
        [(1, "tok " * 50)], "doc_id long, text string")
    r = llm_watermark_detect(same).collect()[0]
    assert r["n_scored"] == 49
    assert r["green_cnt"] in (0, 49)
    assert (r["z2_signed_ppm"] > 0) == (4 * r["green_cnt"] >= 49)


def test_watermark_source_report_consistent_with_detector(spark):
    """The per-source rollup must recompose from the per-doc detector:
    flagged counts, doc counts, and the ppm fractions all derive from
    the same rows (the passthrough column carries source through the
    exchange-free detector — no join to drift)."""
    from collections import defaultdict

    from omldm_spark.io import load_table
    from omldm_spark.operators.lm import (llm_watermark_detect,
                                          watermark_source_report)

    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, sf_dir, "documents")
    per_doc = llm_watermark_detect(
        docs, keep_cols=("source",)).collect()
    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, flagged, scored, green
    for r in per_doc:
        a = agg[r["source"]]
        a[0] += 1
        a[1] += int(r["flagged"])
        a[2] += r["n_scored"]
        a[3] += r["green_cnt"]
    got = {r["source"]: r
           for r in watermark_source_report(docs).collect()}
    assert set(got) == set(agg)
    for s, (nd, nf, ns, g) in agg.items():
        r = got[s]
        assert (r["n_docs"], r["n_flagged"]) == (nd, nf)
        assert r["flagged_ppm"] == nf * 1_000_000 // nd
        assert r["green_rate_ppm"] == g * 1_000_000 // ns


def test_query_double_run_is_deterministic(spark):
    """Registry invariant (sampled): running a queries() entry TWICE in
    the same session yields bit-identical results — no hidden session
    state, temp-view collision, clock, or RNG dependence.  The sample
    spans the risk classes: a uuid-temp-view query (simhash), driver
    loops with collected model state (bpe/kmeans/facility), md5-seeded
    'randomness' (negative_samples, weighted_sample_docs), a statefold
    streaming twin (fresh scratch dirs per call), checkpoint-leaf graph
    rounds, and the newest extension queries."""
    import hashlib

    from omldm_spark.queries import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    names = [
        "simhash_docs", "bpe_merge_round", "negative_samples",
        "weighted_sample_docs", "louvain_dendrogram",
        "wordpiece_encode_vocab", "llm_watermark_detect",
        "unimax_mixture_plan", "watermark_source_report",
        "streaming_unimax_plan",
    ]

    def value_hash(df):
        cols = sorted(df.columns)
        rows = sorted(
            tuple(str(r[c]) for c in cols) for r in df.collect())
        h = hashlib.md5()
        for row in rows:
            h.update("\x1f".join(row).encode())
        return df.count(), tuple(cols), h.hexdigest()

    for name in names:
        a = value_hash(QUERIES[name](spark, sf_dir))
        spark.catalog.clearCache()
        b = value_hash(QUERIES[name](spark, sf_dir))
        assert a == b, f"{name}: non-deterministic across same-session runs"
        spark.catalog.clearCache()
