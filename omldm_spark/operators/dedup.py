"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference surface (BASELINE.json north star): the reference engine has
no document processing; these are the LLM-data-pipeline operators designed
Spark-first for the 100 TB goal.

Scale design notes (per operator):

* exact_dedup        one hash-groupBy; map-side combine makes the shuffle
                     carry one row per distinct hash, not per doc.
* minhash_signatures one explode (doc x shingle) + ONE groupBy computing all
                     k min-hashes as k aggregates — a single shuffle
                     regardless of k. No UDFs: md5/min are JVM built-ins.
* lsh_candidate_pairs join on band-signature keys. Band values are md5-
                     uniform, so the shuffle is balanced by construction;
                     AQE skew-join covers pathological repeats (e.g. the
                     empty-document band).
* ngram_jaccard      posting-list self-join (shingle -> docs). At 100 TB you
                     run it AFTER lsh_candidate_pairs to bound the candidate
                     set; the threshold is an integer cross-multiplication,
                     so no float comparisons anywhere.

Cross-engine determinism: hashes are md5 hex strings (identical in Spark and
DuckDB); min() over VARCHAR is lexicographic in both; Jaccard keeps integer
arithmetic until a single final division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tokenization shared with functions/text.py: lowercase, split on whitespace,
# drop empties. Keep in sync with TOKENS_SQL below.


def tokens_col(text_col: str = "text"):
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )


def TOKENS_SQL(text_expr: str = "text") -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({text_expr}), '\\s+'), "
        "t -> t != '')"
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: md5(text) groups; keeper = min id. Returns one row per
    distinct text with keeper_id + dup_count."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).cast("long").alias("dup_count"),
        )
    )


def shingle_array(toks_col, n: int = 3):
    """ARRAY<STRING> of n-token shingles over an ALREADY-MATERIALIZED token
    array column — no explode, no window, no shuffle. ``toks_col`` must be a
    column reference (attribute), not the tokenization expression: array
    lambdas re-evaluate their input expression per element_at, so an inline
    tokenizer would re-run the regex split hundreds of times per row
    (measured 3.8s -> 10.7s regression before this was split out)."""
    toks = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) pairs. The tokens array is pinned in its own projection
    (nondeterministic guard column blocks CollapseProject from inlining the
    tokenizer into the per-shingle lambda); one explode; the only shuffle in
    the MinHash pipeline is the downstream groupBy."""
    with_toks = docs.select(
        F.col(id_col),
        tokens_col(text_col).alias("_toks"),
        F.rand(25).alias("_pin"),
    ).drop("_pin")
    return with_toks.select(
        F.col(id_col), F.explode(shingle_array("_toks", n)).alias("shingle")
    )


def SHINGLES_SQL(n: int = 3, table: str = "documents", text_expr: str = "text",
                 id_col: str = "doc_id") -> str:
    leads = ["tok"] + [f"lead(tok, {i}) OVER w" for i in range(1, n)]
    concat = " || ' ' || ".join(leads)
    return f"""
SELECT {id_col}, shingle FROM (
  SELECT {id_col},
         {concat} AS shingle,
         lead(tok, {n - 1}) OVER w AS _last
  FROM (
    SELECT {id_col},
           unnest({TOKENS_SQL(text_expr)}) AS tok,
           generate_subscripts({TOKENS_SQL(text_expr)}, 1) AS pos
    FROM {table}
  )
  WINDOW w AS (PARTITION BY {id_col} ORDER BY pos)
) WHERE _last IS NOT NULL
"""


def minhash_signatures(docs: DataFrame, k: int = 8, n: int = 3,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """k MinHash values per doc: h_i = min(md5(i || '|' || shingle)).

    One groupBy with k min-aggregates — single shuffle, map-side combined.
    Documents with fewer than n tokens produce no shingles and are absent
    (callers union them back as singletons if needed).
    """
    sh = shingles(docs, n=n, text_col=text_col, id_col=id_col)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def MINHASH_SQL(k: int = 8, n: int = 3, table: str = "documents",
                text_expr: str = "text", id_col: str = "doc_id") -> str:
    mins = ", ".join(
        f"min(md5('{i}|' || shingle)) AS h{i}" for i in range(k)
    )
    return f"SELECT {id_col}, {mins} FROM ({SHINGLES_SQL(n, table, text_expr, id_col)}) GROUP BY {id_col}"


def lsh_candidate_pairs(signatures: DataFrame, k: int = 8, bands: int = 2,
                        id_col: str = "doc_id") -> DataFrame:
    """LSH banding: docs sharing any band of minhashes become a candidate
    pair (id_a < id_b, distinct). Join key = (band_idx, concatenated band
    hash) — md5-uniform, balanced shuffle."""
    rows_per_band = k // bands
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"h{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_structs.append(
            F.struct(F.lit(b).alias("band_idx"), F.concat(*cols).alias("band_val"))
        )
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("band")
    ).select(id_col, "band.band_idx", "band.band_val")
    a = banded.alias("a")
    b_ = banded.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def LSH_PAIRS_SQL(k: int = 8, bands: int = 2, table_sql: str = "",
                  id_col: str = "doc_id") -> str:
    rows_per_band = k // bands
    band_selects = []
    for b in range(bands):
        concat = " || ".join(
            f"h{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        band_selects.append(
            f"SELECT {id_col}, {b} AS band_idx, {concat} AS band_val FROM sigs"
        )
    return f"""
WITH sigs AS ({table_sql}),
banded AS ({' UNION ALL '.join(band_selects)})
SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
FROM banded a JOIN banded b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
 AND a.{id_col} < b.{id_col}
"""


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold_num: int = 1,
                        threshold_den: int = 5, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Pairs with shingle-set Jaccard >= threshold_num/threshold_den.

    Integer cross-multiplied threshold: common * den >= (sa + sb - common)
    * num — no float compare; the final jaccard is a single exact division.
    """
    sets_ = shingles(docs, n=n, text_col=text_col, id_col=id_col).distinct()
    sizes = sets_.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("sz"))
    a, b = sets_.alias("a"), sets_.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sb"))
    return (
        common.join(sa, "id_a").join(sb, "id_b")
        .filter(
            F.col("common") * threshold_den
            >= (F.col("sa") + F.col("sb") - F.col("common")) * threshold_num
        )
        .select(
            "id_a", "id_b",
            (F.col("common") / (F.col("sa") + F.col("sb") - F.col("common"))).alias("jaccard"),
        )
    )


def JACCARD_PAIRS_SQL(n: int = 3, threshold_num: int = 1, threshold_den: int = 5,
                      table: str = "documents", text_expr: str = "text",
                      id_col: str = "doc_id") -> str:
    return f"""
WITH sets_ AS (SELECT DISTINCT * FROM ({SHINGLES_SQL(n, table, text_expr, id_col)})),
sizes AS (SELECT {id_col}, CAST(count(*) AS BIGINT) AS sz FROM sets_ GROUP BY {id_col}),
common AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, CAST(count(*) AS BIGINT) AS common
  FROM sets_ a JOIN sets_ b ON a.shingle = b.shingle AND a.{id_col} < b.{id_col}
  GROUP BY a.{id_col}, b.{id_col}
)
SELECT id_a, id_b,
       common / (sa.sz + sb.sz - common) AS jaccard
FROM common
JOIN sizes sa ON sa.{id_col} = id_a
JOIN sizes sb ON sb.{id_col} = id_b
WHERE common * {threshold_den} >= (sa.sz + sb.sz - common) * {threshold_num}
"""


def ngram_containment_pairs(docs: DataFrame, n: int = 3,
                            threshold_num: int = 1, threshold_den: int = 2,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Pairs where the SMALLER shingle set is >= num/den contained in the
    other: containment = common / min(|A|, |B|).

    The asymmetric companion to Jaccard that pretraining dedup needs for
    the doc-inside-doc case (a quote, a mirrored article inside a longer
    page): a short doc fully contained in a long one has tiny Jaccard
    (union is dominated by the long doc) but containment 1.0.  Same
    posting-list equi self-join as ngram_jaccard_pairs — one shingle
    shuffle, per-shingle quadratic only (cap hot shingles upstream the
    same way); integer cross-multiplied threshold, exact division last."""
    sets_ = shingles(docs, n=n, text_col=text_col, id_col=id_col).distinct()
    sizes = sets_.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("sz"))
    a, b = sets_.alias("a"), sets_.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sb"))
    return (
        common.join(sa, "id_a").join(sb, "id_b")
        .filter(F.col("common") * threshold_den
                >= F.least("sa", "sb") * threshold_num)
        .select(
            "id_a", "id_b", "common",
            (F.col("common") / F.least("sa", "sb")).alias("containment"),
        )
    )


def CONTAINMENT_PAIRS_SQL(n: int = 3, threshold_num: int = 1,
                          threshold_den: int = 2, table: str = "documents",
                          text_expr: str = "text",
                          id_col: str = "doc_id") -> str:
    return f"""
WITH sets_ AS (SELECT DISTINCT * FROM ({SHINGLES_SQL(n, table, text_expr, id_col)})),
sizes AS (SELECT {id_col}, CAST(count(*) AS BIGINT) AS sz FROM sets_ GROUP BY {id_col}),
common AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, CAST(count(*) AS BIGINT) AS common
  FROM sets_ a JOIN sets_ b ON a.shingle = b.shingle AND a.{id_col} < b.{id_col}
  GROUP BY a.{id_col}, b.{id_col}
)
SELECT id_a, id_b, common,
       common / least(sa.sz, sb.sz) AS containment
FROM common
JOIN sizes sa ON sa.{id_col} = id_a
JOIN sizes sb ON sb.{id_col} = id_b
WHERE common * {threshold_den} >= least(sa.sz, sb.sz) * {threshold_num}
"""


# --- SimHash -----------------------------------------------------------------
# 32-bit SimHash over unigram tokens. Bits come from the first 8 hex chars of
# md5(token); per-bit votes (+1/-1) are summed per document; the signature
# packs sign(vote) bits. Written as ONE shared SQL text executed by both
# Spark SQL and DuckDB (identical integer arithmetic -> identical results).
# Spark-side it is still a single explode + groupBy(sum x32) — one shuffle.

HEX = "0123456789abcdef"


def simhash_sql(tokens_relation: str, id_col: str = "doc_id") -> str:
    """SQL over a relation (id, tok) producing (id, simhash BIGINT).

    bit_j(token) = bit (3 - j%4) of hex digit j/4 of md5(token);
    hexval(c) = instr('0123456789abcdef', c) - 1.
    """
    votes = []
    packs = []
    for j in range(32):
        digit = j // 4 + 1
        shift = 2 ** (3 - j % 4)
        bit = (
            f"(CAST(floor((instr('{HEX}', substr(md5(tok), {digit}, 1)) - 1) "
            f"/ {shift}) AS BIGINT) % 2)"
        )
        votes.append(f"sum(2 * {bit} - 1) AS v{j}")
        packs.append(f"CASE WHEN v{j} > 0 THEN CAST({2 ** j} AS BIGINT) ELSE 0 END")
    return f"""
SELECT {id_col}, {' + '.join(packs)} AS simhash
FROM (
  SELECT {id_col}, {', '.join(votes)}
  FROM ({tokens_relation})
  GROUP BY {id_col}
)
"""


def simhash(spark, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            view_name: str | None = None) -> DataFrame:
    import uuid

    view = view_name or f"omldm_simhash_{uuid.uuid4().hex[:8]}"
    toks = docs.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("tok")
    )
    toks.createOrReplaceTempView(view)
    return spark.sql(simhash_sql(f"SELECT * FROM {view}", id_col=id_col))


def _simhash_blocks(bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(offset, width) per pigeonhole block, near-equal widths."""
    base, rem = divmod(bits, n_blocks)
    out, off = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < rem else 0)
        out.append((off, w))
        off += w
    return out


def simhash_hamming_pairs(spark, docs: DataFrame, k: int = 4,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """All document pairs within Hamming distance ``k`` of each other's
    SimHash — via Manku-Jain-Sarma pigeonhole blocking (WWW 2007): split
    the 32-bit signature into k+1 blocks; any pair with <= k differing
    bits must agree EXACTLY on at least one block, so candidates come
    from k+1 equi-joins on (block_id, block_value) and only candidates
    pay the bit_count verify.  The oracle is the UNFILTERED quadratic
    Hamming join, so the blocking's losslessness is itself the gate
    (the prefix_filter_jaccard_pairs discipline).

    Scale shape: signatures are one row per doc; the block join is
    equi-keyed (md5-uniform values balance the shuffle); the quadratic
    blow-up exists only inside a (block_id, value) bucket — exactly the
    docs whose signatures agree on those bits."""
    b = k + 1
    sh = simhash(spark, docs, text_col=text_col, id_col=id_col)
    blocks = F.array(*[
        F.struct(
            F.lit(i).cast("long").alias("bid"),
            F.expr(f"(simhash div {1 << off}) % {1 << w}")
            .cast("long").alias("bval"),
        )
        for i, (off, w) in enumerate(_simhash_blocks(32, b))
    ])
    bl = sh.select(F.col(id_col), F.explode(blocks).alias("e")).select(
        id_col, "e.bid", "e.bval")
    cand = (
        bl.alias("x").join(bl.alias("y"), ["bid", "bval"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias("id_a"),
                F.col(f"y.{id_col}").alias("id_b"))
        .distinct()
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("ha"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("hb"))
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.expr("CAST(bit_count(ha ^ hb) AS BIGINT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= k)
    )


def SIMHASH_HAMMING_SQL(tokens_relation: str, k: int = 4,
                        id_col: str = "doc_id") -> str:
    """The unfiltered quadratic referee: every pair, exact bit_count —
    what the pigeonhole blocking must reproduce losslessly."""
    return f"""
WITH sh AS ({simhash_sql(tokens_relation, id_col=id_col)})
SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.{id_col} < b.{id_col}
WHERE bit_count(xor(a.simhash, b.simhash)) <= {k}
"""


# --- Winnowing (rolling-hash fingerprints) ----------------------------------
# Schleimer, Wilkerson, Aiken: "Winnowing: Local Algorithms for Document
# Fingerprinting", SIGMOD 2003. Character k-gram hashes; each window of w
# consecutive hashes contributes its minimum -> a position-robust fingerprint
# set whose density is guaranteed (2/(w+1)).
#
# Cross-engine determinism: the per-window minimum is taken over the string
# key md5(kgram) || '|' || zero-padded position, so ties and ordering are
# byte-identical in Spark and DuckDB.


def winnow_fingerprints(docs: DataFrame, k: int = 8, w: int = 4,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pos, hash) winnowing fingerprints. One explode + one window
    (partitioned by doc, ordered by position) + distinct — two shuffles,
    both keyed by doc id."""
    from pyspark.sql import Window

    n_kgrams = F.length(F.col(text_col)) - (k - 1)
    kgrams = docs.filter(n_kgrams >= w).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_kgrams),
                lambda i: F.md5(F.col(text_col).substr(i, F.lit(k))),
            )
        ).alias("pos", "h"),
    )
    key = F.concat(F.col("h"), F.lit("|"), F.lpad(F.col("pos").cast("string"), 10, "0"))
    win = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    )
    n_win = Window.partitionBy(id_col)
    selected = (
        kgrams.withColumn("sel", F.min(key).over(win))
        .withColumn("n", F.count(F.lit(1)).over(n_win))
        .filter(F.col("pos") <= F.col("n") - w)  # full windows only
        .select(id_col, "sel")
        .distinct()
    )
    return selected.select(
        F.col(id_col),
        F.split(F.col("sel"), r"\|").getItem(1).cast("int").alias("pos"),
        F.split(F.col("sel"), r"\|").getItem(0).alias("hash"),
    )


def WINNOW_SQL(k: int = 8, w: int = 4, table: str = "documents",
               text_expr: str = "text", id_col: str = "doc_id") -> str:
    return f"""
WITH kgrams AS (
  SELECT {id_col},
         CAST(unnest(range(0, length({text_expr}) - {k - 1})) AS INTEGER) AS pos,
         md5(substr({text_expr}, CAST(unnest(range(0, length({text_expr}) - {k - 1})) AS INTEGER) + 1, {k})) AS h
  FROM {table}
  WHERE length({text_expr}) - {k - 1} >= {w}
),
keyed AS (
  SELECT {id_col}, pos,
         h || '|' || lpad(CAST(pos AS VARCHAR), 10, '0') AS key,
         CAST(count(*) OVER (PARTITION BY {id_col}) AS INTEGER) AS n
  FROM kgrams
),
windowed AS (
  -- window over ALL rows first; filtering before OVER would truncate the
  -- trailing frames
  SELECT {id_col}, pos, n,
         min(key) OVER (PARTITION BY {id_col} ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS sel
  FROM keyed
),
selected AS (
  SELECT DISTINCT {id_col}, sel FROM windowed WHERE pos <= n - {w}
)
SELECT {id_col},
       CAST(split_part(sel, '|', 2) AS INTEGER) AS pos,
       split_part(sel, '|', 1) AS hash
FROM selected
"""


# ---------------------------------------------------------------------------
# Embedding near-dup at scale: random-hyperplane LSH + banded bucket join
# ---------------------------------------------------------------------------
#
# The brute-force all-pairs cosine (queries.dedup_embedding_cosine) is the
# within-bucket kernel; THIS is the 100 TB outer loop: H seeded hyperplanes
# give an H-bit SRP signature per vector; signatures split into B bands and
# candidate pairs are generated by a self-join per band (same shape as the
# MinHash LSH band join — one balanced shuffle), then the exact cosine
# filter runs only within buckets. Two colliding band bits ~ cos similarity
# (Charikar SRP): P(bit match) = 1 - theta/pi.
#
# Cross-engine determinism: hyperplane components are seeded and ROUNDED to
# 6 dp, embedded as literals in both the Spark plan and the DuckDB SQL, so
# the signatures — and therefore the candidate pair set — are identical.

def _hyperplanes(n_planes: int, dim: int, seed: int = 25):
    import numpy as np

    rng = np.random.default_rng(seed)
    return np.round(rng.standard_normal((n_planes, dim)), 6)


def embedding_lsh_pairs(
    emb: DataFrame,
    dim: int = 64,
    n_planes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs (cos >= threshold) found via SRP-LSH banding.

    Plan: scan -> signature (pure column math, no UDF) -> explode B band
    rows -> groupBy-join on (band, value) -> exact cosine on candidates.
    Shuffle volume: B rows per vector (tiny ints), then only candidate
    pairs; nothing all-pairs."""
    from ..functions.vector import cosine, to_double_array

    planes = _hyperplanes(n_planes, dim)
    per_band = n_planes // n_bands
    v = to_double_array(vec_col)
    base = emb.select(F.col(id_col).cast("long").alias("id"), v.alias("v"))
    bits = []
    for p in planes:
        pvec = F.array(*[F.lit(float(x)) for x in p])
        dot = F.aggregate(
            F.zip_with(F.col("v"), pvec, lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        bits.append((dot >= 0).cast("int"))
    bands = []
    for b in range(n_bands):
        val = None
        for bit in bits[b * per_band:(b + 1) * per_band]:
            val = bit if val is None else val * 2 + bit
        bands.append(F.struct(F.lit(b).alias("band"), val.alias("bval")))
    sig = base.select(
        "id", "v", F.explode(F.array(*bands)).alias("bb")
    ).select("id", "v", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    a = sig.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                   "band", "bval")
    b_ = sig.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                    "band", "bval")
    cand = (
        a.join(b_, ["band", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select(
            "id_a", "id_b",
            F.round(cosine("va", "vb"), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def EMBEDDING_LSH_SQL(
    dim: int = 64,
    n_planes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.4,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    planes = _hyperplanes(n_planes, dim)
    per_band = n_planes // n_bands

    def plane_lit(p):
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    bit_exprs = [
        f"CASE WHEN list_inner_product(v, {plane_lit(p)}) >= 0 THEN 1 ELSE 0 END"
        for p in planes
    ]
    band_vals = []
    for b in range(n_bands):
        val = bit_exprs[b * per_band]
        for bit in bit_exprs[b * per_band + 1:(b + 1) * per_band]:
            val = f"(({val}) * 2 + {bit})"
        band_vals.append(val)
    band_cols = ", ".join(f"{v} AS b{b}" for b, v in enumerate(band_vals))
    banded_union = "\n  UNION ALL ".join(
        f"SELECT id, v, {b} AS band, b{b} AS bval FROM sig"
        for b in range(n_bands)
    )
    return f"""
WITH emb AS (
  SELECT CAST({id_col} AS BIGINT) AS id,
         CAST({vec_col} AS DOUBLE[]) AS v
  FROM {table}
),
sig AS (SELECT id, v, {band_cols} FROM emb),
banded AS (
  {banded_union}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       round(list_inner_product(ea.v, eb.v)
             / (sqrt(list_inner_product(ea.v, ea.v))
                * sqrt(list_inner_product(eb.v, eb.v))), 6) AS cos_sim
FROM cand c
JOIN emb ea ON ea.id = c.id_a
JOIN emb eb ON eb.id = c.id_b
WHERE round(list_inner_product(ea.v, eb.v)
            / (sqrt(list_inner_product(ea.v, ea.v))
               * sqrt(list_inner_product(eb.v, eb.v))), 6) >= {threshold}
"""


def dedup_clusters(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   max_iter: int = 20, algorithm: str = "propagate",
                   ) -> DataFrame:
    """Connected components over candidate-pair edges -> duplicate CLUSTERS
    with a canonical keeper per cluster (cluster_id = min doc id reachable;
    keep = doc_id == cluster_id). The step a real dedup pipeline needs
    after LSH: transitive duplicates A~B, B~C collapse to ONE kept doc.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels (one keyed join + groupBy
    per round — all shuffles on doc id). Rounds needed = component
    diameter; near-dup clusters are shallow (2-4 hops), so this converges
    in a handful of rounds — convergence is detected by the strictly
    decreasing label SUM (min-propagation is monotone), one tiny agg per
    round. ``localCheckpoint`` truncates the growing lineage each round.
    For DEEP graphs (entity-resolution chains, transitive fuzzy
    matches) pass ``algorithm="stars"`` to run the alternating
    large-star/small-star rounds instead (``cc_alternating_stars``):
    same join shape per round, O(log n) rounds instead of
    diameter-many.
    """
    nodes = docs.select(F.col(id_col).cast("long").alias("id")).distinct()
    edges = (
        pairs.select(F.col("id_a").cast("long").alias("src"),
                     F.col("id_b").cast("long").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").cast("long").alias("src"),
                         F.col("id_a").cast("long").alias("dst")))
        .distinct()
    )
    if algorithm == "stars":
        labels, _ = cc_alternating_stars(nodes, edges, max_iter=max_iter)
        return labels.select(
            F.col("id").alias(id_col),
            F.col("lbl").alias("cluster_id"),
            (F.col("id") == F.col("lbl")).alias("keep"),
        )
    labels = nodes.select("id", F.col("id").alias("lbl")).localCheckpoint()
    prev_sum = labels.agg(F.sum("lbl")).first()[0]
    for _ in range(max_iter):
        nb = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy("dst").agg(F.min("lbl").alias("nlbl"))
        )
        labels = (
            labels.join(nb, labels["id"] == nb["dst"], "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias("lbl"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("lbl")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(
        F.col("id").alias(id_col),
        F.col("lbl").alias("cluster_id"),
        (F.col("id") == F.col("lbl")).alias("keep"),
    )


def cc_alternating_stars(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 12,
) -> tuple[DataFrame, int]:
    """O(log n)-round connected components: the alternating large-star /
    small-star algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014) — the scale path for DEEP
    components where min-label propagation's diameter-many rounds
    (``dedup_clusters``) would not terminate in time.

    Each round is two keyed shuffles over the CURRENT edge set only:

    * large-star: every node u computes m = min(neighbors ∪ {u}) and
      re-attaches each LARGER neighbor v to m — long chains fold toward
      small labels from everywhere at once;
    * small-star: every node u re-attaches its smaller neighbors (and
      itself) to its minimum neighbor — stars flatten.

    Both steps strictly shrink a monotone potential and converge to
    star graphs centered at each component's minimum id in O(log n)
    alternations (the chain test pins ⌈log₂ diameter⌉ + 1 on a
    100-long path).  Convergence is detected by a (count, sum, sum)
    fingerprint of the canonical edge set — one tiny agg per round —
    and ``localCheckpoint`` truncates lineage exactly like the
    propagation variant.

    ``nodes``: one column ``id``; ``edges``: ``src``/``dst`` (any
    direction, self-loops ignored).  Returns ``(labels, rounds)`` with
    labels (id, lbl = component min).
    """
    E = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint()
    )
    fp = E.agg(
        F.count(F.lit(1)), F.sum("a"), F.sum("b")
    ).first()
    rounds = 0
    for _ in range(max_iter):
        if fp[0] == 0:
            break
        rounds += 1
        # ---- large-star: (v, m_u) for every neighbor v > u ----------
        dirs = E.select(F.col("a").alias("u"), F.col("b").alias("v")) \
            .unionByName(E.select(F.col("b").alias("u"),
                                  F.col("a").alias("v")))
        mins = dirs.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("mv", F.col("u")).alias("m"))
        E = (
            dirs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # ---- small-star: attach smaller neighbors and self to the
        # minimum neighbor ------------------------------------------
        dirs = E.select(F.col("b").alias("u"), F.col("a").alias("v"))
        mins = dirs.groupBy("u").agg(F.min("v").alias("m"))
        att = dirs.join(mins, "u")
        E = (
            att.filter(F.col("v") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .unionByName(att.select(F.col("m").alias("a"),
                                    F.col("u").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        nfp = E.agg(F.count(F.lit(1)), F.sum("a"), F.sum("b")).first()
        if tuple(nfp) == tuple(fp):
            break
        fp = nfp
    stars = E.select(F.col("b").alias("id"), F.col("a").alias("lbl"))
    labels = (
        nodes.select("id")
        .join(stars, "id", "left")
        .select("id", F.coalesce("lbl", F.col("id")).alias("lbl"))
    )
    return labels, rounds


def DEDUP_CLUSTERS_SQL(pairs_sql: str, table: str = "documents",
                       id_col: str = "doc_id",
                       extra_ctes: list[str] | None = None) -> str:
    """Recursive-CTE oracle: the transitive closure of the symmetric edge
    set, then cluster_id = min reachable label per node (UNION dedup makes
    the recursion terminate).  ``extra_ctes`` are spliced flat ahead of
    the pair CTE so pairs_sql may reference them — required because the
    DuckDB binder rejects a nested WITH inside a WITH RECURSIVE member
    (the scored-ER oracle composes the Fellegi-Sunter CTEs this way)."""
    pre = "".join(c + ",\n" for c in (extra_ctes or []))
    return f"""
WITH RECURSIVE {pre}prs AS ({pairs_sql}),
edges AS (
  SELECT CAST(id_a AS BIGINT) AS src, CAST(id_b AS BIGINT) AS dst FROM prs
  UNION
  SELECT CAST(id_b AS BIGINT), CAST(id_a AS BIGINT) FROM prs
),
closure(src, lbl) AS (
  SELECT CAST({id_col} AS BIGINT), CAST({id_col} AS BIGINT) FROM {table}
  UNION
  SELECT e.dst, c.lbl FROM closure c JOIN edges e ON e.src = c.src
)
SELECT src AS {id_col}, min(lbl) AS cluster_id,
       (src = min(lbl)) AS keep
FROM closure GROUP BY src
"""


def decontaminate(docs: DataFrame, n: int = 8, eval_mod: int = 50,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    n-token shingle with the held-out eval split (here: doc_id % eval_mod
    == 0, the deterministic stand-in for an external benchmark table).

    The standard pretraining hygiene pass (long-n-gram overlap against eval
    sets). Output: one row per NON-eval doc with >= 1 shingle (docs shorter
    than n tokens have nothing to overlap and are absent — identically on
    both engines) — (doc_id, n_shingles, n_shared, contaminated) where
    n_shared counts distinct shingles also present in the eval set.

    Scale shape: ONE pass over the corpus shingles — a LEFT join against
    the DISTINCT eval shingles (the small benchmark suite: broadcast) marks
    each shingle, then a single per-doc aggregation computes both
    countDistincts (total + conditional). The corpus-side explode lineage
    is never evaluated twice; no all-pairs anywhere. Verified to find the
    planted near-duplicate of an eval doc in the synthetic corpus (exactly
    one contaminated doc at n=8).
    """
    sh = shingles(docs, n=n, text_col=text_col, id_col=id_col)
    is_eval = F.col(id_col) % eval_mod == 0
    eval_sh = (
        sh.filter(is_eval).select("shingle").distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus_sh = sh.filter(~is_eval)
    marked = corpus_sh.join(F.broadcast(eval_sh), "shingle", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.countDistinct("shingle").cast("long").alias("n_shingles"),
            F.countDistinct(
                F.when(F.col("_hit").isNotNull(), F.col("shingle"))
            ).cast("long").alias("n_shared"),
        )
        .select(
            F.col(id_col).cast("long").alias(id_col),
            "n_shingles",
            "n_shared",
            (F.col("n_shared") > 0).alias("contaminated"),
        )
    )


def DECONTAMINATE_SQL(n: int = 8, eval_mod: int = 50, table: str = "documents",
                      text_expr: str = "text", id_col: str = "doc_id") -> str:
    return f"""
WITH sh AS ({SHINGLES_SQL(n, table, text_expr, id_col)}),
ev AS (SELECT DISTINCT shingle FROM sh WHERE {id_col} % {eval_mod} = 0),
corp AS (SELECT {id_col}, shingle FROM sh WHERE {id_col} % {eval_mod} != 0),
totals AS (
  SELECT {id_col}, CAST(count(DISTINCT shingle) AS BIGINT) AS n_shingles
  FROM corp GROUP BY {id_col}
),
hits AS (
  SELECT c.{id_col}, CAST(count(DISTINCT c.shingle) AS BIGINT) AS n_shared
  FROM corp c JOIN ev USING (shingle) GROUP BY c.{id_col}
)
SELECT CAST(t.{id_col} AS BIGINT) AS {id_col}, t.n_shingles,
       coalesce(h.n_shared, 0) AS n_shared,
       coalesce(h.n_shared, 0) > 0 AS contaminated
FROM totals t LEFT JOIN hits h ON t.{id_col} = h.{id_col}
"""


def NEAR_DEDUP_ANCHOR_SQL(k: int = 8, bands: int = 4, n: int = 3,
                          table: str = "documents", text_expr: str = "text",
                          id_col: str = "doc_id") -> str:
    """Oracle for streaming/stateful.streaming_near_dedup under SINGLE-batch
    replay: per (band, bval) bucket the anchor is the global min doc id and
    every other member emits (doc_id, anchor_id, band). Mirrors the
    row-local signature math (min md5(i|shingle) per hash, md5-joined band
    values) in pure DuckDB list lambdas."""
    toks = TOKENS_SQL(text_expr)
    shingle_elems = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
    shingles = (
        f"list_transform(range(1, greatest(len(t) - {n - 1}, 0) + 1), "
        f"i -> {shingle_elems})"
    )
    sig = ", ".join(
        f"coalesce(list_min(list_transform(sh, s -> md5('{i}' || '|' || s))), "
        f"'~empty') AS s{i}"
        for i in range(k)
    )
    r = k // bands
    band_rows = " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, "
        f"md5({' || chr(124) || '.join(f's{b * r + j}' for j in range(r))}) AS bval "
        "FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH tok AS (SELECT {id_col}, {toks} AS t FROM {table}),
shs AS (SELECT {id_col}, t, {shingles} AS sh FROM tok),
sigs AS (SELECT {id_col}, {sig} FROM shs),
bandv AS ({band_rows}),
anch AS (
  SELECT band, bval, min({id_col}) AS anchor_id FROM bandv GROUP BY 1, 2
)
SELECT CAST(b.{id_col} AS BIGINT) AS doc_id,
       CAST(a.anchor_id AS BIGINT) AS anchor_id,
       CAST(b.band AS INTEGER) AS band
FROM bandv b JOIN anch a ON b.band = a.band AND b.bval = a.bval
WHERE b.{id_col} != a.anchor_id
"""


def dedup_canonical_corpus(docs: DataFrame, pairs: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """The materialization step after clustering: keep ONE canonical doc
    per duplicate cluster (min id) and emit the deduplicated corpus with
    its provenance — (doc_id, n_members, source, lang, text_fp).  This is
    what actually ships to training: dedup_clusters decides, this query
    rewrites the corpus.

    Scale: the cluster table is |docs| narrow rows; member counts are one
    groupBy over it; the final join back to documents is keyed on doc id
    (both sides hash-partition on it; only kept ids reach the probe).
    text_fp = md5(text) keeps the output narrow while still pinning the
    full text bit-for-bit against the oracle."""
    clusters = dedup_clusters(docs, pairs, id_col=id_col)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"))
    kept = clusters.filter(F.col("keep")).join(sizes, "cluster_id")
    return (
        kept.join(docs, kept[id_col] == docs[id_col])
        .select(
            docs[id_col].alias(id_col), "n_members", "source", "lang",
            F.md5(F.col("text")).alias("text_fp"),
        )
    )


def CANONICAL_CORPUS_SQL(pairs_sql: str, table: str = "documents",
                         id_col: str = "doc_id") -> str:
    return f"""
WITH RECURSIVE prs AS ({pairs_sql}),
edges AS (
  SELECT CAST(id_a AS BIGINT) AS src, CAST(id_b AS BIGINT) AS dst FROM prs
  UNION
  SELECT CAST(id_b AS BIGINT), CAST(id_a AS BIGINT) FROM prs
),
closure(src, lbl) AS (
  SELECT CAST({id_col} AS BIGINT), CAST({id_col} AS BIGINT) FROM {table}
  UNION
  SELECT e.dst, c.lbl FROM closure c JOIN edges e ON e.src = c.src
),
clusters AS (
  SELECT src AS {id_col}, min(lbl) AS cluster_id FROM closure GROUP BY src
),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
  FROM clusters GROUP BY 1
)
SELECT c.{id_col}, s.n_members, d.source, d.lang, md5(d.text) AS text_fp
FROM clusters c
JOIN sizes s ON s.cluster_id = c.cluster_id
JOIN {table} d ON d.{id_col} = c.{id_col}
WHERE c.{id_col} = c.cluster_id
"""


def incremental_dedup(new_docs: DataFrame, seen_fps: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Daily-ingestion dedup: admit only incoming docs whose normalization
    fingerprint is (a) absent from the already-ingested corpus and (b)
    first (min id) within the incoming batch itself.  The incremental
    complement of dedup_exact — at 100 TB you never re-dedup the corpus,
    you anti-join each day's batch against the persisted fingerprint
    table and append the survivors' fingerprints.

    Scale: both shuffles key on the fingerprint — a LEFT ANTI against
    seen_fps (narrow: one md5 column; at petabyte corpus scale this is
    the bucketed/bloom side) and one window MIN for within-batch ties.
    Output: (doc_id, fingerprint) of admitted docs."""
    from pyspark.sql import Window

    from ..functions.text import fingerprint

    fps = fingerprint(new_docs, text_col=text_col, id_col=id_col)
    fresh = fps.join(seen_fps.select("fingerprint"), "fingerprint",
                     "left_anti")
    w = Window.partitionBy("fingerprint")
    return (
        fresh.withColumn("_min_id", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_min_id"))
        .select(id_col, "fingerprint")
    )


def INCREMENTAL_DEDUP_SQL(table: str = "documents", text_expr: str = "text",
                          id_col: str = "doc_id", mod: int = 3) -> str:
    """Oracle over the deterministic corpus split: existing = id % mod
    != 0, incoming = id % mod == 0."""
    fp = f"md5(trim(regexp_replace(lower({text_expr}), '\\s+', ' ', 'g')))"
    return f"""
WITH fps AS (
  SELECT {id_col}, {fp} AS fingerprint FROM {table}
),
seen AS (
  SELECT DISTINCT fingerprint FROM fps WHERE {id_col} % {mod} <> 0
),
incoming AS (
  SELECT * FROM fps WHERE {id_col} % {mod} = 0
)
SELECT {id_col}, fingerprint
FROM (
  SELECT i.{id_col}, i.fingerprint,
         min(i.{id_col}) OVER (PARTITION BY i.fingerprint) AS min_id
  FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fingerprint = i.fingerprint)
)
WHERE {id_col} = min_id
"""


# ---------------------------------------------------------------------------
# Fellegi-Sunter record-linkage weights (entity resolution scoring)
# ---------------------------------------------------------------------------

# Shared double-arithmetic text for a field's ppm-quantized match weight:
# agree -> round(1e6 * ln(m / u)), disagree -> round(1e6 * ln((1-m)/(1-u)))
# with m = 0.9 fixed and u the field's random-agreement probability
# u_num / n^2.  EVERY literal CAST to DOUBLE (DuckDB parses bare decimals
# as DECIMAL — the NOTES_r4 trap); both engines evaluate the identical
# text over identical integers, so the quantized weight hash-matches.
def fs_weight_sql(agree: str, u_num: str, n: str) -> str:
    u = (f"(CAST({u_num} AS DOUBLE)"
         f" / (CAST({n} AS DOUBLE) * CAST({n} AS DOUBLE)))")
    m, one = "CAST(0.9 AS DOUBLE)", "CAST(1.0 AS DOUBLE)"
    ppm, half = "CAST(1000000.0 AS DOUBLE)", "CAST(0.5 AS DOUBLE)"
    return (
        f"CAST(floor(CASE WHEN {agree} = 1"
        f" THEN {ppm} * ln({m} / {u})"
        f" ELSE {ppm} * ln(({one} - {m}) / ({one} - {u})) END"
        f" + {half}) AS BIGINT)"
    )


def fs_tf_weight_sql(agree: str, cnt_v: str, u_num: str, n: str) -> str:
    """Value-specific (term-frequency-adjusted) agreement weight: a pair
    agreeing on a RARE value is stronger evidence than one agreeing on a
    common value — u for the agreement branch is the shared value's own
    frequency cnt_v/n (the Splink-style TF adjustment); disagreement
    keeps the field-level u.  Same shared-double-text discipline."""
    u_f = (f"(CAST({u_num} AS DOUBLE)"
           f" / (CAST({n} AS DOUBLE) * CAST({n} AS DOUBLE)))")
    u_v = f"(CAST({cnt_v} AS DOUBLE) / CAST({n} AS DOUBLE))"
    m, one = "CAST(0.9 AS DOUBLE)", "CAST(1.0 AS DOUBLE)"
    ppm, half = "CAST(1000000.0 AS DOUBLE)", "CAST(0.5 AS DOUBLE)"
    return (
        f"CAST(floor(CASE WHEN {agree} = 1"
        f" THEN {ppm} * ln({m} / {u_v})"
        f" ELSE {ppm} * ln(({one} - {m}) / ({one} - {u_f})) END"
        f" + {half}) AS BIGINT)"
    )


def fs_linkage_scores(records: DataFrame, pairs: DataFrame,
                      key_col: str, fields: list[str],
                      value_specific: bool = False) -> DataFrame:
    """Fellegi-Sunter pair scoring over candidate pairs.

    The probabilistic record-linkage layer after blocking: each compared
    field contributes log2/ln-odds evidence — positive when the pair
    AGREES on a field that random pairs rarely share, negative when it
    disagrees.  u (random-agreement probability) is estimated from the
    data itself as sum(cnt_v^2)/n^2 per field (the with-replacement
    approximation, exact integer arithmetic up to the final shared
    double text); m is the classic 0.9 prior.  Scores are ppm-quantized
    per field THEN summed, so the result is engine-exact.

    Scale shape: u-statistics are one tiny (field, value) groupBy whose
    key space is the distinct values (map-side combined); the per-pair
    score is a melt of the candidate pairs (|pairs| x |fields| rows)
    joined to the |fields|-row broadcast stats — no new quadratic
    anywhere; blocking already bounded |pairs|.

    Returns (key_a, key_b, n_agree, score_ppm), higher = more likely the
    same entity.  Reference analogue: none (beyond-reference ER surface,
    same family as fuzzy_name_pairs)."""
    n_fields = len(fields)
    melted = records.select(
        F.col(key_col).alias("k"),
        F.posexplode(
            F.array(*[F.col(f).cast("string") for f in fields])
        ).alias("field", "v"),
    )
    vcounts = melted.groupBy("field", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    stats = (
        vcounts.groupBy("field")
        .agg(F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("u_num"),
             F.sum("cnt").cast("long").alias("n"))
    )
    a = records.select(
        F.col(key_col).alias("key_a"),
        *[F.col(f).cast("string").alias(f"a_{f}") for f in fields])
    b = records.select(
        F.col(key_col).alias("key_b"),
        *[F.col(f).cast("string").alias(f"b_{f}") for f in fields])
    wide = pairs.join(a, "key_a").join(b, "key_b")
    flags = wide.select(
        "key_a", "key_b",
        F.posexplode(F.array(*[
            F.struct(
                F.when(F.col(f"a_{f}") == F.col(f"b_{f}"), 1)
                .otherwise(0).alias("agree"),
                F.when(F.col(f"a_{f}") == F.col(f"b_{f}"),
                       F.col(f"a_{f}")).alias("v"),
            )
            for f in fields
        ])).alias("field", "fl"),
    ).select("key_a", "key_b", "field", "fl.agree", "fl.v")
    if value_specific:
        # agreement joins the shared VALUE's own frequency; the
        # value-count table is distinct-values-sized (the robust_scaler
        # bound) and broadcastable per field
        scored = (
            flags.join(F.broadcast(stats), "field")
            .join(F.broadcast(vcounts), ["field", "v"], "left")
            .select(
                "key_a", "key_b", "agree",
                F.expr(fs_tf_weight_sql("agree", "cnt", "u_num", "n"))
                .alias("w_ppm"),
            )
        )
    else:
        scored = flags.join(F.broadcast(stats), "field").select(
            "key_a", "key_b", "agree",
            F.expr(fs_weight_sql("agree", "u_num", "n")).alias("w_ppm"),
        )
    return (
        scored.groupBy("key_a", "key_b")
        .agg(F.sum("agree").cast("long").alias("n_agree"),
             F.sum("w_ppm").cast("long").alias("score_ppm"))
    )


def FS_LINKAGE_CTES(pairs_sql: str, table: str, key_col: str,
                    fields: list[str],
                    value_specific: bool = False,
                    prs_name: str = "prs") -> list[str]:
    """The Fellegi-Sunter scoring as a FLAT list of ``name AS (body)``
    CTE strings ending in ``fs_scores`` (key_a, key_b, n_agree,
    score_ppm), so callers can splice them into a larger WITH list —
    DuckDB's binder cannot handle a nested WITH inside a WITH RECURSIVE
    member, so composed oracles (the scored ER closure) must flatten."""
    field_sel = " UNION ALL ".join(
        f"SELECT {key_col} AS k, {i} AS field,"
        f" CAST({f} AS VARCHAR) AS v FROM {table}"
        for i, f in enumerate(fields)
    )
    flag_sel = " UNION ALL ".join(
        f"SELECT key_a, key_b, {i} AS field,"
        f" CASE WHEN CAST(a.{f} AS VARCHAR) = CAST(b.{f} AS VARCHAR)"
        f" THEN 1 ELSE 0 END AS agree,"
        f" CASE WHEN CAST(a.{f} AS VARCHAR) = CAST(b.{f} AS VARCHAR)"
        f" THEN CAST(a.{f} AS VARCHAR) END AS v"
        f" FROM {prs_name} JOIN {table} a ON a.{key_col} = {prs_name}.key_a"
        f" JOIN {table} b ON b.{key_col} = {prs_name}.key_b"
        for i, f in enumerate(fields)
    )
    if value_specific:
        scored = f"""
  SELECT key_a, key_b, agree,
         {fs_tf_weight_sql("agree", "vc.cnt", "u_num", "n")} AS w_ppm
  FROM flags JOIN stats USING (field)
  LEFT JOIN vcounts vc USING (field, v)"""
    else:
        scored = f"""
  SELECT key_a, key_b, agree,
         {fs_weight_sql("agree", "u_num", "n")} AS w_ppm
  FROM flags JOIN stats USING (field)"""
    return [
        f"{prs_name} AS ({pairs_sql})",
        f"melted AS ({field_sel})",
        """vcounts AS (
  SELECT field, v, CAST(count(*) AS BIGINT) AS cnt
  FROM melted GROUP BY 1, 2
)""",
        """stats AS (
  SELECT field, CAST(sum(cnt * cnt) AS BIGINT) AS u_num,
         CAST(sum(cnt) AS BIGINT) AS n
  FROM vcounts GROUP BY field
)""",
        f"flags AS ({flag_sel})",
        f"scored AS ({scored}\n)",
        """fs_scores AS (
  SELECT key_a, key_b,
         CAST(sum(agree) AS BIGINT) AS n_agree,
         CAST(sum(w_ppm) AS BIGINT) AS score_ppm
  FROM scored GROUP BY 1, 2
)""",
    ]


def FS_LINKAGE_SQL(pairs_sql: str, table: str, key_col: str,
                   fields: list[str],
                   value_specific: bool = False) -> str:
    parts = FS_LINKAGE_CTES(pairs_sql, table, key_col, fields,
                            value_specific=value_specific)
    joined = ",\n".join(parts)
    return f"""
WITH {joined}
SELECT key_a, key_b, n_agree, score_ppm FROM fs_scores
"""


def incremental_cc_merge(prev_stars: DataFrame | None, new_edges: DataFrame,
                         max_iter: int = 12) -> DataFrame:
    """One incremental connected-components step: fold a BATCH of new
    edges into the star-compressed forest of everything seen so far.

    ``prev_stars`` is the previous state — (a=root, b=node) star edges,
    one row per non-root node (star compression preserves connectivity,
    so CC(stars ∪ batch) == CC(all historical edges ∪ batch)); the new
    state is again a star forest.  Because the carried state is already
    diameter-2, each batch converges in O(log batch-diameter)
    alternations regardless of history depth — the distributed
    union-find-forest pattern (per-batch work ∝ state + batch, never
    ∝ history).  Returns the new star edge set."""
    E = new_edges.select(F.col("src"), F.col("dst"))
    if prev_stars is not None:
        E = E.unionByName(
            prev_stars.select(F.col("a").alias("src"),
                              F.col("b").alias("dst")))
    nodes = (
        E.select(F.col("src").alias("id"))
        .unionByName(E.select(F.col("dst").alias("id")))
        .distinct()
    )
    labels, _ = cc_alternating_stars(nodes, E, max_iter=max_iter)
    return labels.filter(F.col("id") != F.col("lbl")).select(
        F.col("lbl").alias("a"), F.col("id").alias("b")
    )


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (AllPairs/PPJoin prefix filter)
# ---------------------------------------------------------------------------

def prefix_filter_jaccard_pairs(docs: DataFrame, threshold_num: int = 1,
                                threshold_den: int = 2,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                n: int | None = None) -> DataFrame:
    """Exact token-set Jaccard join with the AllPairs/PPJoin PREFIX
    FILTER (Bayardo et al. WWW'07; Xiao et al. WWW'08): a pair with
    J >= t MUST share a token among each side's first
    ``|d| - ceil(t*|d|) + 1`` tokens in the global rarity order, so the
    candidate join runs over the short rare-token prefixes instead of
    every posting — the standard way the posting-list join survives web
    scale, where one stop-word posting would otherwise pair everything
    with everything.  Verification then computes the EXACT Jaccard on
    survivors only (integer cross-multiplication).

    The filter is lossless, and the contract query's oracle IS the
    plain unfiltered Jaccard join — the optimization must be invisible
    in the result.  Ordering: ascending document frequency with the
    token string as the tie-break, so both engines (and every run) use
    the identical prefix.

    Scale: candidate generation shuffles only prefix tokens (rare by
    construction — each posting list is short); the one per-doc window
    that ranks tokens rides a doc-keyed exchange."""
    from pyspark.sql import Window

    if n is None:
        toks = (
            docs.select(F.col(id_col), F.explode(tokens_col(text_col))
                        .alias("tok"))
            .distinct()
        )
    else:
        # n-gram shingle sets: the selective representation when the
        # corpus shares most unigrams (templated text)
        toks = (
            shingles(docs, n=n, text_col=text_col, id_col=id_col)
            .select(F.col(id_col), F.col("shingle").alias("tok"))
            .distinct()
        )
    dfreq = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    sized = toks.join(dfreq, "tok")
    w = Window.partitionBy(id_col).orderBy("df", "tok")
    ranked = sized.select(
        id_col, "tok",
        F.row_number().over(w).cast("long").alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy(id_col)).cast("long")
        .alias("sz"),
    )
    # prefix length = sz - ceil(t*sz) + 1  (integer ceil via (a+b-1)/b)
    plen = (
        F.col("sz")
        - F.floor((F.col("sz") * threshold_num + threshold_den - 1)
                  / threshold_den).cast("long")
        + 1
    )
    prefix = ranked.filter(F.col("pos") <= plen).select(id_col, "tok")
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    cand = (
        pa.join(pb, (F.col("pa.tok") == F.col("pb.tok"))
                & (F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}")))
        .select(F.col(f"pa.{id_col}").alias("id_a"),
                F.col(f"pb.{id_col}").alias("id_b"))
        .distinct()
    )
    # exact verification over candidates only
    a, b = toks.alias("a"), toks.alias("b")
    common = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .join(cand, ["id_a", "id_b"], "left_semi")
    )
    sizes = ranked.select(id_col, "sz").distinct()
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sb"))
    return (
        common.join(sa, "id_a").join(sb, "id_b")
        .filter(F.col("common") * threshold_den
                >= (F.col("sa") + F.col("sb") - F.col("common"))
                * threshold_num)
        .select(
            "id_a", "id_b",
            (F.col("common")
             / (F.col("sa") + F.col("sb") - F.col("common")))
            .alias("jaccard"),
        )
    )


def cross_source_overlap(docs: DataFrame, n: int = 8,
                         text_col: str = "text", id_col: str = "doc_id",
                         src_col: str = "source") -> DataFrame:
    """Source-to-source contamination matrix: for every pair of corpus
    sources, how many distinct n-token shingles they SHARE, with the
    containment ratio against the smaller side — the corpus-hygiene
    report that catches one feed republishing another (mirrors, scrapes,
    syndication) before near-dup pair generation ever runs.

    Scale shape: distinct (source, shingle) postings (one groupBy whose
    key space is bounded by content, not rows), then the pair join runs
    PER SHINGLE over the few sources sharing it — quadratic only in the
    sources-per-shingle fan-out, never docs x docs; the 20-row per-source
    totals broadcast into the ratio."""
    sh = shingles(docs, n=n, text_col=text_col, id_col=id_col)
    # the distinct posting set fans out to THREE consumers (both sides of
    # the pair join + the totals agg); without materialization Spark
    # re-derives the whole corpus-scan + shingle pipeline per consumer
    # (measured: 16 parquet scans in the optimized plan).  Persist the
    # postings once — disk-backed, bounded by distinct content — and
    # every consumer reads the one materialized exchange.
    per_src = (
        sh.join(docs.select(id_col, src_col), id_col)
        .select(F.col(src_col).alias("src"), "shingle")
        .distinct()
        .persist()
    )
    totals = per_src.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"))
    a = per_src.select(F.col("src").alias("src_a"), "shingle")
    b = per_src.select(F.col("src").alias("src_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    ta = totals.select(F.col("src").alias("src_a"),
                       F.col("n_shingles").alias("tot_a"))
    tb = totals.select(F.col("src").alias("src_b"),
                       F.col("n_shingles").alias("tot_b"))
    return (
        shared.join(F.broadcast(ta), "src_a").join(F.broadcast(tb), "src_b")
        .select(
            "src_a", "src_b", "n_shared", "tot_a", "tot_b",
            F.expr("CAST(n_shared * 1000000 AS BIGINT)"
                   " div least(tot_a, tot_b)").alias("containment_ppm"),
        )
    )


def positioned_shingles(docs: DataFrame, n: int = 3,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(id, pos, shingle) with the 1-based token START position — the
    positional posting list that span analyses need (shingles() drops
    position).  Same projection-barrier discipline: the token array is
    pinned before the shingle lambda."""
    with_toks = docs.select(
        F.col(id_col),
        tokens_col(text_col).alias("_toks"),
        F.rand(27).alias("_pin"),
    ).drop("_pin")
    return with_toks.select(
        F.col(id_col),
        F.posexplode(shingle_array("_toks", n)).alias("pos0", "shingle"),
    ).select(
        F.col(id_col), (F.col("pos0") + 1).cast("long").alias("pos"),
        "shingle",
    )


def shared_span_pairs(docs: DataFrame, n: int = 3, min_tokens: int = 6,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Longest shared CONTIGUOUS token run per document pair — the
    substring-contamination report Jaccard dilutes away (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL
    2022 motivates exact substring dedup; this is its pairwise audit):
    a 50-token verbatim quote inside two long documents barely moves
    their Jaccard but is exactly the memorization vector you scrub.

    Algorithm: positional shingle postings join on the shingle, matches
    fall on diagonals (pos_a - pos_b), and maximal runs are
    gaps-and-islands per (pair, diagonal) — pos_a minus its rank is
    constant exactly along a consecutive run.  A run of L shingles
    covers L + n - 1 contiguous shared tokens.

    Scale shape: candidate pairs come from a posting join on
    MIN_TOKENS-GRAMS, not n-grams — a pair qualifies iff it shares a
    contiguous run of >= min_tokens tokens, which is EXACTLY sharing
    one min_tokens-gram, so the candidate set is lossless AND equals
    the output pair set; long shingles are geometrically rarer than
    the n-gram diagonals (vocab^min_tokens key space), so their
    posting lists stay short where the n-gram join was quadratic on
    templated text.  The n-gram diagonal machinery that computes the
    exact span/count statistics then runs only over docs that appear
    in some candidate pair (left-semi pruned on both join sides), and
    its matches are pair-semi-joined before the per-(pair, diagonal)
    windows — never global.

    Output: (doc_a, doc_b, span_tokens, n_spans) where span_tokens is
    the longest shared run and n_spans counts maximal shared runs."""
    from pyspark.sql import Window

    # both sides of the self-join read ONE materialization of the
    # positional posting set (same lesson as cross_source_overlap:
    # without it the tokenizer+shingle pipeline runs once per side)
    sp = positioned_shingles(docs, n=n, text_col=text_col,
                             id_col=id_col).persist()
    a = sp.select(F.col(id_col).alias("doc_a"),
                  F.col("pos").alias("pos_a"), "shingle")
    b = sp.select(F.col(id_col).alias("doc_b"),
                  F.col("pos").alias("pos_b"), "shingle")
    if min_tokens > n:
        # persisted: both candidate join sides read it
        spm = positioned_shingles(docs, n=min_tokens, text_col=text_col,
                                  id_col=id_col).persist()
        ca = spm.select(F.col(id_col).alias("doc_a"), "shingle")
        cb = spm.select(F.col(id_col).alias("doc_b"), "shingle")
        cand = (
            ca.join(cb, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
            .persist()
        )
        cdocs = (
            cand.select(F.col("doc_a").alias(id_col))
            .unionByName(cand.select(F.col("doc_b").alias(id_col)))
            .distinct()
        )
        a = a.join(cdocs.select(F.col(id_col).alias("doc_a")),
                   "doc_a", "left_semi")
        b = b.join(cdocs.select(F.col(id_col).alias("doc_b")),
                   "doc_b", "left_semi")
        m = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .join(cand, ["doc_a", "doc_b"], "left_semi")
            .select("doc_a", "doc_b", "pos_a",
                    (F.col("pos_a") - F.col("pos_b")).alias("diag"))
        )
    else:
        m = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "pos_a",
                    (F.col("pos_a") - F.col("pos_b")).alias("diag"))
        )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    isl = m.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    runs = (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("run_len"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("run_len") + (n - 1)).cast("long").alias("span_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_spans"),
        )
        .filter(F.col("span_tokens") >= min_tokens)
    )


def SHARED_SPAN_SQL(n: int = 3, min_tokens: int = 6,
                    table: str = "documents", text_expr: str = "text",
                    id_col: str = "doc_id") -> str:
    leads = ["tok"] + [f"lead(tok, {i}) OVER w" for i in range(1, n)]
    concat = " || ' ' || ".join(leads)
    return f"""
WITH sp AS (
  SELECT {id_col}, pos, shingle FROM (
    SELECT {id_col}, pos,
           {concat} AS shingle,
           lead(tok, {n - 1}) OVER w AS _last
    FROM (
      SELECT {id_col},
             unnest({TOKENS_SQL(text_expr)}) AS tok,
             generate_subscripts({TOKENS_SQL(text_expr)}, 1) AS pos
      FROM {table}
    )
    WINDOW w AS (PARTITION BY {id_col} ORDER BY pos)
  ) WHERE _last IS NOT NULL
),
m AS (
  SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
         a.pos AS pos_a, a.pos - b.pos AS diag
  FROM sp a JOIN sp b
    ON a.shingle = b.shingle AND a.{id_col} < b.{id_col}
),
isl AS (
  SELECT doc_a, doc_b, diag, pos_a,
         pos_a - row_number() OVER (
           PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
  FROM m
),
runs AS (
  SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS run_len
  FROM isl GROUP BY doc_a, doc_b, diag, grp
)
SELECT doc_a, doc_b,
       CAST(max(run_len) + {n - 1} AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_spans
FROM runs GROUP BY doc_a, doc_b
HAVING max(run_len) + {n - 1} >= {min_tokens}
"""


def cross_source_overlap_merge(prev, batch_docs: DataFrame, n: int = 8,
                               text_col: str = "text", id_col: str = "doc_id",
                               src_col: str = "source"):
    """One micro-batch fold of the source-contamination matrix — true
    incremental view maintenance, not recompute-from-state: carried
    state is (postings, shared, totals) and each batch only pays for
    its OWN postings plus the shingle-keyed probe of new postings
    against the accumulated set.

    A (pair, shingle) contribution transitions exactly once — the batch
    where the SECOND source first acquires the shingle — so the delta is
    (new x old postings on shingle) + (new x new, src_a < src_b), with
    no double count: a posting in N was anti-joined out of S, so an
    N x N pair can never also appear in N x S.  Counter merges are
    full-outer coalesce-sums keyed (src_a, src_b) / src — both bounded
    by the number of SOURCES, not rows.  At 100 TB the postings state
    is the only big side; bucket it by shingle so the per-batch probe
    co-locates without reshuffling history.

    Returns (postings, shared, totals); ``prev`` is None on the first
    batch or the same tuple from the previous fold."""
    return overlap_postings_merge(prev, (
        shingles(batch_docs, n=n, text_col=text_col, id_col=id_col)
        .join(batch_docs.select(id_col, src_col), id_col)
        .select(F.col(src_col).alias("src"), "shingle")
        .distinct()
    ))


def overlap_postings_merge(prev, P: DataFrame):
    """The fold of :func:`cross_source_overlap_merge` from a batch's
    distinct (src, shingle) postings ``P`` — which is also part 0 of
    the state ``cross_source_overlap_merge(None, batch)`` returns, so a
    batch's own state merges into ``prev`` through its postings."""
    if prev is None:
        S, shared0, totals0 = None, None, None
        N = P
    else:
        S, shared0, totals0 = prev
        N = P.join(S, ["src", "shingle"], "left_anti")
    new_new = (
        N.alias("x").join(N.alias("y"), "shingle")
        .filter(F.col("x.src") < F.col("y.src"))
        .select(F.col("x.src").alias("src_a"), F.col("y.src").alias("src_b"))
    )
    if S is not None:
        new_old = (
            N.alias("nw").join(S.alias("ol"), "shingle")
            .filter(F.col("nw.src") != F.col("ol.src"))
            .select(
                F.least("nw.src", "ol.src").alias("src_a"),
                F.greatest("nw.src", "ol.src").alias("src_b"),
            )
        )
        pair_delta = new_new.unionByName(new_old)
    else:
        pair_delta = new_new
    d_shared = (
        pair_delta.groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    if shared0 is None:
        shared = d_shared.select(
            "src_a", "src_b", F.col("d").alias("n_shared"))
    else:
        shared = (
            shared0.join(d_shared, ["src_a", "src_b"], "full_outer")
            .select(
                "src_a", "src_b",
                (F.coalesce("n_shared", F.lit(0).cast("long"))
                 + F.coalesce("d", F.lit(0).cast("long"))).alias("n_shared"),
            )
        )
    d_tot = N.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
    if totals0 is None:
        totals = d_tot.select("src", F.col("d").alias("n_shingles"))
    else:
        totals = (
            totals0.join(d_tot, "src", "full_outer")
            .select(
                "src",
                (F.coalesce("n_shingles", F.lit(0).cast("long"))
                 + F.coalesce("d", F.lit(0).cast("long")))
                .alias("n_shingles"),
            )
        )
    postings = P if S is None else S.unionByName(N)
    return postings, shared, totals


def overlap_matrix_from_counters(shared: DataFrame,
                                 totals: DataFrame) -> DataFrame:
    """Assemble the contamination report from the maintained counters —
    the same tail as cross_source_overlap, with the per-source totals
    broadcast into the ratio."""
    ta = totals.select(F.col("src").alias("src_a"),
                       F.col("n_shingles").alias("tot_a"))
    tb = totals.select(F.col("src").alias("src_b"),
                       F.col("n_shingles").alias("tot_b"))
    return (
        shared.join(F.broadcast(ta), "src_a").join(F.broadcast(tb), "src_b")
        .select(
            "src_a", "src_b", "n_shared", "tot_a", "tot_b",
            F.expr("CAST(n_shared * 1000000 AS BIGINT)"
                   " div least(tot_a, tot_b)").alias("containment_ppm"),
        )
    )


def CROSS_SOURCE_OVERLAP_SQL(n: int = 8, table: str = "documents",
                             text_expr: str = "text",
                             id_col: str = "doc_id",
                             src_col: str = "source") -> str:
    return f"""
WITH sh AS ({SHINGLES_SQL(n, table, text_expr, id_col)}),
per_src AS (
  SELECT DISTINCT d.{src_col} AS src, sh.shingle
  FROM sh JOIN {table} d ON d.{id_col} = sh.{id_col}
),
totals AS (
  SELECT src, CAST(count(*) AS BIGINT) AS n_shingles
  FROM per_src GROUP BY src
),
shared AS (
  SELECT a.src AS src_a, b.src AS src_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM per_src a JOIN per_src b
    ON a.shingle = b.shingle AND a.src < b.src
  GROUP BY 1, 2
)
SELECT s.src_a, s.src_b, s.n_shared,
       ta.n_shingles AS tot_a, tb.n_shingles AS tot_b,
       (s.n_shared * 1000000) // least(ta.n_shingles, tb.n_shingles)
         AS containment_ppm
FROM shared s
JOIN totals ta ON ta.src = s.src_a
JOIN totals tb ON tb.src = s.src_b
"""


# ---------------------------------------------------------------------------
# PassJoin: lossless segment-blocked edit-distance pair join
# ---------------------------------------------------------------------------

def passjoin_edit_pairs(docs: DataFrame, prefix_len: int = 30,
                        n_segs: int = 3, max_dist: int = 2,
                        text_col: str = "text", id_col: str = "doc_id",
                        len_col: str = "n_chars") -> DataFrame:
    """All document pairs whose ``prefix_len``-char prefixes are within
    Levenshtein distance ``max_dist`` — WITHOUT the quadratic all-pairs
    scan, via PassJoin segment blocking (Li, Deng, Feng ICDE 2011).

    Pigeonhole: partition one string of a pair into ``n_segs`` =
    max_dist+1 contiguous segments; if ed <= max_dist, the OTHER string
    contains at least one segment verbatim, starting within +-max_dist
    of the segment's own start.  So the larger-id doc of each candidate
    pair posts its exact segments (index side), every doc posts all
    substrings of segment length at starts within the band (probe
    side), and candidates are the DISTINCT pair hits of one equi-join
    on (segment_idx, gram) — per-bucket cost is quadratic in SEGMENT
    collision count, never in corpus size.  Survivors verify with the
    exact Levenshtein (identical classic implementation on both
    engines), so the result equals the unfiltered quadratic join: the
    blocking's losslessness is the oracle gate.  Fixed-length prefixes
    (docs shorter than ``prefix_len`` are excluded) keep the segment
    geometry static; the general variable-length op adds the standard
    |len_a - len_b| <= d length filter in front.  At web scale the
    known hot spot is a low-entropy segment shared by many docs — the
    standard mitigation (segment-frequency cap + a second pass on a
    different partition) composes without changing the contract."""
    assert n_segs == max_dist + 1
    q = prefix_len // n_segs
    starts = [1 + i * q for i in range(n_segs)]
    s = docs.filter(F.col(len_col) >= prefix_len).select(
        F.col(id_col).alias("id"),
        F.substring(text_col, 1, prefix_len).alias("s"),
    )
    idx_specs = F.array(*[
        F.struct(F.lit(i).alias("seg"), F.lit(st).alias("st"))
        for i, st in enumerate(starts)])
    probe_specs = F.array(*[
        F.struct(F.lit(i).alias("seg"), F.lit(p).alias("st"))
        for i, st in enumerate(starts)
        for p in range(max(1, st - max_dist),
                       min(prefix_len - q + 1, st + max_dist) + 1)])
    index = s.select(
        F.col("id").alias("id_b"), F.col("s").alias("s_b"),
        F.explode(idx_specs).alias("sp"),
    ).select("id_b", "s_b", F.col("sp.seg").alias("seg"),
             F.expr(f"substring(s_b, sp.st, {q})").alias("gram"))
    probe = s.select(
        F.col("id").alias("id_a"), F.col("s").alias("s_a"),
        F.explode(probe_specs).alias("sp"),
    ).select("id_a", "s_a", F.col("sp.seg").alias("seg"),
             F.expr(f"substring(s_a, sp.st, {q})").alias("gram"))
    cand = (
        probe.join(index, ["seg", "gram"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "s_a", "s_b")
        .distinct()
    )
    dist = F.levenshtein("s_a", "s_b")
    return cand.filter(dist <= max_dist).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
        dist.cast("long").alias("dist"))


# ---------------------------------------------------------------------------
# LSH banding calibration: precision/recall vs exact Jaccard truth
# ---------------------------------------------------------------------------

def lsh_pr_calibration(docs: DataFrame, k: int = 8, n: int = 3,
                       bands_sweep: tuple = (1, 2, 4, 8),
                       threshold_num: int = 1, threshold_den: int = 5,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Banding-parameter calibration report: for each bands config the
    LSH candidate set is scored against the EXACT Jaccard >= num/den
    pair set (the operating point the near-dup pipeline targets), so
    the S-curve trade the Leskovec/Rajaraman/Ullman banding analysis
    predicts (more bands -> higher recall, lower precision) is measured
    on the actual corpus rather than assumed.  This is how b and r get
    picked before a 100 TB run — on a sample, with the exact join as
    referee, exactly this query.

    Signatures are computed ONCE and reused across configs; the truth
    join is the posting-list Jaccard self-join.  Each config's
    (tp, n_candidates) reduce to ONE row via bounded aggregates and
    one-row broadcast cross joins — nothing quadratic beyond the truth
    join itself, no collect.

    Output: one row per bands config — (bands, n_candidates, n_truth,
    tp, fp, fn, precision_ppm, recall_ppm); ppm are truncating integer
    divisions, NULL when the denominator is 0.
    """
    sigs = minhash_signatures(docs, k=k, n=n, text_col=text_col,
                              id_col=id_col).persist()
    truth = (
        ngram_jaccard_pairs(docs, n=n, threshold_num=threshold_num,
                            threshold_den=threshold_den,
                            text_col=text_col, id_col=id_col)
        .select("id_a", "id_b").persist()
    )
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    reports = []
    for bands in bands_sweep:
        cand = lsh_candidate_pairs(sigs, k=k, bands=bands,
                                   id_col=id_col).persist()
        nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        tp = (cand.join(truth, ["id_a", "id_b"])
              .agg(F.count(F.lit(1)).cast("long").alias("tp")))
        reports.append(
            nc.crossJoin(F.broadcast(tp)).crossJoin(F.broadcast(nt))
            .select(
                F.lit(bands).cast("long").alias("bands"),
                "n_candidates", "n_truth", "tp",
                (F.col("n_candidates") - F.col("tp")).alias("fp"),
                (F.col("n_truth") - F.col("tp")).alias("fn"),
                F.expr("CASE WHEN n_candidates > 0"
                       " THEN tp * 1000000 div n_candidates END")
                .alias("precision_ppm"),
                F.expr("CASE WHEN n_truth > 0"
                       " THEN tp * 1000000 div n_truth END")
                .alias("recall_ppm"),
            ))
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def LSH_PR_CALIBRATION_SQL(k: int = 8, n: int = 3,
                           bands_sweep: tuple = (1, 2, 4, 8),
                           threshold_num: int = 1, threshold_den: int = 5,
                           table: str = "documents",
                           text_expr: str = "text",
                           id_col: str = "doc_id") -> str:
    """Flattened oracle: sigs + per-config banded candidate sets +
    the exact-Jaccard truth set (nested WITH inside a FROM-subquery is
    binder-safe here — no window/QUALIFY consumers), then one report
    row per config.  Heavy reused parts are MATERIALIZED (the ktruss
    fd lesson)."""
    parts = [f"sigs AS MATERIALIZED ({MINHASH_SQL(k, n, table, text_expr, id_col)})",
             "truth AS MATERIALIZED (SELECT id_a, id_b FROM ("
             + JACCARD_PAIRS_SQL(n, threshold_num, threshold_den, table,
                                 text_expr, id_col)
             + "))"]
    selects = []
    for bands in bands_sweep:
        rpb = k // bands
        band_selects = " UNION ALL ".join(
            f"SELECT {id_col}, {b} AS band_idx, "
            + " || ".join(f"h{i}" for i in range(b * rpb, (b + 1) * rpb))
            + " AS band_val FROM sigs"
            for b in range(bands))
        parts.append(f"banded{bands} AS ({band_selects})")
        parts.append(f"""cand{bands} AS MATERIALIZED (
  SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM banded{bands} a JOIN banded{bands} b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.{id_col} < b.{id_col})""")
        parts.append(f"""rep{bands} AS (
  SELECT CAST({bands} AS BIGINT) AS bands,
         (SELECT CAST(count(*) AS BIGINT) FROM cand{bands}) AS n_candidates,
         (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         (SELECT CAST(count(*) AS BIGINT)
            FROM cand{bands} c JOIN truth t
              ON c.id_a = t.id_a AND c.id_b = t.id_b) AS tp)""")
        selects.append(
            f"SELECT bands, n_candidates, n_truth, tp,"
            f" n_candidates - tp AS fp, n_truth - tp AS fn,"
            f" CASE WHEN n_candidates > 0"
            f" THEN tp * 1000000 // n_candidates END AS precision_ppm,"
            f" CASE WHEN n_truth > 0"
            f" THEN tp * 1000000 // n_truth END AS recall_ppm"
            f" FROM rep{bands}")
    return ("WITH " + ",\n".join(parts) + "\n"
            + "\nUNION ALL ".join(selects))


CDC_WINDOW = 4      # rolling-hash window (bytes)
CDC_DIVISOR = 17    # boundary when h % 17 == 0 -> mean chunk ~17 bytes
_CDC_B = 31         # polynomial base


def _cdc_poly(col: str, pos: str) -> str:
    """Shared-text rolling polynomial over the WINDOW ending at ``pos``
    (requires pos >= CDC_WINDOW): Σ (codepoint % 256)·B^j.  The % 256
    folds non-ASCII codepoints to a byte-sized term (review r11:
    ascii() returns the FULL Unicode codepoint, up to 1,114,111 — the
    unfolded product codepoint·B³ would pass int32 and wrap on Spark
    while DuckDB raises); max folded term 255·B³ < 8e6, overflow-free
    on both engines for any input text."""
    return " + ".join(
        f"(ascii(substr({col}, CAST({pos} - {j} AS INT), 1)) % 256)"
        f" * {_CDC_B ** j}"
        for j in range(CDC_WINDOW))


def cdc_chunk_dedup(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    group_col: str = "source") -> DataFrame:
    """Content-defined-chunking dedup report (the Rabin/FastCDC
    storage-dedup primitive — Muthitacharoen et al., SOSP 2001 LBFS):
    chunk boundaries fall where a rolling hash of the last 4 bytes
    hits 0 mod 17, so an INSERTION early in a payload only reshapes
    the chunks it touches — unlike fixed-size chunks, where one shifted
    byte re-fingerprints the whole tail.  This is how 100 TB of
    media/binary payloads dedups at the storage layer; here the text
    column stands in for the byte payload (the multimodal framing
    discipline — the plumbing is real, the bytes are synthetic).

    Per group: (group, n_docs, n_chunks, n_distinct_chunks,
    total_chars, distinct_chars, savings_ppm) where distinct counts
    collapse by chunk md5 fingerprint within the group and savings =
    (total − distinct)·1e6 div total.

    Scale: chunk spans are computed ROW-LOCALLY — the boundary
    positions are an array filter over the in-row byte positions and
    the spans zip adjacent boundaries, so ONE row per CHUNK (not per
    byte) leaves the scan.  The only payload-scale exchange left is
    the map-side-combined (group, fingerprint) aggregation; nothing
    quadratic, no window, no join-back, no UDFs.  (r12-opt: the
    previous shape exploded a per-byte (did, p, flag) frame through a
    doc-keyed running-sum window + a (doc, chunk) groupBy + a text
    join-back — O(total bytes) rows shuffled twice for flag math that
    never needed to leave the row; the boundary rule is unchanged.)"""
    base = docs.select(
        F.col(group_col).alias("grp"), F.col(text_col).alias("t"),
    ).where(F.length("t") >= 1)
    # The string is split to a per-char array ONCE (O(len)); every
    # position read after that is an O(1) element_at.  This is the
    # load-bearing half of the rewrite: ascii(substr(t, p, 1)) scans
    # the string's UTF-8 bytes from the start for EVERY position, so
    # the per-byte form paid O(len^2) byte scans per doc (measured: the
    # shuffle removal alone was time-neutral at sf0.1 — the quadratic
    # substr dominated both shapes).  cp folds codepoints % 256 exactly
    # like _cdc_poly's terms.
    poly = " + ".join(
        f"element_at(cp, p - {j}) * {_CDC_B ** j}"
        for j in range(CDC_WINDOW))
    # boundary positions p in [WINDOW, len] with poly(last 4 bytes) % 17
    # == 0 — the exact flag rule of the per-byte form, kept in-row.
    # The len >= WINDOW guard matters: sequence(4, 3) is DESCENDING.
    bounds = (
        f"CASE WHEN size(cp) >= {CDC_WINDOW}"
        f" THEN filter(sequence({CDC_WINDOW}, size(cp)),"
        f" p -> ({poly}) % {CDC_DIVISOR} = 0)"
        f" ELSE CAST(array() AS ARRAY<INT>) END"
    )
    # span i: cs = (i = 0 ? 1 : b[i] + 1), ce = (i = n ? len : b[i+1]);
    # the cs <= ce filter drops only the empty tail (last byte flagged).
    spans = (
        "filter(transform(sequence(0, size(b)), i -> struct("
        " CASE WHEN i = 0 THEN 1 ELSE element_at(b, i) + 1 END AS cs,"
        " CASE WHEN i = size(b) THEN size(ch)"
        "      ELSE element_at(b, i + 1) END AS ce)),"
        " s -> s.cs <= s.ce)"
    )
    chunks = (
        base.withColumn("ch", F.expr("split(t, '')"))
        .withColumn("cp", F.expr("transform(ch, c -> ascii(c) % 256)"))
        .withColumn("b", F.expr(bounds))
        # the chunk text re-concatenates from the char array (O(chunk)
        # slices) — substr(t, cs, ...) would re-scan from byte 0 per chunk
        .select("grp", "ch", F.explode(F.expr(spans)).alias("s"))
        .select(
            "grp",
            (F.col("s.ce") - F.col("s.cs") + 1).cast("long").alias("clen"),
            F.md5(F.expr(
                "array_join(slice(ch, s.cs, s.ce - s.cs + 1), '')"))
            .alias("fp"),
        )
    )
    per_fp = chunks.groupBy("grp", "fp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("clen").cast("long").alias("clen"),
    )
    docs_per_grp = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    rep = per_fp.groupBy("grp").agg(
        F.sum("n").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_chunks"),
        F.sum(F.expr("n * clen")).cast("long").alias("total_chars"),
        F.sum("clen").cast("long").alias("distinct_chars"),
    )
    return (
        rep.join(docs_per_grp, "grp")
        .select(
            F.col("grp").alias(group_col), "n_docs", "n_chunks",
            "n_distinct_chunks", "total_chars", "distinct_chars",
            F.expr("(total_chars - distinct_chars) * 1000000"
                   " div total_chars").cast("long").alias("savings_ppm"),
        )
    )


def CDC_CHUNK_SQL(table: str = "documents", text_expr: str = "text",
                  id_col: str = "doc_id", group_col: str = "source") -> str:
    return f"""
WITH base AS (
  SELECT {id_col} AS did, {group_col} AS grp, {text_expr} AS t
  FROM {table} WHERE length({text_expr}) >= 1
),
pos AS (
  SELECT did, grp, t, CAST(u.p AS BIGINT) AS p,
         CASE WHEN u.p >= {CDC_WINDOW} AND
              ({_cdc_poly('t', 'u.p')}) % {CDC_DIVISOR} = 0
         THEN 1 ELSE 0 END AS flag
  FROM base, unnest(range(1, CAST(length(t) AS BIGINT) + 1)) AS u(p)
),
chunked AS (
  SELECT did, grp, t, p,
         CAST(sum(flag) OVER (PARTITION BY did ORDER BY p
              ROWS UNBOUNDED PRECEDING) - flag AS BIGINT) AS chunk_no
  FROM pos
),
chunks AS (
  SELECT did, grp,
         CAST(max(p) - min(p) + 1 AS BIGINT) AS clen,
         md5(substr(max(t), CAST(min(p) AS INT),
                    CAST(max(p) - min(p) + 1 AS INT))) AS fp
  FROM chunked GROUP BY did, grp, chunk_no
),
per_fp AS (
  SELECT grp, fp, CAST(count(*) AS BIGINT) AS n,
         CAST(max(clen) AS BIGINT) AS clen
  FROM chunks GROUP BY 1, 2
),
dg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_docs FROM base GROUP BY 1),
rep AS (
  SELECT grp, CAST(sum(n) AS BIGINT) AS n_chunks,
         CAST(count(*) AS BIGINT) AS n_distinct_chunks,
         CAST(sum(n * clen) AS BIGINT) AS total_chars,
         CAST(sum(clen) AS BIGINT) AS distinct_chars
  FROM per_fp GROUP BY 1
)
SELECT rep.grp AS {group_col}, dg.n_docs, n_chunks, n_distinct_chunks,
       total_chars, distinct_chars,
       CAST((total_chars - distinct_chars) * 1000000 // total_chars
            AS BIGINT) AS savings_ppm
FROM rep JOIN dg ON dg.grp = rep.grp
"""


BOILER_N = 5            # n-gram width of the template detector
BOILER_MIN_SHARE = 200_000   # report n-grams in >= 20% of a source's docs
BOILER_TOP = 10         # per source


def boilerplate_ngrams(docs: DataFrame, n: int = BOILER_N,
                       min_share_ppm: int = BOILER_MIN_SHARE,
                       top_n: int = BOILER_TOP,
                       text_col: str = "text", id_col: str = "doc_id",
                       group_col: str = "source") -> DataFrame:
    """Per-source boilerplate detector (the CCNet/RefinedWeb template-
    removal shape, doc-frequency form): an n-gram that appears in a
    large share of ONE source's documents is template chrome (nav
    bars, footers, license blurbs), not content — the thing paragraph
    dedup removes before any quality scoring.  Reports, per source,
    the top n-grams by DOC share (distinct-doc counts, so a doc
    repeating its own footer counts once).

    Output: (source, ngram, n_docs_with, n_docs, doc_share_ppm, rank)
    for n-grams at or above ``min_share_ppm``.

    Scale: one token-position explode (corpus-linear), a distinct
    (source, ngram, doc) collapse feeding a (source, ngram) count —
    both map-side combined; the share join is a |sources|-row
    broadcast; top-n is a source-keyed window."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("did"), F.col(group_col).alias("grp"),
        tokens_col(text_col).alias("tk"),
    ).where(F.size("tk") >= n)
    grams = toks.select(
        "did", "grp",
        F.explode(F.sequence(F.lit(1), F.size("tk") - (n - 1)))
        .alias("i"),
        F.col("tk"),
    ).select(
        "did", "grp",
        F.expr(f"array_join(slice(tk, i, {n}), ' ')").alias("ngram"),
    ).distinct()
    df_cnt = grams.groupBy("grp", "ngram").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_with"))
    per_grp = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    shared = (
        df_cnt.join(F.broadcast(per_grp), "grp")
        .select(
            "grp", "ngram", "n_docs_with", "n_docs",
            F.expr("n_docs_with * 1000000 div n_docs").cast("long")
            .alias("doc_share_ppm"),
        )
        .where(F.col("doc_share_ppm") >= min_share_ppm)
    )
    w = Window.partitionBy("grp").orderBy(
        F.desc("doc_share_ppm"), "ngram")
    return (
        shared.select("*", F.row_number().over(w).cast("long")
                      .alias("rank"))
        .where(F.col("rank") <= top_n)
        .select(F.col("grp").alias(group_col), "ngram", "n_docs_with",
                "n_docs", "doc_share_ppm", "rank")
    )


def BOILERPLATE_SQL(n: int = BOILER_N,
                    min_share_ppm: int = BOILER_MIN_SHARE,
                    top_n: int = BOILER_TOP, table: str = "documents",
                    text_expr: str = "text", id_col: str = "doc_id",
                    group_col: str = "source") -> str:
    return f"""
WITH toked AS (
  SELECT {id_col} AS did, {group_col} AS grp,
         {TOKENS_SQL(text_expr)} AS tk
  FROM {table}
  WHERE len({TOKENS_SQL(text_expr)}) >= {n}
),
grams AS (
  SELECT DISTINCT did, grp,
         array_to_string(tk[CAST(u.i AS BIGINT):CAST(u.i + {n} - 1
                          AS BIGINT)], ' ') AS ngram
  FROM toked,
       unnest(range(1, CAST(len(tk) - {n - 1} AS BIGINT) + 1)) AS u(i)
),
df_cnt AS (
  SELECT grp, ngram, CAST(count(*) AS BIGINT) AS n_docs_with
  FROM grams GROUP BY 1, 2
),
per_grp AS (
  SELECT {group_col} AS grp, CAST(count(*) AS BIGINT) AS n_docs
  FROM {table} GROUP BY 1
),
shared AS (
  SELECT d.grp, d.ngram, d.n_docs_with, p.n_docs,
         CAST(d.n_docs_with * 1000000 // p.n_docs AS BIGINT)
           AS doc_share_ppm
  FROM df_cnt d JOIN per_grp p ON p.grp = d.grp
  WHERE d.n_docs_with * 1000000 // p.n_docs >= {min_share_ppm}
)
SELECT grp AS {group_col}, ngram, n_docs_with, n_docs, doc_share_ppm,
       CAST(row_number() OVER (PARTITION BY grp
            ORDER BY doc_share_ppm DESC, ngram) AS BIGINT) AS rank
FROM shared
QUALIFY rank <= {top_n}
"""
