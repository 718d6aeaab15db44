"""Physical-plan audit: assert the scale-critical plan properties the README
promises (broadcast joins, partial aggregation, column pruning, codegen) so
regressions in plan shape fail loudly. Usage:

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import re
import sys

sys.path.insert(0, ".")

from omldm_spark.queries import QUERIES  # noqa: E402
from omldm_spark.session import get_spark  # noqa: E402

CHECKS = {
    # query -> list of (description, predicate over plan text)
    "url_canonical_dedup": [
        # map-only canonicalization pipelines into the scan; the dedup
        # itself is one groupBy — the two countDistincts expand into
        # Spark's canonical two-phase distinct aggregate, so exactly
        # TWO keyed exchanges and never more (no join, no window)
        ("no join anywhere", lambda p: "Join" not in p),
        ("at most the two distinct-agg shuffles",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 2),
        ("counts partially aggregate",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "url_host_report": [
        ("no join anywhere", lambda p: "Join" not in p),
        ("at most the two distinct-agg shuffles",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 2),
        ("counts partially aggregate",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "plsa_topic_round": [
        # r12-opt: the 2k md5 affinities ride broadcast doc/term
        # DIMENSION frames (one fold per distinct key — the blessed
        # factor-matrix shape of a real multi-round EM); the only
        # joins are those broadcast attachments, never shuffled and
        # never cartesian; no per-topic shuffle exists
        ("affinity dims broadcast, no shuffled/cartesian join",
         lambda p: "BroadcastHashJoin" in p
         and "SortMergeJoin" not in p
         and "CartesianProduct" not in p),
        ("postings + M-step aggregations map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
        ("top-n window keyed by topic (never single-partition)",
         lambda p: "SinglePartition" not in p),
    ],
    "embedding_silhouette_report": [
        # the |labels| x dim centroid table broadcasts into the distance
        # pass; everything else is keyed aggregation
        ("centroids broadcast", lambda p: "BroadcastHashJoin" in p),
        ("no cartesian", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("distance + rollup aggs map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    "plsa_two_rounds": [
        # r13-opt: BOTH rounds' factor frames (round-1 affinity dims
        # AND the round-2 a2/b2 k-wide dims) broadcast onto the
        # persisted postings — no shuffled posting-scale join exists;
        # the (doc, term) normalizer window became a row-local sum of
        # the k num columns, so the only window left is the vocab-scale
        # top-n
        ("all factor attachments broadcast, never shuffled/cartesian",
         lambda p: len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) >= 4
         and "SortMergeJoin" not in p
         and "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("no single-partition window",
         lambda p: "SinglePartition" not in p),
        ("only the vocab-scale top-n window survives",
         lambda p: len(re.findall(r"\(\d+\) Window\b", p)) <= 1),
        ("M-step aggs map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    "audio_frame_energy": [
        # two explodes + ONE keyed aggregate: no joins, no windows
        ("no join anywhere", lambda p: "Join" not in p),
        ("no window", lambda p: "Window" not in p),
        ("frame aggregate map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "corpus_datasheet": [
        ("single scan of documents",
         lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
        ("no join anywhere", lambda p: "Join" not in p),
        ("expand-based multi-distinct", lambda p: "Expand" in p),
    ],
    "betweenness_sampled": [
        # forward BFS + DAG + backward deltas: keyed equi-joins and
        # anti-joins only; per-round state lineage-truncated
        # NOTE: the forward BFS (keyed joins + LeftAnti frontier
        # pruning) materializes EAGERLY during construction, so the
        # final frame's plan shows only the backward tail over RDD
        # scans — the anti-join is asserted by the referee test
        # (tests/test_wl.py) instead of plan text
        ("no cartesian anywhere",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("round state lineage-truncated",
         lambda p: "ExistingRDD" in p or "Scan RDD" in p),
    ],
    "lcc_epsilon_vertices": [
        # degree-oriented triangle enumeration: keyed equi-joins only
        ("no cartesian", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("corner + degree counts map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    "logreg_irls_round": [
        # one Gram aggregate + a 1-row weight frame broadcast back over
        # the points (the cross join is the bounded weight row)
        ("gram aggregate map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("no shuffle-side join",
         lambda p: "SortMergeJoin" not in p
         and "ShuffledHashJoin" not in p),
    ],
    "char_simpson_scores": [
        ("no join anywhere", lambda p: "Join" not in p),
        ("histogram + rollup aggs map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    "url_frontier_ingest": [
        # admission is ONE canonical-keyed anti join + one min agg
        ("anti join on the canonical key", lambda p: "LeftAnti" in p),
        ("no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "url_host_quota_sample": [
        # distinct pages collapse BEFORE the host-keyed quota window
        ("keyed quota window, never single-partition",
         lambda p: "SinglePartition" not in p and "row_number" in p),
        ("page collapse map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "tpch_q2_like": [
        # fact shuffles once on (partkey, suppkey); the per-part MIN is a
        # window over the aggregated rows — dims broadcast, fact never does
        # rs nests broadcast(nation)+broadcast(region) and is used twice
        # (3 hints x 2 uses) + broadcast(part) = 7 hints, every one a dim;
        # the lineitem side carries none
        (
            "fact not forced broadcast (dim hints only)",
            lambda p, ext: _optimized(ext).count("strategy=broadcast") == 7,
        ),
        ("per-part window min, not a self-join",
         lambda p: "SortMergeJoin" not in p),
        ("partial aggregation before the cost shuffle",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "tpch_q20_like": [
        ("date range pushed to the lineitem scan",
         lambda p: "GreaterThanOrEqual(l_shipdate" in p
         and "LessThan(l_shipdate" in p),
        ("three dim broadcasts (part, supplier, nation)",
         lambda p, ext: _optimized(ext).count("strategy=broadcast") == 3),
        ("share predicate via window over aggregated rows",
         lambda p: "SortMergeJoin" not in p),
    ],
    "tpch_q22_like": [
        ("NOT EXISTS is a left anti join", lambda p: "LeftAnti" in p),
        ("one-row stats + nation broadcast only",
         lambda p, ext: _optimized(ext).count("strategy=broadcast") == 2),
        ("orders pruned to the join column before the anti join",
         lambda p: bool(re.search(
             r"ReadSchema: struct<o_custkey:bigint,o_orderdate:timestamp",
             p))),
    ],
    "orr_kfold_cv": [
        # per-fold sufficient stats partially aggregate before their one
        # shuffle; the k weight rows broadcast into the scoring pass
        ("fold stats map-side combined", lambda p: p.count("HashAggregate") >= 2),
        ("weights broadcast into scoring",
         lambda p: "BroadcastHashJoin" in p),
        ("no sort-merge join anywhere", lambda p: "SortMergeJoin" not in p),
    ],
    "robust_scaled_points": [
        # histogram build: partial agg to the distinct-value key space,
        # stats row broadcast back as pure arithmetic
        ("histogram partially aggregated",
         lambda p: p.count("HashAggregate") >= 2),
        ("stats broadcast, never a row-wise join",
         lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p),
    ],
    "cdc_apply_snapshot": [
        # change-log window + ONE keyed outer join; snapshot not broadcast
        # (it's the big side at scale), no repeated snapshot shuffle
        ("full outer join present", lambda p: "FullOuter" in p),
        ("window rides the change-log exchange",
         lambda p: "row_number" in p),
    ],
    "bloom_semi_orders": [
        # the literal-folded bloom words (element_at over the 16-BIGINT
        # array) must appear in a Filter BELOW the join — Catalyst even
        # infers it onto both sides through the equi-key
        ("bloom words literal-folded into a pre-join filter",
         lambda p: "element_at([" in p),
        ("semi join present", lambda p: "LeftSemi" in p),
    ],
    "scd2_user_state": [
        # change filter + version row_number + closing lead all ride ONE
        # user-keyed exchange and ONE sort (formatted output names each
        # physical node twice: tree + detail section)
        ("single key exchange", lambda p: p.count("Exchange") <= 2),
        ("single sort for both window passes", lambda p: p.count("Sort ") <= 2),
    ],
    "hll_distinct_users": [
        # the register build must map-side combine: every partition
        # collapses to <= 64 rows before its shuffle
        ("register agg partially aggregated",
         lambda p: p.count("HashAggregate") >= 2),
        ("register shuffle is 64-key, no sort anywhere",
         lambda p: "Sort " not in p),
    ],
    "broadcast_pipeline_join": [
        ("dim join is broadcast", lambda p: "BroadcastHashJoin" in p),
        ("no sort-merge join", lambda p: "SortMergeJoin" not in p),
        ("partial aggregation", lambda p: p.count("HashAggregate") >= 2),
    ],
    "tpch_q5_like": [
        ("true dims broadcast", lambda p: p.count("BroadcastHashJoin") >= 3),
        # r1 VERDICT fix: exactly 3 broadcast HINTS (customer/nation/region);
        # the lineitem⨝orders fact join carries NO hint — its strategy is
        # AQE/CBO's choice (at test SF it may still pick broadcast, which is
        # fine; FORCING it is the scale-killer)
        (
            "orders not forced broadcast (3 dim hints only)",
            lambda p, ext: _optimized(ext).count("strategy=broadcast") == 3
            and not re.search(
                r"Join Inner[^\n]*l_orderkey[^\n]*strategy=broadcast",
                _optimized(ext),
            ),
        ),
    ],
    "tpch_q3_like": [
        ("top-k without global sort", lambda p: "TakeOrderedAndProject" in p),
        (
            "orders not forced broadcast (1 dim hint only)",
            lambda p, ext: _optimized(ext).count("strategy=broadcast") == 1
            and not re.search(
                r"Join Inner[^\n]*l_orderkey[^\n]*strategy=broadcast",
                _optimized(ext),
            ),
        ),
    ],
    "curriculum_order": [
        # two-phase global rank: a RANGE exchange, and the row_number window
        # partitioned by the range id — never a global (empty-spec) window
        ("range partitioned", lambda p: "rangepartitioning" in p.lower()),
        (
            "window is per-range, not global",
            lambda p: bool(re.search(r"row_number\(\)[^\n]*\], \[_pid", p)),
        ),
    ],
    "tpch_q16_like": [
        # blacklist NOT IN = broadcast ANTI join; part = broadcast dim join;
        # lineitem itself is never the build side of anything
        ("anti-join is broadcast", lambda p: "BroadcastHashJoin" in p
         and "LeftAnti" in p),
        ("no sort-merge join", lambda p: "SortMergeJoin" not in p),
        ("distinct agg is multi-phase", lambda p: p.count("HashAggregate") >= 3),
    ],
    "tpch_q17_like": [
        # decorrelated per-part avg: partial agg before the shuffle; the
        # fact⨝agg join strategy is AQE's choice (no forced hint)
        ("partial aggregation map-side", lambda p: p.count("HashAggregate") >= 2),
        (
            "no forced broadcast hint on the self-join",
            lambda p, ext: _optimized(ext).count("strategy=broadcast") == 0,
        ),
    ],
    "orr_gram": [
        ("partial+final aggregate", lambda p: p.count("HashAggregate") >= 2),
    ],
    "rrf_fusion_topk": [
        # the fusion layer joins two top-k lists — never an unbounded
        # all-pairs pass; the two nested-loop joins allowed are BM25's
        # one-row corpus scalar and the cosine side's broadcast of the
        # 3-row query set (the brute-force scan pattern, bounded by
        # |queries|)
        ("no unbounded all-pairs join",
         lambda p: "CartesianProduct" not in p
         and len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) <= 2),
        ("per-query rank window", lambda p: "row_number" in p),
    ],
    "weighted_sample_docs": [
        # row-local key + one group-keyed window: no join, single exchange
        ("no join anywhere", lambda p: "Join" not in p),
        ("single keyed exchange",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
        ("rank filter pushed into the window (group limit)",
         lambda p: "WindowGroupLimit" in p),
    ],
    "k_anonymity_customers": [
        ("no counts-table join-back", lambda p: "Join" not in p),
        ("single QI-keyed exchange",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
    ],
    "latest_event_per_user_type": [
        ("no join anywhere", lambda p: "Join" not in p),
        ("single keyed exchange",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
        ("rank-1 filter pushed into the window (group limit)",
         lambda p: "WindowGroupLimit" in p),
    ],
    "eval_classification_report": [
        # corpus collapses to |classes|^2 cells in the FIRST agg pair;
        # everything after is cell-scale
        ("corpus pass partially aggregated",
         lambda p: p.count("HashAggregate") >= 2),
        # the one shuffle join permitted is by_true⨝by_pred over the
        # |classes|-sized cell aggregates — after the corpus collapsed
        ("at most one cell-scale merge join",
         lambda p: len(re.findall(r"\(\d+\) SortMergeJoin", p)) <= 1),
    ],
    "skew_profile_partkey": [
        ("key counts partially aggregated",
         lambda p: p.count("HashAggregate") >= 2),
        ("top-N is a bounded heap, not a global window over the key space",
         lambda p: "TakeOrderedAndProject" in p),
    ],
    "incremental_agg_users": [
        ("no join (union + keyed merge)", lambda p: "Join" not in p),
        ("partials merge map-side", lambda p: p.count("HashAggregate") >= 2),
    ],
    "tpch_q6_like": [
        # the pure-pushdown aggregate: every predicate at the scan, 4-column
        # projection, one exchange (the single-row final agg)
        ("date+discount+quantity pushed to the scan",
         lambda p: bool(re.search(r"PushedFilters: \[[^\]]*l_shipdate", p))
         and bool(re.search(r"PushedFilters: \[[^\]]*l_discount", p))
         and bool(re.search(r"PushedFilters: \[[^\]]*l_quantity", p))),
        ("scan prunes to 4 columns", lambda p: "l_orderkey" not in p),
        ("single exchange", lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
    ],
    "tpch_q7_like": [
        # 4 dim-side hints (supplier⨝nation nests one, customer⨝nation
        # nests one); the lineitem⨝orders fact join carries none
        ("only the dim sides hinted broadcast",
         lambda p, ext: _optimized(ext).count("strategy=broadcast") == 4
         and not re.search(
             r"Join Inner[^\n]*l_orderkey[^\n]*strategy=broadcast",
             _optimized(ext))),
        ("partial aggregation", lambda p: p.count("HashAggregate") >= 2),
    ],
    "tpch_q8_like": [
        # conditional agg: numerator+denominator in ONE pass — exactly one
        # aggregate pair, no self-join of the revenue stream
        # formatted explain names each node twice (tree + detail):
        # partial+final = 2 nodes = 4 mentions, and nothing more
        ("share computed in one pass (no self-join)",
         lambda p: p.count("HashAggregate") == 4),
        ("fact join not forced broadcast (5 dim hints)",
         lambda p, ext: _optimized(ext).count("strategy=broadcast") == 5
         and not re.search(
             r"Join Inner[^\n]*l_orderkey[^\n]*strategy=broadcast",
             _optimized(ext))),
    ],
    "tpch_q9_like": [
        ("p_type filter prunes part before broadcast",
         lambda p: bool(re.search(r"PushedFilters: \[[^\]]*p_type", p))),
        ("fact join not forced broadcast (3 dim hints)",
         lambda p, ext: _optimized(ext).count("strategy=broadcast") == 3
         and not re.search(
             r"Join Inner[^\n]*l_orderkey[^\n]*strategy=broadcast",
             _optimized(ext))),
    ],
    "tpch_q10_like": [
        ("top-20 is a bounded heap, not a global sort",
         lambda p: "TakeOrderedAndProject" in p),
        ("quarter filter pushed to the orders scan",
         lambda p: bool(re.search(r"PushedFilters: \[[^\]]*o_orderdate", p))),
        ("fact join not forced broadcast (2 dim hints)",
         lambda p, ext: _optimized(ext).count("strategy=broadcast") == 2),
    ],
    "tpch_q12_like": [
        ("both priority classes in one sum(CASE) pass",
         lambda p: p.count("HashAggregate") >= 2),
        ("year filter pushed to the lineitem scan",
         lambda p: bool(re.search(r"PushedFilters: \[[^\]]*l_shipdate", p))),
        ("no broadcast hint on the fact-fact join",
         lambda p, ext: _optimized(ext).count("strategy=broadcast") == 0),
    ],
    "tpch_q14_like": [
        ("month filter pushed to the lineitem scan",
         lambda p: bool(re.search(r"PushedFilters: \[[^\]]*l_shipdate", p))),
        ("part is the only broadcast hint",
         lambda p, ext: _optimized(ext).count("strategy=broadcast") == 1),
    ],
    "tpch_q19_like": [
        # the disjunction's per-side projections must prune BOTH scans
        ("quantity disjunction pushed to the lineitem scan",
         lambda p: bool(re.search(
             r"PushedFilters: \[[^\]]*Or\([^\]]*l_quantity", p))),
        ("brand/size disjunction pushed to the part scan",
         lambda p: bool(re.search(
             r"PushedFilters: \[[^\]]*p_brand", p))),
        ("fact never shuffles (broadcast join only)",
         lambda p: "SortMergeJoin" not in p),
    ],
    "tpch_q21_like": [
        ("EXISTS is a semi join", lambda p: "LeftSemi" in p),
        ("NOT EXISTS is an anti join", lambda p: "LeftAnti" in p),
        ("top-10 is a bounded heap", lambda p: "TakeOrderedAndProject" in p),
        # only supplier (the name lookup) is hinted; the orders semi leg and
        # both lineitem self-legs pick their strategy via AQE
        ("only supplier hinted broadcast",
         lambda p, ext: _optimized(ext).count("strategy=broadcast") == 1),
    ],
    "train_test_split": [
        (
            "scan prunes to the 4 needed columns",
            lambda p: bool(
                re.search(r"ReadSchema: [^\n]*l_orderkey[^\n]*l_linenumber", p)
            )
            and "l_shipdate" not in p,
        ),
    ],
    "ann_cosine_topk": [
        ("query side broadcast", lambda p: "Broadcast" in p),
    ],
    "parse_training_points": [
        # The parse rides the vectorized pyarrow NDJSON kernel (mapInArrow)
        # — no from_json expression exists in this plan at all.  The
        # boundary test over parse_data_instances pins one MapInArrow and
        # no from_json under a caller filter.
        ("vectorized Arrow parse, no per-row JSON expression",
         lambda p: "MapInArrow" in p and "from_json" not in p),
        ("no row-at-a-time Python", lambda p: "BatchEvalPython" not in p),
    ],
    "parse_quarantine": [
        # the dead-letter lane is a view over the same NDJSON kernel
        ("vectorized Arrow parse, no per-row JSON expression",
         lambda p: "MapInArrow" in p and "from_json" not in p),
    ],
    "doc_chunks": [
        # chunking is embarrassingly parallel: projection + explode, no
        # shuffle anywhere in the plan
        ("zero shuffles", lambda p: "Exchange" not in p),
        ("generator, not join", lambda p: "Generate" in p and "Join" not in p),
    ],
    "stratified_sample_orders": [
        # row-local md5 predicate + one groupBy: exactly one shuffle
        (
            "single shuffle (the groupBy)",
            lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1,
        ),
    ],
    "dedup_embedding_lsh": [
        # band join must be a hash join on (band, bval) — never a
        # nested-loop/cartesian over vectors
        (
            "no all-pairs join",
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
        ),
    ],
    "bulk_parse_training_points": [
        ("Arrow batch path present", lambda p: "MapInArrow" in p),
    ],
    "bm25_topk": [
        # query-terms side must ride a broadcast; the postings/df/dl joins
        # may shuffle (term-/doc-keyed) but never degenerate to all-pairs
        ("query terms broadcast", lambda p: "BroadcastHashJoin" in p),
        (
            # the ONLY nested-loop join allowed is the one-row corpus-scalar
            # (N, avgdl) broadcast cross join
            "no all-pairs join beyond the scalar cross join",
            lambda p: "CartesianProduct" not in p
            and len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) <= 1,
        ),
        ("partial aggregation", lambda p: p.count("HashAggregate") >= 2),
    ],
    "sequence_packing": [
        # the cumsum window must be sharded — a global (empty-partition)
        # window funnels the corpus through ONE task at scale
        (
            "window partitioned by shard",
            lambda p: not re.search(r"Window [^\n]*windowspecdefinition\(doc_id", p)
            and "lang" in p,
        ),
    ],
    "pii_redact": [
        # scrub pass is map-only: no shuffle, no join
        ("zero shuffles", lambda p: "Exchange" not in p and "Join" not in p),
    ],
    "decontaminate": [
        ("no all-pairs join", lambda p: "CartesianProduct" not in p),
    ],
    "bigram_lm_scores": [
        ("no all-pairs join", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("partial aggregation", lambda p: p.count("HashAggregate") >= 2),
    ],
    "temperature_sample": [
        # mixing is a broadcast of a tiny counts frame + row-local predicate
        ("counts broadcast, no shuffle join",
         lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
    ],
    "shared_chunk_stats": [
        ("no all-pairs join", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("partial aggregation", lambda p: p.count("HashAggregate") >= 2),
    ],
    "corpus_pipeline": [
        ("no all-pairs join", lambda p: "CartesianProduct" not in p),
        ("sharded packing window",
         lambda p: not re.search(r"Window [^\n]*windowspecdefinition\(doc_id", p)),
    ],
    "ann_quantized_topk": [
        ("query side broadcast", lambda p: "Broadcast" in p),
        ("top-k per query via window, no global sort",
         lambda p: "RunningWindowFunction" in p or "Window" in p),
    ],
    "tpch_q1_like": [
        # codegen annotations only appear once AQE finalizes at execution;
        # the auditable static property is map-side partial aggregation
        ("partial+final aggregate", lambda p: p.count("HashAggregate") >= 2),
        ("scan prunes to 5 columns", lambda p: "l_orderkey" not in p),
    ],
    "tpch_q4_like": [
        # EXISTS must become a SEMI join (output bounded by |orders|),
        # with the date filter pushed to the orders scan
        ("semi join, not inner+distinct", lambda p: "LeftSemi" in p),
        ("date filter reaches the scan",
         lambda p: bool(re.search(r"PushedFilters: \[[^\]]*o_orderdate", p))),
        ("no forced broadcast hint",
         lambda p, ext: _optimized(ext).count("strategy=broadcast") == 0),
    ],
    "tpch_q13_like": [
        # zero-order customers must survive: LEFT OUTER with the priority
        # predicate inside the join condition, not a post-join filter
        ("outer join preserved", lambda p: "LeftOuter" in p),
        ("histogram regroup is partial+final",
         lambda p: p.count("HashAggregate") >= 3),
    ],
    "tpch_q15_like": [
        # global max is ONE row broadcast into the rev lineage; supplier
        # join is broadcast of the winners set; lineitem never a build side
        ("max and winners ride broadcasts",
         lambda p: p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin") >= 1),
        ("ship-date filter reaches the scan",
         lambda p: bool(re.search(r"PushedFilters: \[[^\]]*l_shipdate", p))),
        ("partial aggregation map-side", lambda p: p.count("HashAggregate") >= 2),
    ],
    "tpch_q11_like": [
        # supplier⨝nation broadcasts into the lineitem scan; the global
        # threshold is a ONE-ROW broadcast cross join; the only fact
        # shuffle is the partkey groupBy with map-side partial sums
        ("dims and one-row total ride broadcasts",
         lambda p: p.count("BroadcastHashJoin")
         + p.count("BroadcastNestedLoopJoin") >= 2),
        ("partial aggregation before the partkey shuffle",
         lambda p: p.count("HashAggregate") >= 2),
        ("fact never sort-merge joined", lambda p: "SortMergeJoin" not in p),
    ],
    "pit_feature_join": [
        # union + ONE per-key window carries every feature: no join node,
        # one key exchange + one sort regardless of feature count
        ("no join anywhere", lambda p: "Join" not in p),
        ("single keyed exchange",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 1),
        ("running-last window over the union", lambda p: "Window" in p),
    ],
    "retention_cohorts": [
        # per-user MIN window + user-clustered dedup reuse ONE exchange;
        # only the tiny (cohort, age) rollup exchanges again
        ("no join anywhere", lambda p: "Join" not in p),
        ("at most two exchanges",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 2),
    ],
    "pagerank_user_props": [
        # every round's dst groupBy partially aggregates map-side; rank
        # state joins hash (broadcast under AQE at this scale) — never a
        # cartesian
        ("partial aggregation per round",
         lambda p: p.count("HashAggregate") >= 4),
        ("no cartesian product", lambda p: "CartesianProduct" not in p),
    ],
    "zorder_events_key": [
        # the clustering key is pure whole-stage-codegen bit arithmetic:
        # no exchange, no join, scan + project only
        ("zero exchanges",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 0),
        ("whole-stage codegen", lambda p: "codegen id" in p),
    ],
    "dq_report_orders": [
        # the three row-local checks share ONE aggregate over one scan;
        # uniqueness adds a keyed groupBy; the FK check is a broadcast
        # anti join — never a second full scan per check
        # 3 scans total: one for the row-check aggregate, one per extra
        # pass (uniqueness groupBy, FK anti join child)
        ("row checks collapse into one scan each pass",
         lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) <= 4),
        ("fk check is a broadcast anti join",
         lambda p: "BroadcastHashJoin" in p and "LeftAnti" in p),
    ],
    "snapshot_diff_cdc": [
        ("single full-outer reconciliation join",
         lambda p: p.count("FullOuter") >= 1),
        ("no cartesian product", lambda p: "CartesianProduct" not in p),
    ],
    "scd2_incremental_user_state": [
        # the delta shuffles once for its change window; history is
        # touched via the current slice + first-change join only
        ("windowed change detection", lambda p: "Window" in p),
        ("no cartesian product", lambda p: "CartesianProduct" not in p),
    ],
    "scd2_temporal_lookup": [
        # interval lookup collapses to the as-of union window: exactly
        # one corpus-scale exchange feeds it; no range/theta join
        ("no sort-merge join", lambda p: "SortMergeJoin" not in p),
        ("as-of via window", lambda p: "Window" in p),
    ],
    "markov_transitions": [
        # lead window rides ONE user exchange; the pair groupBy is
        # |states|^2 keys with map-side combine; row totals broadcast
        ("pair aggregation partial", lambda p: p.count("HashAggregate") >= 2),
        ("row totals ride a broadcast", lambda p: "BroadcastHashJoin" in p),
        ("no sort-merge join", lambda p: "SortMergeJoin" not in p),
    ],
    "item_cooccurrence": [
        # margins and the 1-row user count broadcast; only the per-user
        # self-join shuffles at corpus scale
        ("margins broadcast", lambda p: p.count("BroadcastHashJoin") >= 2),
        ("co-occurrence counts partially aggregate",
         lambda p: p.count("HashAggregate") >= 2),
        # the r8 skew mitigation: per-user history capped by the keyed
        # row_number BEFORE the quadratic self-join
        ("degree cap window applied pre-join",
         lambda p: "_kr" in p and "row_number" in p),
    ],
    "item_triangles": [
        ("degree cap window applied pre-join",
         lambda p: "_kr" in p and "row_number" in p),
        # degree orientation: the persisted oriented edge frame feeds
        # both wedge sides and the closing semi-join probe
        ("oriented edges materialized once; closure is a semi join",
         lambda p: "InMemoryTableScan" in p and "LeftSemi" in p),
        ("no cartesian anywhere",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
    ],
    "profile_orders": [
        # k count_distincts share one Expand-based aggregate over ONE scan
        ("single scan of orders",
         lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
        ("expand-based multi-distinct", lambda p: "Expand" in p),
    ],
    "order_value_deciles": [
        # the whole point: exact global deciles WITHOUT funneling the
        # table through one task — range partition + offset map
        ("no single-partition exchange",
         lambda p: "SinglePartition" not in p),
        ("range-partitioned rank", lambda p: "rangepartitioning" in p),
    ],
    "seasonality_profile": [
        ("one map-side-combined groupBy",
         lambda p: p.count("HashAggregate") >= 2
         and len(re.findall(r"\(\d+\) Exchange", p)) <= 1),
    ],
    "embedding_gram": [
        # partitions collapse to <= dim^2 cells before the shuffle; the
        # self-join is vec_id-keyed, never cartesian
        ("partial aggregation to dim^2 cells",
         lambda p: p.count("HashAggregate") >= 2),
        ("no cartesian product", lambda p: "CartesianProduct" not in p),
    ],
    "bpe_encode_vocab": [
        # corpus collapses in the FIRST groupBy; every merge round is
        # vocab-scale string work
        ("corpus collapses before merges",
         lambda p: p.count("HashAggregate") >= 2),
        ("no join anywhere", lambda p: "Join" not in p),
    ],
    "als_rank1_round": [
        # item factors broadcast into the user solve; both solves
        # partially aggregate before their keyed exchange
        ("item factors ride a broadcast",
         lambda p: "BroadcastHashJoin" in p),
        ("partial aggregation both solves",
         lambda p: p.count("HashAggregate") >= 4),
        ("no sort-merge join", lambda p: "SortMergeJoin" not in p),
    ],
    "session_covisitation": [
        # session id + dedup + pair join all key on (user, sid): the
        # lag/running-sum windows share one user exchange
        ("windowed sessionizer", lambda p: "Window" in p),
        ("no cartesian product", lambda p: "CartesianProduct" not in p),
    ],
    "cms_term_counts": [
        # the sketch shuffle key space is depth*width cells: partial
        # aggregation collapses the explode before the exchange; probe and
        # sketch joins are broadcasts
        ("partial aggregation", lambda p: p.count("HashAggregate") >= 2),
        ("sketch rides broadcast joins", lambda p: "BroadcastHashJoin" in p),
        ("no sort-merge join", lambda p: "SortMergeJoin" not in p),
    ],
    "salted_join_brand_revenue": [
        # the join key must include the salt — that's the whole mechanism
        ("join is salted",
         lambda p: bool(re.search(r"Join [^\n]*_salt", p))
         or bool(re.search(r"\[l_partkey[^\]]*_salt", p))),
        ("partial aggregation", lambda p: p.count("HashAggregate") >= 2),
    ],
    "scd2_integrity_audit": [
        # the audit rides the dimension build's key-keyed exchange: the
        # lag window, per-key rollup, and global rollup add no join and
        # no global sort
        ("no join anywhere", lambda p: "Join" not in p),
        ("windows keyed by user, never global",
         lambda p: "SinglePartition" not in p.split("Window")[-1][:400]),
        ("rollups map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "opq_vs_pq_distortion": [
        # both variants: broadcast codebook assignment (books are
        # localCheckpointed k x d frames) + keyed min + rollup — the
        # raw vectors never shuffle
        ("codebooks ride broadcast joins",
         lambda p: "BroadcastExchange" in p),
        ("no cartesian", lambda p: "CartesianProduct" not in p),
        ("assignment + rollup aggs map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    "bloom_pruning_report": [
        # one fact scan with row-local bucket arithmetic; membership is
        # a broadcast join on the distinct dim keys — never a shuffle
        # join; the counters are one map-side-combined global agg
        ("dim membership rides a broadcast",
         lambda p: "BroadcastExchange" in p),
        ("no shuffle join on the fact",
         lambda p: "SortMergeJoin" not in p),
        ("counter agg map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "join_cardinality_audit": [
        # per edge the child collapses once to its key space and the
        # persisted counts frame feeds totals + hot filter + report;
        # totals/hot are one-row broadcast nested-loop joins, never a
        # data-scale cartesian
        ("per-edge counts persisted and reused",
         lambda p: p.count("InMemoryTableScan") >= 4),
        ("no data-scale cartesian",
         lambda p: "CartesianProduct" not in p),
        ("edge collapses map-side",
         lambda p: p.count("HashAggregate") >= 8),
    ],
    "salted_join_skew_balance": [
        # the hot key reaches the join through the (k, _salt) composite
        # key — the salt spreads the planted 50%-of-fact key over 8
        # reducer groups; the report agg is map-side combined
        ("join is salted",
         lambda p: bool(re.search(r"Join [^\n]*_salt", p))
         or bool(re.search(r"\[k[^\]]*_salt", p))),
        ("partial aggregation", lambda p: p.count("HashAggregate") >= 2),
        ("no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "ddm_drift_summary": [
        # all window passes + the rollup share ONE user-keyed exchange
        ("no join anywhere", lambda p: "Join" not in p),
        ("single keyed exchange",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 1),
    ],
    "page_hinkley_value_drift": [
        ("no join anywhere", lambda p: "Join" not in p),
        ("single keyed exchange",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 1),
    ],
    "auc_purchase_value": [
        # corpus collapses in the FIRST (partial+final) groupBy; the
        # ordered pass sees only the histogram
        ("partial aggregation", lambda p: p.count("HashAggregate") >= 2),
        ("window is over the histogram, after the agg",
         lambda p: "Window" in p),
    ],
    "calibration_purchase_value": [
        ("partial aggregation", lambda p: p.count("HashAggregate") >= 2),
        ("no shuffle beyond the bin groupBy",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 2),
    ],
    "bpe_merge_round": [
        # corpus collapses in the FIRST groupBy (map-side combinable);
        # everything after is vocab-scale; chosen pair rides a broadcast
        ("partial aggregation", lambda p: p.count("HashAggregate") >= 2),
        ("no sort-merge join", lambda p: "SortMergeJoin" not in p),
    ],
    "sample_k_per_source": [
        # quota rank must be per-group, never a global single-task window
        ("window partitioned by group",
         lambda p: bool(re.search(r"windowspecdefinition\(source", p))),
    ],
    "funnel_conversion": [
        # stage chain reuses ONE user-keyed exchange; rollup adds one tiny
        # exchange; never a join or a sorted window
        ("no join anywhere", lambda p: "Join" not in p),
        ("at most two exchanges",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 2),
    ],
    "dup_span_removal": [
        # duplication resolved through the span-hash window partition —
        # never a doc x doc join; reassembly is a keyed groupBy
        ("no join anywhere", lambda p: "Join" not in p),
        ("hash-partitioned window",
         lambda p: bool(re.search(r"windowspecdefinition\(span_hash", p))),
    ],
    "mv_retractable_revenue": [
        # the Z-set fold is union + groupBy: partial aggregation before
        # the keyed merge shuffle, and never a join
        ("no join anywhere", lambda p: "Join" not in p),
        ("map-side combined merge", lambda p: p.count("HashAggregate") >= 2),
    ],
    "concurrent_users_peak": [
        # the whole point of the two-phase prefix sum: no global
        # single-partition window; per-range running sums ride the range
        # partitioning, session windows ride the user hash partitioning
        ("no single-partition exchange",
         lambda p: "SinglePartition" not in p),
        ("range-partitioned prefix sum", lambda p: "rangepartitioning" in p),
    ],
    "target_encoded_priority": [
        # category stats + global mean broadcast back; the fact table is
        # never shuffled by category and never window-scanned
        ("stats broadcast into the fact scan",
         lambda p: "BroadcastHashJoin" in p),
        ("fact never shuffle-joined", lambda p: "SortMergeJoin" not in p),
        ("no per-category window",
         lambda p: "windowspecdefinition(pri" not in p),
    ],
    "quantile_binned_orders": [
        # the transform is a broadcast of the 9-edge array over the fact
        # scan (BNLJ for the conditionless join); the only windows are
        # histogram-scale (documented)
        ("edges broadcast over the fact",
         lambda p: "BroadcastNestedLoopJoin" in p),
        ("fact never shuffle-joined", lambda p: "SortMergeJoin" not in p),
    ],
    "item_similarity_topk": [
        # margins broadcast; the top-k window partitions by item, never
        # globally
        ("margins broadcast", lambda p: p.count("BroadcastHashJoin") >= 2),
        ("per-item window",
         lambda p: bool(re.search(r"windowspecdefinition\(item", p))),
        ("no single-partition exchange",
         lambda p: "SinglePartition" not in p),
    ],
    "ewma_user_value": [
        # one user-keyed exchange; the sequential fold is a Catalyst
        # higher-order function, never Python
        ("single exchange",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 1),
        ("no Python in the fold", lambda p: "EvalPython" not in p),
    ],
    "hashed_doc_features": [
        # one explode + ONE (doc, slot) groupBy with map-side combine
        ("single exchange",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 1),
        ("map-side combined", lambda p: p.count("HashAggregate") >= 2),
    ],
    "nb_doc_scores": [
        # the argmax window partitions by doc; class frame broadcast
        ("per-doc argmax window",
         lambda p: bool(re.search(r"windowspecdefinition\(doc_id", p))),
        ("class frame broadcast",
         lambda p: "BroadcastNestedLoopJoin" in p
         or "BroadcastHashJoin" in p),
    ],
    "heavy_hitters_terms": [
        # hot cells broadcast as the candidate filter — one per depth row
        ("hot-cell broadcasts per depth",
         lambda p: p.count("BroadcastHashJoin") >= 4),
        ("exact count map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "orr_per_segment": [
        # all segments fit in ONE grouped Gram aggregation — one exchange,
        # map-side combined; never a per-segment job
        ("single exchange",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 1),
        ("grouped gram map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "resampled_user_values": [
        # the fill is ONE per-user window over the union — never a
        # per-hour join and never a global sort
        ("per-user fill window",
         lambda p: bool(re.search(r"windowspecdefinition\(user_id", p))),
        ("no single-partition exchange",
         lambda p: "SinglePartition" not in p),
    ],
    "fuzzy_name_pairs": [
        # blocking makes it an equi-join: no cartesian/nested-loop pair
        # generation anywhere
        ("equi-join on the block key",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
    ],
    "quantile_transform_orders": [
        # rank -> uniform without funneling the fact through one task
        ("no single-partition exchange",
         lambda p: "SinglePartition" not in p),
        ("range-partitioned rank", lambda p: "rangepartitioning" in p),
    ],
    "top_event_trigrams": [
        # triples from per-user leads (one keyed exchange), counted with
        # map-side combine; the global top-20 window sees only the
        # |types|^3 aggregate
        ("per-user lead window",
         lambda p: bool(re.search(r"windowspecdefinition\(user_id", p))),
        ("trigram counts map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "ngram_containment_pairs": [
        # posting-list equi self-join: per-shingle quadratic only, never
        # an unbounded pair generator
        ("equi-join on the shingle key",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("pair counts map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "record_linkage_scores": [
        # the 3-row field stats broadcast into the melt; the blocked
        # candidate set is the only quadratic anywhere
        ("stats broadcast into scoring", lambda p: "BroadcastHashJoin" in p),
        ("no cartesian pair generation", lambda p: "CartesianProduct" not in p),
        ("u-stats map-side combined", lambda p: p.count("HashAggregate") >= 2),
    ],
    "referential_integrity_audit": [
        # every parent joins as a pruned broadcast LEFT join whose NULL
        # parent key marks the orphans (r12-opt: replaced per-edge
        # anti-join + separate count(*) pass); each child table scans
        # ONCE for all of its edges — lineitem's three FKs share a pass
        ("parents broadcast", lambda p: p.count("BroadcastHashJoin") >= 7),
        ("no sort-merge join", lambda p: "SortMergeJoin" not in p),
        ("lineitem scanned once for its three edges",
         lambda p: p.count("lineitem.parquet") == 1),
        # upper bound, not exact equality (ADVICE r12): a benign
        # plan-text change (AQE re-print, a ReadSchema path line) must
        # not flip the audit while one-scan-per-child still holds
        ("no per-edge second scan of orders",
         lambda p: 1 <= p.count("orders.parquet") <= 2),  # child pass + parent keys
    ],
    "embedding_power_iteration": [
        # the corpus is read for the Gram only; the rounds run over the
        # checkpointed dim^2 frame (scans beyond the gram are the tiny
        # localCheckpoint RDD scans, not parquet)
        # the final plan reads the checkpointed 64-row iterate — the
        # corpus-scale gram ran once inside the checkpoints, so the
        # published plan must contain NO parquet scan at all
        ("result is checkpoint-backed, corpus not rescanned",
         lambda p: "Scan parquet" not in p and "ExistingRDD" in p),
    ],
    "ann_ivf_trained_topk": [
        # both the quantized corpus and the 16-row trained centroid table
        # are localCheckpointed, so the published search plan re-scans
        # NEITHER parquet nor the trainer's agg chain
        ("search is checkpoint-backed, corpus/trainer not rescanned",
         lambda p: "Scan parquet" not in p and "ExistingRDD" in p),
        ("centroids broadcast into assignment/probes (tiny side only)",
         lambda p: p.count("BroadcastNestedLoopJoin") >= 2),
        ("no non-broadcast cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "entity_resolution_scored_clusters": [
        # FS scoring gates the edges BEFORE the closure; the stars CC
        # iterate is checkpoint-backed; nothing quadratic beyond the
        # blocked candidates
        ("closure rides the checkpointed stars state",
         lambda p: "ExistingRDD" in p),
        ("no cartesian pair generation",
         lambda p: "CartesianProduct" not in p),
        ("u-stats map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "pq_train_codebooks": [
        # the subvector melt is checkpointed once; codebooks only ever
        # join as tiny broadcasts; the (sub,cid) stats agg is map-side
        # combined
        ("training rides the checkpointed melt, no parquet rescan",
         lambda p: "Scan parquet" not in p and "ExistingRDD" in p),
        ("codewords broadcast into assignment",
         lambda p: p.count("BroadcastHashJoin") >= 1),
        ("codeword stats map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("no sort-merge join, no cartesian",
         lambda p: "SortMergeJoin" not in p
         and "CartesianProduct" not in p),
    ],
    "ann_pq_adc_topk": [
        # ADC: the code table joins a BROADCAST per-query LUT — the big
        # side never shuffles for the lookup; scoring is one keyed agg
        ("LUT and codebooks broadcast, codes never shuffle to join",
         lambda p: p.count("BroadcastHashJoin") >= 2
         and "SortMergeJoin" not in p),
        ("search is checkpoint-backed, no parquet rescan",
         lambda p: "Scan parquet" not in p and "ExistingRDD" in p),
        ("per-(query,neighbor) sum map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "ann_ivfadc_topk": [
        # probe restriction lives in the LUT: unprobed cells find no LUT
        # row, so the candidate join prunes for free — still broadcast-
        # only, still checkpoint-backed
        ("search is checkpoint-backed, no parquet rescan",
         lambda p: "Scan parquet" not in p and "ExistingRDD" in p),
        ("LUT and codebooks broadcast only",
         lambda p: "SortMergeJoin" not in p
         and "CartesianProduct" not in p),
    ],
    "ann_rq_adc_topk": [
        # both codebooks + the per-query reconstruction LUT only ever
        # join as broadcasts; everything downstream of the checkpointed
        # quantized frame — no parquet rescan, no cartesian
        ("search is checkpoint-backed, no parquet rescan",
         lambda p: "Scan parquet" not in p and "ExistingRDD" in p),
        ("codebooks and LUT broadcast only",
         lambda p: p.count("BroadcastHashJoin")
         + p.count("BroadcastNestedLoopJoin") >= 3
         and "SortMergeJoin" not in p),
        ("no non-broadcast cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "pq_distortion_report": [
        ("codebooks broadcast; report is two stacked keyed aggs",
         lambda p: p.count("BroadcastHashJoin") >= 1
         and p.count("HashAggregate") >= 4
         and "SortMergeJoin" not in p),
    ],
    "dedup_pq_block_pairs": [
        # blocking is an equi-join on the code signature; verification
        # only on survivors; no cartesian anywhere
        ("signature equi-join, no cartesian",
         lambda p: "CartesianProduct" not in p),
        ("codebooks broadcast into encoding",
         lambda p: p.count("BroadcastHashJoin") >= 2),
    ],
    "simhash_hamming_pairs": [
        # candidates come from (block_id, value) equi-joins; the
        # quadratic exists only inside a bucket, never as a cartesian
        ("pigeonhole block equi-join, no cartesian",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("signature agg map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "t_closeness_customers": [
        # ONE scan: every distribution rolls up from the persisted
        # (QI x value) partial; the dense grid is a broadcast of the
        # tiny per-value table; the EMD window partitions by group
        ("single fact scan, partials reused from cache",
         lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
         and "InMemoryTableScan" in p),
        ("dense grid via broadcast, no sort-merge join",
         lambda p: ("BroadcastHashJoin" in p
                    or "BroadcastNestedLoopJoin" in p)
         and "SortMergeJoin" not in p),
        ("no global window (EMD cum-sums partition by QI group)",
         lambda p, ext: _global_windows_post_agg(ext)),
    ],
    "shared_span_pairs": [
        # two persisted posting sets — the n-gram diagonals AND the
        # min_tokens-gram candidate shingles — each feeding both sides
        # of its self-join; runs are windows keyed by (pair, diagonal),
        # never global
        ("both posting sets materialized once for their join sides",
         lambda p: p.count("InMemoryTableScan") >= 2
         and len(re.findall(r"\(\d+\) Scan parquet", p)) <= 2),
        ("no cartesian pair generation",
         lambda p: "CartesianProduct" not in p),
        ("run detection map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "label_propagation_communities": [
        # per round: one edge join + two keyed aggs; the argmax is a
        # max over (cnt, -lbl) structs — NO window anywhere
        ("argmax via keyed agg, no window",
         lambda p: "Window" not in p),
        ("no cartesian", lambda p: "CartesianProduct" not in p),
        ("rounds read the cached edge list",
         lambda p: "InMemoryTableScan" in p),
    ],
    "opq_dim_assignment": [
        # one scan melts every dim; the moment agg's key space is `dim`
        # (map-side combined); ranking is a window over the 64 aggregate
        # rows (GLOBAL_WINDOW_BOUNDED covers it) — no join anywhere
        ("one corpus scan feeding the dim-keyed agg",
         lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
        ("moment sums map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("no join anywhere", lambda p: "Join" not in p),
    ],
    "pq_train_codebooks_opq": [
        # same contract as pq_train_codebooks: the permuted melt is
        # checkpointed once, codebooks broadcast, stats map-side combined
        ("training rides the checkpointed melt, no parquet rescan",
         lambda p: "Scan parquet" not in p and "ExistingRDD" in p),
        ("codewords broadcast into assignment",
         lambda p: p.count("BroadcastHashJoin") >= 1),
        ("codeword stats map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("no sort-merge join, no cartesian",
         lambda p: "SortMergeJoin" not in p
         and "CartesianProduct" not in p),
    ],
    "ann_opq_adc_topk": [
        # identical serving shape to ann_pq_adc_topk — the permutation
        # costs nothing at query time
        ("LUT and codebooks broadcast, codes never shuffle to join",
         lambda p: p.count("BroadcastHashJoin") >= 2
         and "SortMergeJoin" not in p),
        ("search is checkpoint-backed, no parquet rescan",
         lambda p: "Scan parquet" not in p and "ExistingRDD" in p),
        ("per-(query,neighbor) sum map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "streaming_cross_source_overlap": [
        # the published matrix assembles from the MAINTAINED counters
        # (state parquet), never re-deriving the corpus shingle pipeline
        ("matrix reads counters, corpus never rescanned",
         lambda p: "documents" not in p),
        ("per-source totals broadcast into the ratio",
         lambda p: p.count("BroadcastHashJoin") >= 2),
        ("no cartesian pair generation",
         lambda p: "CartesianProduct" not in p),
    ],
    "cross_source_overlap": [
        # the distinct posting set materializes ONCE (persist) and all
        # three consumers (pair join x2, totals) read the cache instead
        # of re-deriving the corpus-scan + shingle pipeline
        ("postings cached, consumers read InMemoryTableScan",
         lambda p: "InMemoryTableScan" in p),
        ("per-source totals broadcast into the ratio",
         lambda p: p.count("BroadcastHashJoin") >= 2),
        ("no cartesian pair generation",
         lambda p: "CartesianProduct" not in p),
    ],
    "l_diversity_customers": [
        # two stacked map-side-combined aggs; never a countDistinct
        # window or a join
        ("stacked aggs only — no join, no window, no expand",
         lambda p: p.count("HashAggregate") >= 4 and "Join" not in p
         and "Window" not in p),
    ],
    "stump_best_split": [
        # the melt is an explode, not a per-feature union: ONE scan of
        # the fact table feeds all feature histograms
        ("single corpus scan",
         lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
        ("histogram map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("per-feature cumulative window",
         lambda p: bool(re.search(r"windowspecdefinition\(feat", p))),
    ],
}


# Queries whose plans contain a GLOBAL (empty-partition-spec) Window.
# A global window funnels its input through ONE task, so it is only
# scale-acceptable when that input is post-aggregation — cardinality
# bounded by the group-key space (types, bins, trees x feats), not by the
# data. The property below asserts exactly that for every global Window
# in the optimized plan, turning the `WindowExec: No Partition Defined`
# warnings into a checked invariant instead of an eyeballed claim.
# (Enumerated by scanning every batch query's optimized plan at sf0.001.)
CHECKS.update({
    "kcore_vertices": [
        # every peel round localCheckpoints; the published plan reads
        # ONLY materialized round state — no parquet rescan, no
        # re-derivation of the edge pipeline per round
        ("final round is checkpoint-backed, zero parquet scans",
         lambda p: "Scan parquet" not in p and "ExistingRDD" in p),
        ("no cartesian / sort-merge blowup",
         lambda p: "CartesianProduct" not in p),
    ],
    "uplift_t_learner_orr": [
        # per-user features persist once; the two per-arm Grams are ONE
        # grouped map-side-combined agg; the pivoted weight row
        # broadcasts into scoring (never a shuffle on the unit table)
        ("weights broadcast into cross-scoring",
         lambda p: p.count("BroadcastNestedLoopJoin") >= 1),
        ("no sort-merge join anywhere", lambda p: "SortMergeJoin" not in p),
        ("features/Gram map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "association_rules_baskets": [
        # margins + basket count broadcast; the only non-broadcast work
        # is the within-basket self-join keyed on the basket id
        ("margins and totals broadcast",
         lambda p: p.count("BroadcastHashJoin")
         + p.count("BroadcastNestedLoopJoin") >= 3),
        ("no sort-merge join", lambda p: "SortMergeJoin" not in p),
        ("pair counts map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "opq_procrustes_gram": [
        # the cross-Gram is Arrow-batched partials (MapInPandas), then a
        # map-side-combined (j,k) sum; codebooks ride checkpoints and
        # broadcast into the encode
        ("Arrow-batched partial aggregation (treeAggregate shape)",
         lambda p: "MapInPandas" in p),
        ("codebooks checkpoint-backed and broadcast",
         lambda p: "ExistingRDD" in p and "BroadcastHashJoin" in p),
        ("(j,k) sum map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
})

CHECKS.update({
    # --- round-6 third-wave queries ---
    "rendezvous_shard_rebalance": [
        # the whole assignment is per-row arithmetic: no join of any
        # kind, one map-side-combined 81-cell agg
        ("no joins at all",
         lambda p: "Join" not in p),
        ("(old, new) count map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        # the rand-pinned projection computes each md5 ONCE: 9 hashes
        # in the physical plan, not 9 x 17 CASE-inlined copies
        ("hashes computed once behind the projection barrier",
         lambda p: p.count("md5(") == 9),
    ],
    "benford_digit_audit": [
        ("per-src totals broadcast", lambda p: "BroadcastHashJoin" in p),
        ("digit counts map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("no sort-merge join", lambda p: "SortMergeJoin" not in p),
    ],
    "seasonal_anomaly_events": [
        # both profile tables broadcast back into the pruned fact scan
        ("profile + MAD broadcast, fact never shuffles",
         lambda p: p.count("BroadcastHashJoin") >= 2
         and "SortMergeJoin" not in p),
        ("fact scan pruned to four columns; profile scans drop event_id",
         lambda p: bool(re.search(
             r"ReadSchema: struct<event_id:bigint,ts:[^,]+,"
             r"event_type:string,value:double>", p))
         and bool(re.search(
             r"ReadSchema: struct<ts:[^,]+,event_type:string,"
             r"value:double>", p))),
    ],
    "mutual_information_features": [
        ("margins and totals broadcast into cell-scale joins",
         lambda p: p.count("BroadcastHashJoin") >= 3),
        ("cell counts map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("no sort-merge join", lambda p: "SortMergeJoin" not in p),
    ],
    "link_prediction_items": [
        ("existing edges leave via LEFT ANTI", lambda p: "LeftAnti" in p),
        ("edge set persisted once for its three consumers",
         lambda p: "InMemoryTableScan" in p),
        ("degree tables broadcast into pair-scale projections",
         lambda p: p.count("BroadcastHashJoin") >= 3),
        ("no cartesian anywhere",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p),
    ],
    "interval_overlap_pairs": [
        # the bucket equi-join IS the plan: no inequality-driven
        # cartesian, no window, no dedup aggregate (canonical bucket
        # makes exactly-once structural)
        ("bucket equi-join, never a cartesian",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p),
        ("no dedup pass needed",
         lambda p: "Window" not in p),
    ],
    "grid_epsilon_pairs": [
        # the 3x3-cell grid equi-join IS the plan: constant 9x replication
        # (two explodes), one equi-join on (cx, cy), no inequality-driven
        # cartesian, and exactly-once is structural — no dedup pass
        ("cell equi-join, never a cartesian",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p),
        ("no dedup window/aggregate needed",
         lambda p: "Window" not in p and "HashAggregate" not in p),
        # formatted explain names each node twice (tree + detail)
        ("constant 9x replication: exactly two explodes",
         lambda p: p.count("Generate") == 4),
    ],
    "grid_hotspot_cells": [
        # corpus-scale work ends at the first cell rollup; the 9x offset
        # replication and neighbor join run over occupied cells only
        ("cell rollup map-side combined before any join",
         lambda p: p.count("HashAggregate") >= 2),
        ("cell table persisted for totals + neighbor fan-out",
         lambda p: "InMemoryTableScan" in p),
        ("one-row totals broadcast; no unbounded cartesian",
         lambda p: "CartesianProduct" not in p),
    ],
    "ktruss_epsilon_edges": [
        # degree-oriented wedges are pure equi-joins; per-round edge
        # state localCheckpoints (lineage truncation), and the oriented
        # edge frame inside each support pass persists (three consumers)
        ("wedge enumeration never a cartesian",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p),
        ("per-round edge state lineage-truncated",
         lambda p: "ExistingRDD" in p or "LogicalRDD" in p
         or "Scan RDD" in p),
        # the FINAL support pass's oriented-edge frame persists for its
        # three consumers (the per-ROUND frames are unpersisted inside
        # ktruss_edges once each round materializes, ADVICE r8 — only
        # this one bounded entry survives, referenced by the lazy
        # output)
        ("oriented edge frame persisted for its three consumers",
         lambda p: "InMemoryTableScan" in p),
        ("support count map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "mis_epsilon_luby": [
        # Pregel rebuild (r12-opt, the jp_coloring discipline): two
        # message aggregations per round over the dst-partitioned edge
        # leaf, inline (id, round) priorities — no priority join; the
        # per-round state localCheckpoints, so the published plan reads
        # the checkpointed vertex state as an RDD scan, not a 4-round
        # re-derivation
        ("final plan reads checkpointed state, not the 4-round lineage",
         lambda p: "ExistingRDD" in p),
        ("no cartesian anywhere",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p),
    ],
    "itemknn_recommendations": [
        # catalog-scale sim table broadcasts into the history scoring
        # join; the fact shuffles once for the (user, item) rollup;
        # margins broadcast into the pair join
        ("sim/margin tables ride broadcasts",
         lambda p: p.count("BroadcastHashJoin") >= 3),
        ("no cartesian anywhere",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("pair counts map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "hard_negative_topk": [
        # bounded query set broadcast against the scan (the optimal
        # brute-force plan); ranking shuffles only (query, id, score)
        ("query side rides a broadcast",
         lambda p: "BroadcastNestedLoopJoin" in p
         or "BroadcastHashJoin" in p),
        ("no shuffle cartesian",
         lambda p: "CartesianProduct" not in p),
    ],
    "correlated_selectivity_audit": [
        # one conditional-count agg per fact table: partial map-side, a
        # handful of longs per partition; per-pair rows are projections
        # of the one-row stats — no joins anywhere
        ("conditional counters map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("no joins in the audit pass", lambda p: "Join" not in p),
    ],
    "histogram_selectivity_report": [
        # 10-row histogram and 5-row threshold/actuals frames broadcast;
        # the orders scan aggregates map-side for both histogram and
        # actual counts; nothing bigger than bins x thresholds joins
        ("histogram/threshold frames ride broadcasts",
         lambda p: "BroadcastNestedLoopJoin" in p
         or "BroadcastHashJoin" in p),
        ("fact aggregations map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
        ("no shuffle cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "shuffle_skew_report": [
        # one unpivoted pass per fact: value-group partial-aggregates
        # map-side; the per-col rollup is bounded; no joins at all
        ("value groupBy map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
        ("no joins in the profiling pass",
         lambda p: "Join" not in p),
    ],
    "minhash_pr_calibration": [
        # signatures computed once and reused across the 4 banding
        # configs (persisted); band self-joins and the truth join are
        # equi-joins; per-config scalars ride one-row broadcasts
        ("signatures reused via cache across configs",
         lambda p: "InMemoryTableScan" in p),
        ("band and truth joins never cartesian",
         lambda p: "CartesianProduct" not in p),
        ("one-row count reductions broadcast",
         lambda p: "BroadcastNestedLoopJoin" in p),
    ],
    "quality_filter_funnel": [
        # one global conditional-count agg: partial map-side, 6 longs per
        # partition; the top-word join is hash-shaped, never a cartesian
        ("funnel counters map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("top-word join never a cartesian",
         lambda p: "CartesianProduct" not in p),
    ],
    "source_mixture_plan": [
        # per-source agg map-side combined; the grand total rides a
        # ONE-ROW broadcast cross join back onto the bounded source frame
        ("per-source partial aggregation",
         lambda p: p.count("HashAggregate") >= 2),
        ("one-row total broadcast, no shuffle cross join",
         lambda p: "BroadcastNestedLoopJoin" in p
         and "CartesianProduct" not in p),
    ],
    "jp_coloring_epsilon": [
        # 22-round recurrence: the published plan must be lineage-truncated
        # (final join reads the checkpointed colored state as an RDD scan,
        # not a 22-round re-derivation) and join-shaped, never cartesian
        ("final plan reads checkpointed state, not the 22-round lineage",
         lambda p: "ExistingRDD" in p),
        ("no cartesian anywhere",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p),
    ],
    "dbscan_core_points": [
        ("cell equi-join, never a cartesian",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p),
        ("degree count map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "dbscan_clusters": [
        # pairs + core persist and fan out (degrees, core-core edges,
        # border attach); CC rounds are checkpointed off-plan, so the
        # published plan joins a tiny star table — never a cartesian
        ("no cartesian anywhere (incl. cached lineage)",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p),
        ("epsilon pair set persisted and reused",
         lambda p: "InMemoryTableScan" in p),
        ("border attach is an aggregate, not a window",
         lambda p: "Window" not in p),
    ],
    "temporal_reachability": [
        ("contact blocking is an (item, bucket) equi-join, no cartesian",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p),
        ("contact set persisted across relax rounds",
         lambda p: "InMemoryTableScan" in p),
        ("min-merge map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "hits_item_authorities": [
        ("edge set persisted across rounds",
         lambda p: "InMemoryTableScan" in p),
        ("per-round sums map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("one-row normalization totals broadcast, no unbounded cartesian",
         lambda p: "CartesianProduct" not in p),
    ],
    "wl_item_classes": [
        # label state persists per round (the recurrence references the
        # previous round twice: self label + neighbor agg), the class-size
        # window is partitioned by label, and every join is keyed
        ("per-round label state persisted",
         lambda p: "InMemoryTableScan" in p),
        ("no cartesian anywhere",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p),
        ("class-size window partitioned by label",
         lambda p: "count(1) windowspecdefinition(lbl" in p),
    ],
    "passjoin_edit_pairs": [
        ("(segment, gram) posting equi-join, never a cartesian",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p),
        ("candidate dedup before verification",
         lambda p: p.count("HashAggregate") >= 2),
        ("doc scan pruned to id/text/length",
         lambda p: "ReadSchema: struct<doc_id:bigint,text:string,"
         "n_chars:bigint" in p),
    ],
    "textrank_keywords": [
        ("pair set and vocab persisted (multi-consumer)",
         lambda p: "InMemoryTableScan" in p),
        ("vocab ids broadcast into edge building",
         lambda p: p.count("BroadcastHashJoin") >= 2),
        ("no cartesian anywhere",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p),
    ],
    "embedding_class_scatter": [
        ("one melt agg map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("per-dim totals broadcast",
         lambda p: "BroadcastHashJoin" in p or
         "BroadcastNestedLoopJoin" in p),
        ("no sort-merge join", lambda p: "SortMergeJoin" not in p),
    ],
    "zonemap_pruning_report": [
        # zone maps + probes are aggregates; the probe x zone join is
        # a broadcast nested loop over 64 zone rows BY DESIGN
        ("stats row and zones broadcast",
         lambda p: p.count("BroadcastNestedLoopJoin") >= 1),
        ("no row-scale window anywhere", lambda p: "Window" not in p),
        ("zone maps map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    "stratified_att_report": [
        # unit agg -> 10-cell pivot -> arithmetic: never a join
        ("no joins at all", lambda p: "Join" not in p),
        ("unit aggregate map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "importance_weights_bins": [
        ("min-day and totals broadcast, one fact pass",
         lambda p: p.count("BroadcastNestedLoopJoin") >= 2
         and "SortMergeJoin" not in p),
        ("bin counts map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "theil_sen_revenue_trend": [
        # the quadratic pair join rides the DAILY aggregate, so both
        # sides are bounded and broadcastable; no fact-scale window
        ("pair join over the daily aggregate (broadcast)",
         lambda p: "BroadcastNestedLoopJoin" in p),
        ("daily series map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "ucb_daily_replay": [
        ("day index broadcast into the (day x arm) frame",
         lambda p: "BroadcastHashJoin" in p),
        ("(day, arm) stats map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("no sort-merge join", lambda p: "SortMergeJoin" not in p),
    ],
    "encoding_audit_report": [
        # run boundaries are a keyed equi-join on (col, event_id - 1):
        # no window, no sort, no single partition anywhere
        ("no window anywhere", lambda p: "Window" not in p),
        ("run-boundary equi-join never a cartesian",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p),
        ("per-column stats map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "forecast_orr_backtest": [
        ("one-row weight frame broadcast into the holdout projection",
         lambda p: "BroadcastNestedLoopJoin" in p),
        ("daily series map-side combined + persisted for train/test",
         lambda p: p.count("HashAggregate") >= 2
         and "InMemoryTableScan" in p),
    ],
    "tfidf_cosine_pairs": [
        ("weight table persisted for norms + both join sides",
         lambda p: "InMemoryTableScan" in p),
        # the only nested-loop joins are the one-row n_docs broadcasts
        # inside the vectorizer; the pair join itself is hash on term
        ("no unbounded cartesian (one-row corpus broadcasts only)",
         lambda p: "CartesianProduct" not in p),
        ("dot products map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        # the 31-term test corpus trips the stats-driven DENSE strategy:
        # exact dots come from the blocked int64 Gram applyInPandas, not
        # a degenerate all-pairs posting join
        ("dense block-Gram strategy selected on the dense corpus",
         lambda p: "FlatMapGroupsInPandas" in p),
    ],
    "rake_keywords": [
        ("phrase-token frame persisted (three consumers)",
         lambda p: "InMemoryTableScan" in p),
        ("island id window partitioned by doc",
         lambda p: "row_number() windowspecdefinition(doc" in p),
        ("no cartesian anywhere",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p),
    ],
    "mutual_knn_docs": [
        ("directed top-k edge set persisted for both reciprocity sides",
         lambda p: "InMemoryTableScan" in p),
        ("no unbounded cartesian (one-row corpus broadcasts only)",
         lambda p: "CartesianProduct" not in p),
        ("per-doc ranking window partitioned by source, never global",
         lambda p: "row_number() windowspecdefinition(src" in p),
        ("reciprocity is a hash equi-join on the swapped key",
         lambda p: "SortMergeJoin" in p or "ShuffledHashJoin" in p
         or "BroadcastHashJoin" in p),
    ],
    "max_f1_threshold": [
        ("histogram map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("positive total broadcast",
         lambda p: "BroadcastNestedLoopJoin" in p),
    ],
    "markov_removal_attribution": [
        # the six chain variants ride ONE persisted matrix; per-round
        # state joins broadcast the |variants x states| frame
        ("variant matrix persisted across the K rounds",
         lambda p: "InMemoryTableScan" in p),
        ("per-round state broadcast into the matrix join",
         lambda p: p.count("BroadcastHashJoin") >= 3),
        ("one fact-scale window pass only (journeys), rest cell-scale",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "vocab_coverage_curve": [
        ("term frequencies map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("no joins at all", lambda p: "Join" not in p),
    ],
    "watermark_lateness_report": [
        # bucket-prefix maxima broadcast back; candidate delays are a
        # broadcast 5-row cross join
        ("bucket prefix maxima broadcast",
         lambda p: "BroadcastHashJoin" in p),
        ("candidate delays broadcast cross join",
         lambda p: "BroadcastNestedLoopJoin" in p),
    ],
})


CHECKS.update({
    # --- round-10 queries ---
    "freq_drift_report": [
        # one low-cardinality groupBy (map-side combined); the totals
        # window runs over the |event_types|-row grouped frame, so its
        # SinglePartition is domain-bounded, and there is no join
        ("no join anywhere", lambda p: "Join" not in p),
        ("one keyed shuffle + the tiny-frame window exchange",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 2),
        ("counts map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "ks_two_sample_value": [
        # grouped on quantized cents first: every window downstream of
        # the groupBy sees the DISTINCT value domain, and the top-1 is
        # a TakeOrdered, never a global row_number window
        ("no join anywhere", lambda p: "Join" not in p),
        ("counts collapse before the CDF windows",
         lambda p: p.count("HashAggregate") >= 2),
        ("top-1 via distributed TakeOrdered",
         lambda p: "TakeOrdered" in p),
    ],
    "robust_merge_report": [
        # the coordinate explode feeds the map-side combiner (partial
        # HashAggregate ABOVE the Generate); the order-stats window is
        # keyed by coord, never single-partition
        ("no join anywhere", lambda p: "Join" not in p),
        ("spoke gradients map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
        ("order-stats window keyed (no single partition)",
         lambda p: "SinglePartition" not in p),
    ],
    "topk_sparse_merge": [
        ("no join anywhere", lambda p: "Join" not in p),
        ("spoke gradients map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
        ("top-k window keyed by spoke (no single partition)",
         lambda p: "SinglePartition" not in p),
    ],
    "kneser_ney_bigrams": [
        # all four statistics reaggregate the ONE bigram count frame;
        # the scalar bigram-type count broadcasts (nested-loop on a
        # 1-row side), and the top-n is a distributed TakeOrdered
        ("no cartesian blowup",
         lambda p: "CartesianProduct" not in p),
        ("statistics joins never sort-merge at model scale",
         lambda p: "SortMergeJoin" not in p),
        ("top-n via distributed TakeOrdered",
         lambda p: "TakeOrdered" in p),
        ("bigram counts map-side combined",
         lambda p: p.count("HashAggregate") >= 6),
    ],
    "bradley_terry_round": [
        # the raw match stream collapses to the pair matrix BEFORE any
        # join; both w0 attachments are keyed joins; no windows at all
        ("no cartesian / nested-loop joins",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("pair matrix + per-player stats map-side combined",
         lambda p: p.count("HashAggregate") >= 6),
        ("no window operator", lambda p: "Window" not in p),
    ],
    "bradley_terry_two_rounds": [
        # r12-opt: the pair matrix is an eager localCheckpoint LEAF
        # (a lazy persist re-embedded the corpus-scan lineage in every
        # denominator reference — 35 scan nodes in the printed plan);
        # both MM rounds plan against the RDD leaf and the corpus scan
        # happens exactly once, in the leaf's materializing job
        ("both rounds read the checkpointed pair-matrix leaf",
         lambda p: p.count("ExistingRDD") >= 4
         and "Scan parquet" not in p),
        ("no cartesian / sort-merge blowup",
         lambda p: "CartesianProduct" not in p
         and "SortMergeJoin" not in p),
        ("no window operator", lambda p: "Window" not in p),
    ],
    "video_shot_boundaries": [
        # closed-form previous-frame luma: one explode + ONE keyed
        # aggregate — no window, no lag shuffle, no join
        ("no join anywhere", lambda p: "Join" not in p),
        ("no window operator", lambda p: "Window" not in p),
        ("per-video aggregate map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "audio_silence_segments": [
        ("no cartesian / sort-merge blowup",
         lambda p: "CartesianProduct" not in p
         and "SortMergeJoin" not in p),
        ("islands window keyed by track (no single partition)",
         lambda p: "SinglePartition" not in p),
        ("frame + run aggregates map-side combined",
         lambda p: p.count("HashAggregate") >= 6),
    ],
    "source_loo_value": [
        # per-source sufficient statistics in one keyed agg; the totals
        # window runs over the |sources|-row frame (domain-bounded)
        ("no cartesian / sort-merge blowup",
         lambda p: "CartesianProduct" not in p
         and "SortMergeJoin" not in p),
        ("funnel features map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    "cox_session_newton": [
        # risk sets from one cumulative histogram over the duration
        # DOMAIN (the sessionization windows are user-keyed; the only
        # global window runs on the distinct-duration frame)
        ("no cartesian / sort-merge blowup",
         lambda p: "CartesianProduct" not in p
         and "SortMergeJoin" not in p),
        ("histogram + sessionization map-side combined",
         lambda p: p.count("HashAggregate") >= 6),
    ],
    "ipw_ate_report": [
        # ONE fact-scale aggregate; everything after is 10-cell
        # arithmetic (no joins at all)
        ("no join anywhere", lambda p: "Join" not in p),
        ("per-user + cell aggregates map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    "ngram_novelty_by_batch": [
        ("consumers read the persisted (batch, bigram) frame",
         lambda p: p.count("InMemoryTableScan") >= 2),
        ("first-seen join keyed, never cartesian",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("no window operator", lambda p: "Window" not in p),
    ],
    "kn_heldout_scores": [
        # the train-half bigram model persists; scoring is LEFT keyed
        # joins + one scalar broadcast — no sort-merge, no cartesian
        ("model reads the persisted bigram frame",
         lambda p: p.count("InMemoryTableScan") >= 4),
        ("scoring joins never sort-merge at model scale",
         lambda p: "SortMergeJoin" not in p),
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
    ],
    "louvain_item_pass": [
        # r12-opt: the co-occurrence self-join is a localCheckpointed
        # plan LEAF (sym/deg/cand read ExistingRDD, no re-derivation),
        # and the per-vertex argmax is a keyed max(struct) aggregation
        # — no Window, no per-vertex sort
        ("branches read the checkpointed edge leaf",
         lambda p: p.count("ExistingRDD") >= 3
         and "Scan parquet" not in p),
        # vertex-scale deg joins may legitimately sort-merge pre-AQE;
        # the scale property is keyed-ness, not the join strategy
        ("argmax is a keyed aggregation, not a window",
         lambda p: "Window" not in p),
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
    ],
    "louvain_modularity_report": [
        # the edge self-join is a localCheckpointed plan leaf (r12 ext:
        # a lazy persist re-embedded the self-join LOGICAL plan per
        # reference — ~8 replications of flat Catalyst analysis)
        ("branches read the checkpointed edge leaf",
         lambda p: p.count("ExistingRDD") >= 3
         and "InMemoryTableScan" not in p),
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
        ("per-community rollups map-side combined",
         lambda p: p.count("HashAggregate") >= 6),
    ],
    "cohens_kappa_labels": [
        # ONE contingency groupBy over the scan, persisted; all four
        # consumers (marginals, totals, pe) read the 9-row cache, so
        # the corpus is scanned once at runtime (the plan TEXT reprints
        # the cached relation's defining scan per reference)
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
        ("contingency map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("all consumers read the persisted contingency",
         lambda p: p.count("InMemoryTableScan") >= 4),
    ],
})


CHECKS.update({
    # --- round-10 second tail (wave E) ---
    "hilbert_events_key": [
        # the 16-level rotation ladder is pure projection: Catalyst's
        # CollapseProject folds every chained selectExpr, so the plan
        # is scan -> one Project, nothing else
        ("no join anywhere", lambda p: "Join" not in p),
        ("no window", lambda p: "Window" not in p),
        ("no exchange (map-only ladder)", lambda p: "Exchange" not in p),
    ],
    "curve_locality_report": [
        # distinct cells collapse FIRST (domain-bounded <= 65536 rows);
        # both curve windows and the jump rollup ride that bounded frame
        ("no join anywhere", lambda p: "Join" not in p),
        ("cells collapse before the curve windows",
         lambda p: p.count("HashAggregate") >= 2),
        ("curve windows keyed by curve, never single-partition",
         lambda p: "SinglePartition" not in p),
    ],
    "draft_acceptance_by_source": [
        # ONE persisted (source, w1, w2) aggregate feeds both the
        # draft argmax and the acceptance join; the argmax window is
        # keyed by w1; no cartesian anywhere
        ("consumers read the persisted transition counts",
         lambda p: p.count("InMemoryTableScan") >= 2),
        ("draft argmax window keyed by w1",
         lambda p: "SinglePartition" not in p),
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
    ],
    "tokenizer_fertility_report": [
        ("no join anywhere", lambda p: "Join" not in p),
        ("no window", lambda p: "Window" not in p),
        ("cell counts map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "best_of_n_curve": [
        ("no join anywhere", lambda p: "Join" not in p),
        ("candidate-rank window keyed by (lang, source)",
         lambda p: "SinglePartition" not in p),
        ("cell + curve rollups map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    "shapley_attribution_channels": [
        # fact-scale work is the user-keyed window + the distinct
        # (user, channel) collapse; every coalition-scale frame
        # broadcasts (the crosses are BroadcastNestedLoop over <= 2^n
        # rows), so no shuffled cartesian exists
        ("no shuffled cartesian",
         lambda p: "CartesianProduct" not in p),
        ("fact collapse + coalition sums map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
        ("coalition frames broadcast",
         lambda p: "BroadcastExchange" in p),
    ],
    "doremi_weight_round": [
        ("no join anywhere", lambda p: "Join" not in p),
        ("domain aggregate map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "semdedup_keep_list": [
        # k seed ROWS broadcast into the assignment fan-out; the pair
        # search joins keyed on cid — the cluster-blocked quadratic —
        # and both the prune set and the report read the persisted
        # assignment.  r12-opt: distances/dots/|x|² are row-local array
        # folds, the argmin is a vid-keyed min_by AGGREGATION — no
        # Window, no coordinate explode, no (vid, cid) exchange
        ("seed centroids broadcast", lambda p: "BroadcastExchange" in p),
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
        ("argmin is a keyed agg, not a window",
         lambda p: "Window" not in p
         and "hashpartitioning(vid" in p),
        ("consumers read the persisted assignment",
         lambda p: p.count("InMemoryTableScan") >= 2),
    ],
    "adam_hub_rounds": [
        # both batch gradients are conditional sums off ONE scan; the
        # optimizer recurrence is row-local on the 16-row aggregate
        ("no join anywhere", lambda p: "Join" not in p),
        ("no window", lambda p: "Window" not in p),
        ("coordinate sums map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "ccnet_perplexity_buckets": [
        ("ntile window keyed by lang",
         lambda p: "SinglePartition" not in p),
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
        ("model + scoring aggs map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    "skyline_users": [
        # the dominance window rides the distinct-value DOMAIN frame
        # (two stacked aggregates above it); the flag join is keyed on
        # value_c
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
        ("user + domain aggs map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    "disparate_impact_report": [
        # one tokenized scan + the shared top-word agg -> |langs|
        # aggregate; the ratio/gap windows ride the bounded group frame
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
        ("per-group counts map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    "sprt_decision_replay": [
        # the cumulative LLR window is arm-keyed (sequential-by-design,
        # documented); the rollup is one keyed aggregate; no joins
        ("no join anywhere", lambda p: "Join" not in p),
        ("window keyed by arm", lambda p: "SinglePartition" not in p),
        ("rollup map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "ams_f2_report": [
        # one vocab-scale token aggregate; the 9x explode feeds the
        # map-side combiner; the median pick rides the 9-row frame
        ("no cartesian beyond the 1x9 broadcast",
         lambda p: "CartesianProduct" not in p),
        ("token counts + counters map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    "mmr_diverse_topk": [
        # k rounds: pool scan x (<= k-1)-row broadcast selected set +
        # TakeOrdered(1); the crosses are broadcast, never shuffled
        ("no shuffled cartesian",
         lambda p: "CartesianProduct" not in p),
        ("round argmax via distributed TakeOrdered",
         lambda p: "TakeOrdered" in p),
        ("selected sets broadcast",
         lambda p: "BroadcastExchange" in p),
    ],
    "clipped_merge_report": [
        # one fact scan into the (spoke, coord) combiner; the 8-row
        # norms frame broadcasts back; no window at all
        ("no window", lambda p: "Window" not in p),
        ("norms broadcast", lambda p: "BroadcastHashJoin" in p),
        ("gradient + merge aggs map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    # ---- round 11 additions -------------------------------------------
    "louvain_second_pass": [
        # pass-1 labels are localCheckpointed (plan leaf — a lazy
        # persist re-embedded the pass-1 DAG once per the 4 consumers,
        # ~5 s flat analysis cost, r12) and the persisted edge frame
        # feeds every level; the level-2 argmax window is keyed by the
        # super-vertex, never a global sort
        ("labels and edges are checkpointed plan leaves",
         lambda p: p.count("ExistingRDD") >= 3
         and "InMemoryTableScan" not in p),
        # r13-opt: the merge-pass argmax is a keyed max(struct) agg —
        # no Window operator remains anywhere in the Louvain family
        ("merge-pass argmax is a keyed agg, no window sort",
         lambda p: len(re.findall(r"\(\d+\) Window", p)) == 0
         and "hashpartitioning(src" in p),
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
    ],
    "louvain_dendrogram": [
        # level-2 labels are localCheckpointed (the ~4x-replicated
        # level-2 subtree cost ~30 s flat analysis time before the
        # cut, r12); both merge passes use the keyed struct-max argmax
        ("level-2 labels and edges are checkpointed plan leaves",
         lambda p: p.count("ExistingRDD") >= 3
         and "InMemoryTableScan" not in p),
        # r13-opt: no Window operator remains at any level
        ("merge-pass argmaxes are keyed aggs, no window sort",
         lambda p: len(re.findall(r"\(\d+\) Window", p)) == 0
         and "hashpartitioning(src" in p),
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
    ],
    "source_shapley_value": [
        # one fact-scale funnel pass collapses to |sources| rows; the
        # coalition frame (<= 512 rows) and player stats broadcast
        ("coalition math on broadcast frames",
         lambda p: "BroadcastExchange" in p),
        ("funnel features map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
        ("no shuffled cartesian", lambda p: "CartesianProduct" not in p),
        ("coalition frame persisted for v0/v1 reuse",
         lambda p: "InMemoryTableScan" in p),
    ],
    "facility_location_select": [
        # greedy rounds ride the bounded driver loop (1-row argmax per
        # round over the persisted packed-dot frame), so the published
        # plan is the <= k-row selection as a local-rows RDD scan —
        # never the k-round nested lineage
        ("final plan reads <= k-row local selection, not k-round lineage",
         lambda p: "ExistingRDD" in p),
        ("no cartesian anywhere",
         lambda p: "CartesianProduct" not in p),
    ],
    "wordpiece_pair_scores": [
        # corpus collapses to the vocab in one combiner-backed groupBy;
        # unigram/pair stats reaggregate vocab-scale frames; top-n is
        # a bounded window (rank <= 20 filter post-window is fine)
        ("vocab + pair aggs map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
    ],
    "dp_topk_terms": [
        # one vocab collapse (map-side combined) + row-local noise +
        # bounded top-k window; no join
        ("vocab agg map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("no join at all", lambda p: "Join" not in p),
    ],
    "functional_dependency_report": [
        # per pair one scan with distinct-agg expansion; one-row frames
        # union — never a join
        ("no join at all", lambda p: "Join" not in p),
        ("distinct aggs expand map-side",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    "boilerplate_ngrams_report": [
        # distinct (source, ngram, doc) collapse + (source, ngram)
        # count both map-side combined; |sources| broadcast; top-n
        # window keyed by source
        ("aggs map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
        ("per-source totals broadcast",
         lambda p: "BroadcastExchange" in p),
        ("top-n window keyed by source",
         lambda p: "SinglePartition" not in p.split("Window")[-1][:400]
         and "hashpartitioning(grp" in p),
    ],
    "wasserstein_value_periods": [
        # the ordered CDF window runs on the value-DOMAIN-bounded
        # counts frame (the ks_two_sample shape); one final global agg
        ("counts collapse before the CDF window",
         lambda p: p.count("HashAggregate") >= 2),
        ("no join at all", lambda p: "Join" not in p),
    ],
    "rocchio_expansion_terms": [
        # fb ids + query terms broadcast; centroid is one term-keyed
        # agg; no cartesian
        ("feedback set broadcast", lambda p: "BroadcastExchange" in p),
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
        ("centroid agg map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
    ],
    "ivf_recall_report": [
        # centroids broadcast into assignment/probing; the candidate
        # frame persists and all three probe rankings read it; windows
        # stay query-keyed
        ("centroids broadcast", lambda p: "BroadcastExchange" in p),
        ("probe rankings read the persisted candidate frame",
         lambda p: p.count("InMemoryTableScan") >= 3),
        ("ranking windows keyed by query",
         lambda p: "SinglePartition" not in p.split("Window")[-1][:400]
         and "hashpartitioning(query_id" in p),
    ],
    "rec_mrr_at5": [
        # rides the hitrate frame: per-user windows stay user-keyed;
        # the final rollup is one row
        ("ranking windows keyed by user",
         lambda p: "SinglePartition" not in p.split("Window")[-1][:400]
         or "Window" not in p),
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
    ],
    "assortativity_items": [
        # two keyed degree joins + ONE global moment agg; no window
        ("no window at all", lambda p: "Window" not in p),
        ("moment agg map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
    ],
    "cdc_chunk_dedup": [
        # chunk spans are row-local array math (r12-opt): NO per-byte
        # window, NO doc-keyed shuffle, no join-back — the only
        # payload-scale exchange is the map-side-combined (grp, fp) agg
        ("no per-byte window", lambda p: "Window" not in p),
        ("no doc-keyed exchange",
         lambda p: "hashpartitioning(did" not in p),
        ("aggs map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
        ("no cartesian blowup", lambda p: "CartesianProduct" not in p),
    ],
    "chimerge_value_bins": [
        # one row-scale agg to the 16-bucket frame; every round is two
        # ordered windows + one grouped sum on that bounded frame
        ("input aggregation map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("no join at all", lambda p: "Join" not in p),
    ],
})


CHECKS.update({
    # --- round-12 extension queries ---
    "llm_watermark_detect": [
        # the whole detector is row-local higher-order-function folds:
        # no shuffle anywhere on a 100 TB corpus
        ("zero exchanges — fully narrow plan",
         lambda p: "Exchange" not in p),
        ("no join, no window, no aggregate",
         lambda p: "Join" not in p and "Window" not in p),
    ],
    "wordpiece_encode_vocab": [
        # vocabulary collapse + one Catalyst aggregate-fold per token
        # type: the (tok, tok_cnt) vocab persists (piece-table job and
        # segmentation pass share it — one corpus scan, not two), the
        # piece table rides as an array literal (no join); visible
        # exchanges = the vocab agg (+ its cached-relation reprint)
        # and the final piece groupBy
        ("no join anywhere (piece table is a literal)",
         lambda p: "Join" not in p),
        ("segmentation reads the persisted vocabulary",
         lambda p: "InMemoryTableScan" in p),
        ("only the two keyed agg shuffles (+ cache reprint)",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 3),
        ("both aggs map-side combined",
         lambda p: p.count("HashAggregate") >= 4),
        ("greedy scan is codegen, not Python",
         lambda p: "MapInPandas" not in p and "BatchEvalPython" not in p),
    ],
    "unimax_mixture_plan": [
        # one corpus-linear token-count agg; every window lives on the
        # |sources|-row aggregated frame (GLOBAL_WINDOW_BOUNDED)
        ("no join anywhere", lambda p: "Join" not in p),
        ("token counts map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "watermark_source_report": [
        # the exchange-free detector carries source as a passthrough
        # column: the whole report is one keyed groupBy — no join
        ("no join anywhere (source is a passthrough)",
         lambda p: "Join" not in p),
        ("exactly the one keyed agg exchange",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 1),
        ("rollup map-side combined",
         lambda p: p.count("HashAggregate") >= 2),
        ("no window", lambda p: "Window" not in p),
    ],
})


GLOBAL_WINDOW_BOUNDED = [
    "auc_purchase_value", "budget_apportion_sources",
    "conformal_interval_orr", "gbt_residual_round", "km_session_survival",
    "ks_value_periods", "negative_samples", "psi_value_drift",
    "quantile_binned_orders", "revenue_mom_growth", "skew_profile_partkey",
    "stump_best_split", "top_event_trigrams", "tree_depth2_events",
    "tree_depth3_events",
    # round-5 additions, all over aggregated bounded frames: the daily
    # series (changepoint/acf) and the distinct-cents histogram
    # (winsorized p99)
    "revenue_changepoint", "revenue_acf", "winsorized_arm_means",
    "gini_revenue_concentration",   # rank over the per-user aggregate
    "opq_dim_assignment",           # rank over the 64 per-dim moment rows
    "nelson_aalen_hazard",          # hazard cumsum over the risk steps
    "rfm_segments",                 # three CDFs over value-count hists
    "uplift_decile_report",         # score CDF + 10-row decile cumsum
    "top_session_paths",            # top-20 rank over the path counts
    # round-6 third wave: vocab-id + final-rank windows ride the
    # distinct-pair / 64-row scatter aggregates
    "textrank_keywords",
    "embedding_class_scatter",
    "vocab_coverage_curve",         # rank/cumsum over the vocab aggregate
    "watermark_lateness_report",    # prefix max over the bucket aggregate
    "max_f1_threshold",             # CDF over the distinct-cents histogram
    "forecast_orr_backtest",        # lag windows over the daily aggregate
    "seasonal_decompose_daily",     # centered 7-day window over the
                                    # daily aggregate
    "rake_keywords",                # top-25 rank over the distinct-phrase
                                    # aggregate
    # wave E: channel-index / normalization windows over bounded
    # aggregates (<= 12 channels; |domains| rows)
    "shapley_attribution_channels",
    "doremi_weight_round",
    "skyline_users",            # sweep window over the value-domain agg
    "disparate_impact_report",  # ratio/gap windows over the lang agg
    "ams_f2_report",            # median pick over the 9-counter frame
    "hits_item_authorities",        # rank over the item-scale authority
                                    # aggregate
    "unimax_mixture_plan",          # water-filling windows over the
                                    # |sources|-row token aggregate
]

# a window is GLOBAL when windowspecdefinition's first argument is an
# ORDER column (carries ASC/DESC) or directly the frame — partitioned
# windows list their partition columns first, without a sort direction
_GLOBAL_WINDOW_RE = re.compile(
    r"windowspecdefinition\((?:[\w#.]+ (?:ASC|DESC)|specifiedwindowframe)"
)


def _global_windows_post_agg(ext: str) -> bool:
    """Every global Window node in the optimized logical plan must reach
    an Aggregate on the path to each data-bearing leaf of its subtree:
    the single-task window then sees only aggregated (bounded) rows."""
    lines = _optimized(ext).splitlines()

    def depth(s: str) -> int:
        m = re.search(r"[A-Za-z]", s)
        return m.start() if m else len(s)

    for i, line in enumerate(lines):
        if "Window [" not in line or not _GLOBAL_WINDOW_RE.search(line):
            continue
        d0 = depth(line)
        # walk the subtree with an (depth, agg-seen-on-path) stack
        stack: list[tuple[int, bool]] = [(d0, False)]
        for j in range(i + 1, len(lines)):
            nxt = lines[j]
            if not nxt.strip():
                break
            d = depth(nxt)
            if d <= d0:
                break
            while stack and stack[-1][0] >= d:
                stack.pop()
            node = re.sub(r"^[\s:+\-]*", "", nxt)
            has_agg = (stack[-1][1] if stack else False) or node.startswith(
                "Aggregate"
            )
            if node.startswith("Relation ") and not has_agg:
                return False
            stack.append((d, has_agg))
    return True


def _optimized(extended_plan: str) -> str:
    """The '== Optimized Logical Plan ==' section (join hints survive there
    as `rightHint=(strategy=broadcast)` annotations)."""
    m = re.search(
        r"== Optimized Logical Plan ==(.*?)== Physical Plan ==",
        extended_plan,
        re.S,
    )
    return m.group(1) if m else ""


def _gw_bounded(p, ext):
    return _global_windows_post_agg(ext)


for _q in GLOBAL_WINDOW_BOUNDED:
    CHECKS.setdefault(_q, []).append(
        ("global windows fed by aggregates (bounded cardinality)",
         _gw_bounded)
    )


def _lint_plan_evidence() -> int:
    """Reject byte-identical before/after plan pairs under plans/
    (VERDICT r12 item 1: an after-plan committed under a _before name
    looks like verification while verifying nothing — a before-file
    that equals its after-file is always a capture mistake, because a
    committed optimization by definition changed the plan)."""
    import glob
    import os

    bad = 0
    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans")
    for before in glob.glob(os.path.join(root, "**", "*_before.txt"),
                            recursive=True):
        after = before[: -len("_before.txt")] + "_after.txt"
        if not os.path.exists(after):
            continue
        with open(before, "rb") as fb, open(after, "rb") as fa:
            same = fb.read() == fa.read()
        if same:
            print(f"FAIL plan-evidence: {os.path.relpath(before, root)} "
                  "is byte-identical to its _after file")
            bad += 1
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    failures = _lint_plan_evidence()
    for name, checks in CHECKS.items():
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        buf2 = io.StringIO()
        with contextlib.redirect_stdout(buf2):
            df.explain("extended")
        ext = buf2.getvalue()
        for desc, pred in checks:
            ok = False
            try:
                nargs = pred.__code__.co_argcount
                ok = bool(pred(plan) if nargs == 1 else pred(plan, ext))
            except Exception:  # noqa: BLE001
                ok = False
            print(f"{'ok  ' if ok else 'FAIL'} {name}: {desc}")
            failures += 0 if ok else 1
    spark.stop()
    if failures:
        print(f"\n{failures} plan-property failures")
        return 1
    print("\nall plan properties hold")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
