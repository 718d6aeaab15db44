"""Corpus/scrub operators under Structured Streaming: the map-only ops
(pii_redact, text metrics) must run unchanged on a readStream frame — the
engine claim is streaming-first, so streaming compatibility is asserted,
not assumed. Stateless Catalyst projections carry over automatically;
this pins that no operator accidentally introduces a batch-only construct
(e.g. a global window or non-streaming join shape)."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from omldm_spark.operators.pii import pii_redact, plant_pii
from omldm_spark.streaming.sources import await_bounded, file_replay_source

DOC_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
    StructField("source", StringType()),
    StructField("n_chars", LongType()),
])


def test_pii_redact_runs_on_stream(spark, tmp_path):
    import shutil

    sf = "/root/testdata/sf0.001"
    # batch reference result
    batch = spark.read.parquet(f"{sf}/documents.parquet")
    expected = {
        r["doc_id"]: r for r in pii_redact(plant_pii(batch)).collect()
    }

    src = tmp_path / "docs_stream"  # FileStreamSource wants a directory
    src.mkdir()
    shutil.copy(f"{sf}/documents.parquet", src / "part-0.parquet")
    stream = file_replay_source(spark, str(src), DOC_SCHEMA)
    out = pii_redact(plant_pii(stream))
    assert out.isStreaming
    got: list = []
    q = (
        out.writeStream.foreachBatch(lambda df, bid: got.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 120)
    assert len(got) == len(expected)
    for r in got[:50]:
        e = expected[r["doc_id"]]
        assert (r["n_emails"], r["n_ips"], r["n_phones"], r["clean_text"]) == (
            e["n_emails"], e["n_ips"], e["n_phones"], e["clean_text"]
        )


def test_text_quality_runs_on_stream(spark, tmp_path):
    import shutil

    from omldm_spark.functions.text import text_metrics

    src = tmp_path / "docs_stream2"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/documents.parquet",
                src / "part-0.parquet")
    stream = file_replay_source(spark, str(src), DOC_SCHEMA)
    out = text_metrics(stream)
    assert out.isStreaming  # projection-only: valid in append mode as-is


def test_dup_line_removal_drops_cross_doc_boilerplate(spark):
    """The C4 line rule on real multi-paragraph text: a header shared by
    two docs is removed from BOTH; unique paragraphs survive in order; a
    line repeated only WITHIN one doc stays."""
    from omldm_spark.operators.corpus import dup_line_removal

    header = "SUBSCRIBE TO OUR NEWSLETTER"
    rows = [
        (1, f"{header}\nalpha body one\nalpha body two"),
        (2, f"{header}\nbeta body"),
        (3, "solo paragraph\nsolo paragraph\ngamma end"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dup_line_removal(docs).collect()}
    assert out[1]["clean_text"] == "alpha body one\nalpha body two"
    assert out[1]["n_dropped"] == 1 and out[1]["n_units"] == 3
    assert out[2]["clean_text"] == "beta body"
    # within-doc repetition is NOT cross-document sharing
    assert out[3]["n_dropped"] == 0
    assert out[3]["clean_text"] == "solo paragraph\nsolo paragraph\ngamma end"


def test_dup_line_removal_empty_when_all_shared(spark):
    """A doc that is 100% boilerplate keeps its row with empty clean_text
    (drop decision is visible; filtering is policy)."""
    from omldm_spark.operators.corpus import dup_line_removal

    rows = [(1, "same line"), (2, "same line")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dup_line_removal(docs).collect()}
    assert out[1]["clean_text"] == "" and out[2]["clean_text"] == ""
    assert out[1]["n_dropped"] == 1


def test_streaming_topk_state_cadence_independent(spark, tmp_path):
    """The update-mode leaderboard state must equal the batch GROUP BY
    whatever the batch cadence: replay the same rows as ONE batch and as
    THREE single-file batches and compare final states."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    schema = StructType([
        StructField("g", StringType()),
        StructField("k", LongType()),
        StructField("v", DoubleType()),
    ])
    rows = [("a", i % 4, float(i)) for i in range(30)]

    def run(n_files: int):
        src = tmp_path / f"src_{n_files}"
        src.mkdir()
        for f in range(n_files):
            spark.createDataFrame(
                rows[f::n_files], schema
            ).coalesce(1).write.parquet(str(src / f"f{f}.parquet"))
        stream = file_replay_source(
            spark, f"{src}/*", schema, max_files_per_trigger=1
        )
        agg = stream.groupBy("g", "k").agg(
            F.sum(F.round(F.col("v") * 100, 0).cast("long")).alias("total_c")
        )
        state: dict = {}
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: state.update(
                {(r["g"], r["k"]): r["total_c"] for r in df.collect()}
            ))
            .option("checkpointLocation", str(tmp_path / f"ckpt_{n_files}"))
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 120)
        return state

    assert run(1) == run(3)


def test_streaming_zset_fold_cadence_and_vanish(spark, tmp_path):
    """The signed (cnt, sum) streaming fold equals the batch Z-set fold at
    any cadence, and a key whose multiplicity returns to zero is absent
    from the published (cnt > 0) view."""
    from pyspark.sql import functions as F

    schema = StructType([
        StructField("k", LongType()),
        StructField("sign", LongType()),
        StructField("v", LongType()),
    ])
    # key 7: +1 then -1 -> multiplicity 0 (must vanish); key 1: net 2
    rows = [(1, 1, 10), (7, 1, 5), (1, 1, 20), (7, -1, 5), (1, -1, 10),
            (1, 1, 40), (2, 1, 9)]

    def run(n_files: int):
        src = tmp_path / f"zsrc_{n_files}"
        src.mkdir()
        for f in range(n_files):
            spark.createDataFrame(
                rows[f::n_files], schema
            ).coalesce(1).write.parquet(str(src / f"f{f}.parquet"))
        stream = file_replay_source(
            spark, f"{src}/*", schema, max_files_per_trigger=1
        )
        agg = stream.groupBy("k").agg(
            F.sum("sign").cast("long").alias("cnt"),
            F.sum(F.col("sign") * F.col("v")).cast("long").alias("bal"),
        )
        state: dict = {}
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: state.update(
                {r["k"]: (r["cnt"], r["bal"]) for r in df.collect()}
            ))
            .option("checkpointLocation", str(tmp_path / f"zckpt_{n_files}"))
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 120)
        return {k: v for k, v in state.items() if v[0] > 0}

    expect = {1: (2, 60), 2: (1, 9)}  # 7 vanished
    assert run(1) == expect
    assert run(3) == expect


# ---------------------------------------------------------------------------
# Incremental cross-source overlap (cross_source_overlap_merge)
# ---------------------------------------------------------------------------


def _overlap_docs(spark):
    # 3 sources; "alpha beta gamma delta" is shared by web+books (planted
    # contamination), "one two three four" by web+wiki; wiki also repeats a
    # web shingle inside a longer doc so containment != jaccard.
    rows = [
        (1, "alpha beta gamma delta", "web"),
        (2, "alpha beta gamma delta", "books"),
        (3, "one two three four", "web"),
        (4, "one two three four", "wiki"),
        (5, "zzz yyy xxx www", "books"),
        (6, "one two three four five six", "wiki"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string")


def _fold_in_batches(spark, docs, n_batches, n=4):
    from omldm_spark.operators.dedup import cross_source_overlap_merge

    state = None
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    for b in range(n_batches):
        batch_ids = [i for j, i in enumerate(sorted(ids))
                     if j % n_batches == b]
        batch = docs.filter(docs.doc_id.isin(batch_ids))
        state = cross_source_overlap_merge(state, batch, n=n)
        # materialize like the streaming query does per batch (the fold
        # contract: state versions are persisted, not lazily chained)
        state = tuple(s.localCheckpoint() for s in state)
    return state


def _counters_dict(state):
    _, shared, totals = state
    return (
        {(r.src_a, r.src_b): r.n_shared for r in shared.collect()
         if r.n_shared > 0},
        {r.src: r.n_shingles for r in totals.collect()},
    )


def test_overlap_merge_matches_batch_any_cadence(spark):
    from omldm_spark.operators.dedup import cross_source_overlap

    docs = _overlap_docs(spark)
    batch = {
        (r.src_a, r.src_b): (r.n_shared, r.tot_a, r.tot_b, r.containment_ppm)
        for r in cross_source_overlap(docs, n=4).collect()
    }
    for cadence in (1, 2, 3, 6):
        state = _fold_in_batches(spark, docs, cadence, n=4)
        shared, totals = _counters_dict(state)
        assert shared == {k: v[0] for k, v in batch.items()}, cadence
        for (a, b), (_, ta, tb, _) in batch.items():
            assert totals[a] == ta and totals[b] == tb


def test_overlap_merge_reseen_posting_is_free(spark):
    """Replaying an already-absorbed document must change NOTHING: the
    anti-join makes re-seen postings zero-cost and zero-effect (the
    exactly-once transition per (pair, shingle))."""
    from omldm_spark.operators.dedup import cross_source_overlap_merge

    docs = _overlap_docs(spark)
    state = _fold_in_batches(spark, docs, 2, n=4)
    before = _counters_dict(state)
    replay = docs.filter(docs.doc_id.isin([1, 3, 4]))
    state2 = cross_source_overlap_merge(state, replay, n=4)
    assert _counters_dict(state2) == before
    # postings set unchanged too
    assert state2[0].count() == state[0].count()


def test_incremental_overlap_decomposition(spark):
    """new x new + new x old decomposition over arbitrary batch splits
    reproduces the one-shot self-join exactly (exactly-once per pair)."""
    from omldm_spark.operators.temporal import interval_overlap_pairs

    rows = [(k, 100 * k, 100 * k + 250) for k in range(1, 21)]
    df = spark.createDataFrame(rows, "k long, start_s long, end_s long")
    want = sorted(tuple(r) for r in interval_overlap_pairs(df).collect())
    assert len(want) > 10
    for split in (5, 9, 13):
        old = df.filter(df.k <= split)
        new = df.filter(df.k > split)
        got = (interval_overlap_pairs(new).unionByName(
            interval_overlap_pairs(new, old)).unionByName(
            interval_overlap_pairs(old)))
        got_rows = sorted(tuple(r) for r in got.collect())
        assert got_rows == want, split
        assert len(got_rows) == len(set(got_rows))


def test_retention_state_fold_rebases_cohort_out_of_order(spark):
    # the streaming_retention_cohorts fold: carried state is the distinct
    # (user, week) set.  A user first seen at week 7 (batch 1) whose week-2
    # event arrives LATE (batch 2) must re-base cohort 7 -> 2 and retract
    # the (7, 0) cell — counter-increment IVM cannot; state-recompute must.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def matrix(state):
        aged = state.withColumn(
            "cohort_w", F.min("w").over(Window.partitionBy("user_id")))
        return {
            (r.cohort_w, r.age_w): r.users
            for r in aged.select(
                "user_id", "cohort_w",
                (F.col("w") - F.col("cohort_w")).alias("age_w"))
            .distinct().groupBy("cohort_w", "age_w")
            .agg(F.count(F.lit(1)).alias("users")).collect()}

    def fold(prev, batch):
        pairs = batch.select("user_id", "w").distinct()
        if prev is None:
            return pairs
        return prev.unionByName(
            pairs.join(prev, ["user_id", "w"], "left_anti"))

    b1 = spark.createDataFrame([(1, 7), (1, 9), (2, 7)], "user_id long, w long")
    b2 = spark.createDataFrame([(1, 2), (2, 7)], "user_id long, w long")
    s1 = fold(None, b1)
    assert matrix(s1) == {(7, 0): 2, (7, 2): 1}
    s2 = fold(s1, b2)
    # user 1 re-based to cohort 2: ages now 0 (w2), 5 (w7), 7 (w9); the
    # (7, 2) cell is retracted and (7, 0) shrinks to user 2 alone
    assert matrix(s2) == {(2, 0): 1, (2, 5): 1, (2, 7): 1, (7, 0): 1}
    # duplicate (2, 7) arrival did not double-count: state stays distinct
    assert s2.count() == 4


def test_streaming_unimax_fold_cadence_independent(spark, tmp_path):
    """The UniMax twin's statefold (keyed token-count sums) must land on
    the SAME allocation whatever the micro-batch cadence: fold the same
    documents as one batch and as three single-file batches through the
    statefold, then derive the water-filling plan from both final
    states — the additive-sufficient-statistic claim, tested end to
    end through publish_state/read_latest_state."""
    from pyspark.sql import functions as F

    from omldm_spark.operators.corpus import unimax_from_counts
    from omldm_spark.operators.dedup import tokens_col
    from omldm_spark.streaming.sources import file_replay_source
    from omldm_spark.streaming.statefold import (publish_state,
                                                 read_latest_state)

    schema = StructType([
        StructField("source", StringType()),
        StructField("text", StringType()),
    ])
    rows = [(f"s{i % 3}", "w " * (5 + 7 * i)) for i in range(12)]

    def run(n_files: int):
        src = tmp_path / f"usrc_{n_files}"
        src.mkdir()
        for f in range(n_files):
            spark.createDataFrame(
                rows[f::n_files], schema
            ).coalesce(1).write.parquet(str(src / f"f{f}.parquet"))
        stream = file_replay_source(
            spark, f"{src}/*", schema, max_files_per_trigger=1
        )
        state_dir = str(tmp_path / f"ustate_{n_files}")

        def fold(new, bid):
            prev = read_latest_state(spark, state_dir, below=bid)
            cnt = (
                new.select(
                    "source",
                    F.size(tokens_col("text")).cast("long").alias("nt"))
                .groupBy("source")
                .agg(F.sum("nt").cast("long").alias("n_tokens"))
            )
            if prev is not None:
                cnt = prev.unionByName(cnt).groupBy("source").agg(
                    F.sum("n_tokens").cast("long").alias("n_tokens"))
            publish_state(cnt, spark, state_dir, bid)

        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", str(tmp_path / f"uckpt_{n_files}"))
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 120)
        plan = unimax_from_counts(read_latest_state(spark, state_dir))
        return sorted(tuple(r) for r in plan.collect())

    one, three = run(1), run(3)
    assert one == three
    # and the batch operator agrees with the folded allocation
    from omldm_spark.operators.corpus import unimax_mixture_plan

    docs = spark.createDataFrame(rows, schema)
    batch = sorted(tuple(r) for r in unimax_mixture_plan(docs).collect())
    assert one == batch
