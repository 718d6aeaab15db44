"""Stateful streaming operators: cross-batch dedup, near-dedup, drift and
the keyed upsert sinks."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from omldm_spark.streaming.sources import await_bounded, file_replay_source
from omldm_spark.streaming.stateful import streaming_dedup


def _write_batches(spark, tmp_path):
    """Two parquet files -> two micro-batches (maxFilesPerTrigger=1).
    Key 'a' repeats within batch 1 and again in batch 2."""
    b1 = pd.DataFrame({"k": ["a", "a", "b"], "v": [1.0, 2.0, 3.0],
                       "rid": [1, 2, 3]})
    b2 = pd.DataFrame({"k": ["a", "c"], "v": [4.0, 5.0], "rid": [4, 5]})
    src = str(tmp_path / "src")
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)
    schema = "k string, v double, rid bigint"
    return file_replay_source(spark, src, schema, max_files_per_trigger=1)


def test_streaming_dedup_across_batches(spark, tmp_path):
    stream = _write_batches(spark, tmp_path)
    out = streaming_dedup(stream, "k")
    sink: list = []
    q = (
        out.writeStream.foreachBatch(lambda df, _: sink.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 120)
    keys = sorted(r["k"] for r in sink)
    assert keys == ["a", "b", "c"]  # second+third 'a' suppressed cross-batch


def test_exact_dedup_plan_is_native(spark, tmp_path):
    """Exact dedup is Spark's JVM-side streaming Deduplicate: no Python
    worker, no GroupState."""
    stream = _write_batches(spark, tmp_path)
    out = streaming_dedup(stream, "k")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "Deduplicate" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan
    assert out.schema == stream.schema


def test_windowed_counts_with_watermark(spark, tmp_path):
    from omldm_spark.streaming.windows import windowed_event_counts

    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:01:00", "2024-01-01 00:02:00",
                 "2024-01-01 00:11:00", "2024-01-01 00:12:00",
                 "2024-01-01 00:01:30"]
            ),
            "event_type": ["a", "a", "a", "b", "b"],
        }
    )
    src = str(tmp_path / "wsrc")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    stream = file_replay_source(spark, src, "ts timestamp, event_type string")
    out = windowed_event_counts(stream, window="10 minutes", watermark="5 minutes")
    sink: list = []
    q = (
        out.writeStream.foreachBatch(lambda df, _: sink.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 120)
    got = {(r["window_start"].minute, r["event_type"]): r["cnt"] for r in sink}
    assert got[(0, "a")] == 2   # 00:00-00:10 window
    assert got[(10, "a")] == 1  # 00:10-00:20 window
    assert got[(0, "b")] == 1
    assert got[(10, "b")] == 1


def test_idle_timeout_stopper(spark, tmp_path):
    from omldm_spark.streaming.windows import IdleTimeoutStopper

    # a file stream with one file and a continuous trigger: after batch 0 it
    # idles forever — the stopper must terminate it (the reference's 30 s
    # idle-timeout self-termination)
    pdf = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.0]})
    src = str(tmp_path / "isrc")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    stream = file_replay_source(spark, src, "k string, v double")
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ickpt"))
        .start()
    )
    IdleTimeoutStopper(q, timeout_sec=4.0, poll_sec=0.5).start()
    await_bounded(q, 90)
    assert not q.isActive


def test_streaming_near_dedup_across_batches(spark, tmp_path):
    """A near-duplicate arriving BATCHES LATER must still collide with its
    anchor through the banded bucket state (the streaming analogue of
    minhash-LSH candidate pairs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import time as _time

    from omldm_spark.streaming.sources import file_replay_source
    from omldm_spark.streaming.stateful import streaming_near_dedup
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    base_text = "the quick brown fox jumps over the lazy dog again and again"
    near = base_text.replace("lazy", "sleepy")          # most shingles shared
    other = "completely different words about spark adaptive execution plans"

    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    src = tmp_path / "near_src"
    src.mkdir()
    t0 = _time.time() - 1000
    for i, rows in enumerate([[(1, base_text), (3, other)], [(2, near)]]):
        f = src / f"b{i}.parquet"
        pq.write_table(pa.Table.from_pylist(
            [{"doc_id": d, "text": t} for d, t in rows], schema=schema), f)
        import os as _os
        _os.utime(f, (t0 + i * 10, t0 + i * 10))

    stream = file_replay_source(
        spark, str(src),
        StructType([StructField("doc_id", LongType()),
                    StructField("text", StringType())]),
        max_files_per_trigger=1,
    )
    out = streaming_near_dedup(stream, k=8, bands=4, n=3)
    got: list = []
    q = (
        out.writeStream.foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "near_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 120)

    pairs = {(r["doc_id"], r["anchor_id"]) for r in got}
    assert (2, 1) in pairs            # near-dup found its anchor cross-batch
    assert all(p[0] != 3 and p[1] != 3 for p in pairs)  # unrelated doc clean


def test_streaming_band_signatures_match_batch(spark):
    """The row-local streaming signature (minhash_bands_project) must use
    the SAME hash family as the batch explode+groupBy path — regression for
    the two-parameter transform-lambda bug where the hash-family index was
    shadowed by the array-index Column and str(Column) reprs were hashed."""
    from omldm_spark.operators.dedup import minhash_signatures
    from omldm_spark.streaming.stateful import minhash_bands_project

    k, bands, n = 8, 4, 3
    r = k // bands
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs again"),
         (3, "too short")],
        "doc_id long, text string",
    )
    stream_bands = minhash_bands_project(
        docs, k=k, bands=bands, n=n).collect()
    batch = {
        row["doc_id"]: row
        for row in minhash_signatures(docs, k=k, n=n).collect()
    }
    checked = 0
    for row in stream_bands:
        if row["doc_id"] not in batch:      # <n tokens: absent from batch
            continue
        sig = [batch[row["doc_id"]][f"h{i}"] for i in range(k)]
        expect = "|".join(sig[row["band"] * r:(row["band"] + 1) * r])
        import hashlib

        assert row["bval"] == hashlib.md5(expect.encode()).hexdigest()
        checked += 1
    assert checked == 2 * bands             # both long docs, every band


def test_streaming_near_dedup_state_survives_restart(spark, tmp_path):
    """Bucket anchors are checkpointed state: a doc arriving in a SECOND
    availableNow run (fresh query object, same checkpoint) must still pair
    with the anchor learned in the first run."""
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from omldm_spark.streaming.sources import file_replay_source
    from omldm_spark.streaming.stateful import streaming_near_dedup

    base = ("the quick brown fox jumps over the lazy dog and keeps on "
            "running far away")
    near = base + " tonight"
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    sschema = StructType([StructField("doc_id", LongType()),
                          StructField("text", StringType())])
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t0 = _time.time() - 1000

    def write(i, rows):
        f = src / f"b{i}.parquet"
        pq.write_table(pa.Table.from_pylist(
            [{"doc_id": d, "text": t} for d, t in rows], schema=schema), f)
        _os.utime(f, (t0 + i * 10, t0 + i * 10))

    def run_once():
        got = []
        q = (
            streaming_near_dedup(
                file_replay_source(spark, str(src), sschema), k=8, bands=4, n=3)
            .writeStream.foreachBatch(lambda df, bid: got.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 120)
        return got

    write(0, [(1, base)])
    first = run_once()
    assert first == []                       # anchor only, no pair yet

    write(1, [(2, near)])                    # arrives after a full restart
    second = run_once()
    pairs = {(r["doc_id"], r["anchor_id"]) for r in second}
    assert (2, 1) in pairs                   # anchor recovered from ckpt


def test_streaming_ddm_replay_equals_batch_summary(spark, tmp_path):
    """The incremental streaming DDM, replayed over THREE time-ranged
    micro-batches, lands on exactly the batch operator's summary — same
    float operation sequence, state carries (i, errs, minima, counters)
    across batches."""
    import os as _os
    import time as _time
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from omldm_spark.operators.drift import ddm_drift_summary
    from omldm_spark.streaming.sources import file_replay_source
    from omldm_spark.streaming.stateful import streaming_ddm

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(120):
        rows.append((1, t0 + timedelta(seconds=i), i,
                     (i % 10 == 9) if i < 80 else True))
        rows.append((2, t0 + timedelta(seconds=i), 1000 + i, i % 7 == 6))
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, err boolean"
    )

    batch = {r["user_id"]: r for r in ddm_drift_summary(
        ev, F.col("err"), min_instances=30).collect()}

    src = str(tmp_path / "src")
    _os.makedirs(src)
    # three time-ranged slices, path-ordered names + spaced mtimes so
    # FileStreamSource replays them in event order (NOTES_r2 recipe)
    base = _time.time() - 1000
    for b, (lo, hi) in enumerate([(0, 40), (40, 80), (80, 120)]):
        part = ev.filter(
            (F.col("event_id") % 1000 >= lo) & (F.col("event_id") % 1000 < hi)
        )
        p = f"{src}/b{b}.parquet"
        part.coalesce(1).write.mode("overwrite").parquet(p)
        for f in [f"{p}/{x}" for x in _os.listdir(p)]:
            _os.utime(f, (base + b * 10, base + b * 10))
        _os.utime(p, (base + b * 10, base + b * 10))

    stream = file_replay_source(spark, f"{src}/*", ev.schema,
                                max_files_per_trigger=1)
    out = streaming_ddm(stream)
    q = (
        out.writeStream.format("memory").queryName("ddm_updates")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 120)
    upd = spark.sql(
        "SELECT * FROM ddm_updates"
    ).toPandas()
    # last update per key == the batch replay summary
    for uid in (1, 2):
        last = upd[upd["user_id"] == uid].iloc[-1]
        b = batch[uid]
        assert int(last["n"]) == b["n"]
        assert int(last["n_warn"]) == b["n_warn"]
        assert int(last["n_drift"]) == b["n_drift"]
        lf = last["first_drift_i"]
        bf = b["first_drift_i"]
        assert (pd.isna(lf) and bf is None) or int(lf) == bf


def test_session_window_merges_across_batches(spark, tmp_path):
    """A session whose events arrive in DIFFERENT micro-batches merges
    through the session-window state; a far-future sentinel flushes the
    append-mode output (the same punctuation trick as the
    streaming_event_sessions contract query)."""
    import os as _os
    import time as _time
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from omldm_spark.streaming.sources import file_replay_source
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    def ts(s):
        return datetime.fromtimestamp(1704067200 + s, tz=timezone.utc) \
            .replace(tzinfo=None)

    schema = pa.schema([("user_id", pa.int64()), ("ts", pa.timestamp("us"))])
    sschema = StructType([StructField("user_id", LongType()),
                          StructField("ts", TimestampType())])
    src = tmp_path / "sess_src"
    src.mkdir()
    t0 = _time.time() - 1000
    batches = [
        [(1, ts(0)), (1, ts(100))],
        [(1, ts(200)), (1, ts(900))],          # 200 merges; 900 = new session
        [(9, ts(10_000_000))],                 # sentinel flush
    ]
    for i, rows in enumerate(batches):
        f = src / f"b{i}.parquet"
        pq.write_table(pa.Table.from_pylist(
            [{"user_id": u, "ts": t} for u, t in rows], schema=schema), f)
        _os.utime(f, (t0 + i * 10, t0 + i * 10))

    stream = file_replay_source(spark, str(src), sschema,
                                max_files_per_trigger=1)
    out = (
        stream.withWatermark("ts", "100 seconds")
        .groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
             F.min(F.unix_timestamp("ts")).cast("long").alias("start_s"))
        .select("user_id", "n_events", "start_s")
    )
    got: list = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 120)
    sess = sorted((r["start_s"], r["n_events"]) for r in got
                  if r["user_id"] == 1)
    assert sess == [(1704067200, 3), (1704068100, 1)]


def test_streaming_cdc_compaction_cadence_independent(spark, tmp_path):
    """The max_by last-writer aggregation behind streaming_cdc_apply:
    final compacted state is identical at 1-batch and 3-batch cadence,
    and a seq tie breaks on op desc ('upsert' beats 'delete') — same
    rule as the batch window (ORDER BY seq DESC, op DESC)."""
    rows = [
        ("a", "upsert", 1, 10), ("a", "delete", 3, 0), ("a", "upsert", 2, 20),
        ("b", "upsert", 1, 5),  ("b", "delete", 1, 0),   # tie: upsert wins
        ("c", "delete", 9, 0),  ("c", "upsert", 4, 40),
    ]
    schema = "k string, op string, seq bigint, val bigint"

    def run(n_files: int):
        src = tmp_path / f"cdc_src_{n_files}"
        per = (len(rows) + n_files - 1) // n_files
        for i in range(n_files):
            chunk = rows[i * per:(i + 1) * per]
            if chunk:
                spark.createDataFrame(chunk, schema).coalesce(1) \
                    .write.mode("append").parquet(str(src))
        stream = file_replay_source(spark, str(src), schema,
                                    max_files_per_trigger=1)
        agg = stream.groupBy("k").agg(
            F.max_by(F.struct("op", "val"), F.struct("seq", "op"))
            .alias("last")
        ).select("k", "last.op", "last.val")
        state: dict = {}
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(lambda df, _:
                          state.update({r["k"]: (r["op"], r["val"])
                                        for r in df.collect()}))
            .option("checkpointLocation", str(tmp_path / f"cdc_ck_{n_files}"))
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 120)
        return state

    expect = {"a": ("delete", 0), "b": ("upsert", 5), "c": ("delete", 0)}
    assert run(1) == expect
    assert run(3) == expect


def test_dropdup_within_watermark_re_emits_beyond_horizon(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the delay are
    suppressed (even across batches); once the watermark passes a key's
    state it is evicted, and a later duplicate RE-EMITS — the documented
    bounded-state trade-off vs the unbounded dropDuplicates used by
    streaming_distinct_keys."""
    import datetime as _dt
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    def ts(s):
        return _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc) \
            .replace(tzinfo=None) + _dt.timedelta(seconds=s)

    schema = pa.schema([("k", pa.string()), ("ts", pa.timestamp("us"))])
    src = tmp_path / "ddw_src"
    src.mkdir()
    t0 = _time.time() - 1000
    batches = [
        [("a", ts(0)), ("a", ts(30))],        # in-batch dup suppressed
        [("a", ts(60)), ("z", ts(7200))],     # cross-batch dup; z advances wm
        [("z", ts(7300))],                    # wm applied; 'a' state evicted
        [("a", ts(7400))],                    # beyond horizon -> re-emits
    ]
    for i, rows in enumerate(batches):
        f = src / f"b{i}.parquet"
        pq.write_table(pa.Table.from_pylist(
            [{"k": k, "ts": t} for k, t in rows], schema=schema), f)
        _os.utime(f, (t0 + i * 10, t0 + i * 10))

    from pyspark.sql.types import (StringType, StructField, StructType,
                                   TimestampType)

    sschema = StructType([StructField("k", StringType()),
                          StructField("ts", TimestampType())])
    stream = file_replay_source(spark, str(src), sschema,
                                max_files_per_trigger=1)
    out = stream.withWatermark("ts", "10 minutes") \
        .dropDuplicatesWithinWatermark(["k"])
    got: list = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda df, _: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ddw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 120)
    a_times = sorted(r["ts"] for r in got if r["k"] == "a")
    assert a_times == [ts(0), ts(7400)]       # dup at 30/60 suppressed


def test_idempotent_sink_exactly_once(spark, tmp_path):
    """Replayed foreachBatch calls (the at-least-once crash/retry path)
    must not duplicate sink rows; torn writes (data dir without commit
    record) are invisible to readers and healed by the replay."""
    from omldm_spark.streaming.sinks import IdempotentBatchSink

    sink = IdempotentBatchSink(str(tmp_path / "out"))
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b1 = spark.createDataFrame([(3, "c")], "id long, v string")

    sink(b0, 0)
    sink(b1, 1)
    sink(b0, 0)      # crash-replay of batch 0: must be a no-op
    sink(b1, 1)
    rows = sorted(map(tuple, spark.read.parquet(
        *sink.committed_dirs()).collect()))
    assert rows == [(1, "a"), (2, "b"), (3, "c")]

    # torn write: data lands for batch 2 but the commit record does not
    b2 = spark.createDataFrame([(9, "z")], "id long, v string")
    b2.write.mode("overwrite").parquet(str(tmp_path / "out" / "batch_id=2"))
    assert sink.committed_dirs() == [
        str(tmp_path / "out" / "batch_id=0"),
        str(tmp_path / "out" / "batch_id=1"),
    ]
    sink(b2, 2)      # replay commits it
    rows = sorted(map(tuple, spark.read.parquet(
        *sink.committed_dirs()).collect()))
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (9, "z")]


def test_idempotent_sink_under_real_stream(spark, tmp_path):
    """Drive the sink through an actual multi-batch availableNow run."""
    from omldm_spark.streaming.sinks import IdempotentBatchSink

    stream = _write_batches(spark, tmp_path)
    sink = IdempotentBatchSink(str(tmp_path / "sout"))
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "sck"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 120)
    got = sorted(r["rid"] for r in spark.read.parquet(
        *sink.committed_dirs()).collect())
    assert got == [1, 2, 3, 4, 5]
    # current_state is the same committed view as a single reader call
    got2 = sorted(r["rid"]
                  for r in sink.current_state(spark, ["rid"]).collect())
    assert got2 == got


def _upsert_rows(spark, sink):
    df = sink.current_state(spark, ["k", "total"])
    return sorted(map(tuple, df.collect())) if df is not None else []


def test_keyed_upsert_sink_merges_and_replays(spark, tmp_path):
    """KeyedUpsertSink: last write per key wins across batches, merges
    touch only the buckets a batch hits, committed-batch replay is a
    no-op, and an UNCOMMITTED torn write is healed by the replay."""
    from omldm_spark.streaming.sinks import KeyedUpsertSink

    sink = KeyedUpsertSink(str(tmp_path / "ups"), ["k"], n_buckets=4)
    b0 = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "k string, total long")
    b1 = spark.createDataFrame(
        [("a", 10), ("d", 4)], "k string, total long")

    sink(b0, 0)
    assert _upsert_rows(spark, sink) == [("a", 1), ("b", 2), ("c", 3)]
    sink(b1, 1)
    merged = [("a", 10), ("b", 2), ("c", 3), ("d", 4)]
    assert _upsert_rows(spark, sink) == merged

    # crash-replay of a COMMITTED batch: must not touch state
    sink(b0, 0)
    assert _upsert_rows(spark, sink) == merged

    # torn write: batch 2's state version lands but the commit does not
    b2 = spark.createDataFrame([("b", 20)], "k string, total long")
    import os
    import shutil

    sink(b2, 2)
    os.remove(sink._commit_file(2))           # simulate pre-commit crash
    assert _upsert_rows(spark, sink) == merged  # torn version invisible
    sink(b2, 2)                               # replay heals it
    assert _upsert_rows(spark, sink) == [
        ("a", 10), ("b", 20), ("c", 3), ("d", 4)]

    # vacuum drops superseded bucket versions but not the live state
    removed = sink.vacuum()
    assert removed >= 1
    assert _upsert_rows(spark, sink) == [
        ("a", 10), ("b", 20), ("c", 3), ("d", 4)]
    assert not os.path.isdir(os.path.join(str(tmp_path / "ups"), "_staged"))
    shutil.rmtree(str(tmp_path / "ups"))


def test_keyed_upsert_sink_collect_free(spark, tmp_path, monkeypatch):
    """The publish path must never move data rows to the driver: forbid
    DataFrame.collect / toPandas / toLocalIterator for the duration of a
    sink call (VERDICT r4 item 1 — the driver-dict stand-in is gone)."""
    from pyspark.sql import DataFrame as SparkDF

    from omldm_spark.streaming.sinks import KeyedUpsertSink

    def _forbidden(*_a, **_k):
        raise AssertionError("driver collect inside the upsert publish path")

    for name in ("collect", "toPandas", "toLocalIterator", "take", "head"):
        monkeypatch.setattr(SparkDF, name, _forbidden)

    sink = KeyedUpsertSink(str(tmp_path / "upsnc"), ["k"], n_buckets=4)
    b0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, total long")
    b1 = spark.createDataFrame([("a", 5)], "k string, total long")
    sink(b0, 0)
    sink(b1, 1)
    state = sink.current_state(spark, ["k", "total"])
    monkeypatch.undo()
    assert sorted(map(tuple, state.collect())) == [("a", 5), ("b", 2)]


def test_keyed_upsert_sink_under_real_stream(spark, tmp_path):
    """Multi-batch availableNow run through the distributed upsert sink:
    the compacted state equals the batch GROUP BY whatever the cadence."""
    from omldm_spark.streaming.sinks import KeyedUpsertSink

    stream = _write_batches(spark, tmp_path)
    agg = stream.groupBy("k").agg(F.sum("rid").cast("long").alias("total"))
    sink = KeyedUpsertSink(str(tmp_path / "upstr"), ["k"], n_buckets=4)
    q = (
        agg.writeStream.outputMode("update").foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "upsck"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 120)
    got = _upsert_rows(spark, sink)
    assert got == [("a", 7), ("b", 3), ("c", 5)]  # == batch GROUP BY


def test_keyed_upsert_sink_time_travel(spark, tmp_path):
    """VERSION AS OF over the copy-on-write bucket layout: the state as
    of each committed batch is reconstructible until vacuum discards the
    superseded versions."""
    from omldm_spark.streaming.sinks import KeyedUpsertSink

    sink = KeyedUpsertSink(str(tmp_path / "tt"), ["k"], n_buckets=4)
    sink(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long"), 0)
    sink(spark.createDataFrame([("a", 10)], "k string, v long"), 1)
    sink(spark.createDataFrame([("c", 3), ("b", 20)],
                               "k string, v long"), 2)

    def rows(df):
        return sorted(map(tuple, df.collect())) if df is not None else []

    assert rows(sink.state_as_of(spark, 0, ["k", "v"])) == [
        ("a", 1), ("b", 2)]
    assert rows(sink.state_as_of(spark, 1, ["k", "v"])) == [
        ("a", 10), ("b", 2)]
    assert rows(sink.state_as_of(spark, 2, ["k", "v"])) == [
        ("a", 10), ("b", 20), ("c", 3)]
    # current == as-of latest
    assert rows(sink.current_state(spark, ["k", "v"])) == rows(
        sink.state_as_of(spark, 2, ["k", "v"]))
    # vacuum keeps only the live versions; current still intact
    sink.vacuum()
    assert rows(sink.current_state(spark, ["k", "v"])) == [
        ("a", 10), ("b", 20), ("c", 3)]


def test_keyed_upsert_sink_on_uri_scheme_path(spark, tmp_path, monkeypatch):
    """VERDICT r5 item 3: the sink's METADATA path must speak the Hadoop
    FileSystem API, not the driver-local filesystem.  Two-sided proof:
    the whole flow runs against a ``file:`` SCHEME URI (``os.path``
    treats 'file:/x' as a relative path and would resolve to the wrong
    place), while every ``os`` filesystem call is monkeypatched to raise
    inside the sink+fsio modules — the non-local-path failure double."""
    import os as _os

    import omldm_spark.fsio as fsio_mod
    import omldm_spark.streaming.sinks as sinks_mod
    from omldm_spark.streaming.sinks import KeyedUpsertSink

    # neither module may even import os (the shim is the only FS door)
    assert not hasattr(sinks_mod, "os")
    assert not hasattr(fsio_mod, "os")

    def _forbidden(*_a, **_k):
        raise AssertionError("driver-local os.* inside the sink path")

    # exactly the os surface the r5 implementation used — broader patches
    # (os.stat) break pytest/py4j internals unrelated to the sink
    for name in ("listdir", "makedirs", "remove", "rmdir"):
        monkeypatch.setattr(_os, name, _forbidden)
    for name in ("exists", "isdir", "isfile"):
        monkeypatch.setattr(_os.path, name, _forbidden)

    uri = "file:" + str(tmp_path / "uri_ups")
    sink = KeyedUpsertSink(uri, ["k"], n_buckets=4)
    sink(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long"), 0)
    sink(spark.createDataFrame([("a", 10), ("c", 3)],
                               "k string, v long"), 1)
    sink(spark.createDataFrame([("a", 10), ("c", 3)],
                               "k string, v long"), 1)  # replay: no-op
    assert sink.is_committed(0) and sink.is_committed(1)
    assert not sink.is_committed(7)
    state = sorted(map(tuple,
                       sink.current_state(spark, ["k", "v"]).collect()))
    asof0 = sorted(map(tuple,
                       sink.state_as_of(spark, 0, ["k", "v"]).collect()))
    removed = sink.vacuum()
    monkeypatch.undo()
    assert state == [("a", 10), ("b", 2), ("c", 3)]
    assert asof0 == [("a", 1), ("b", 2)]
    assert removed >= 1
    # post-vacuum: current state intact through the compacted checkpoint
    assert sorted(map(tuple,
                      sink.current_state(spark, ["k", "v"]).collect())) == [
        ("a", 10), ("b", 2), ("c", 3)]


def test_keyed_upsert_sink_log_compaction(spark, tmp_path):
    """The commit log folds into a bucket→latest checkpoint every
    ``checkpoint_every`` commits, so per-batch log replay is O(1) over an
    unbounded stream (VERDICT r5 item 3's O(batches) scan is gone);
    vacuum prunes the covered per-batch records and bounds time travel
    at the checkpoint, Delta-style."""
    from omldm_spark.streaming.sinks import KeyedUpsertSink

    sink = KeyedUpsertSink(str(tmp_path / "ck"), ["k"], n_buckets=4,
                           checkpoint_every=2)
    for i in range(5):
        sink(spark.createDataFrame([("a", i), (f"k{i}", i)],
                                   "k string, v long"), i)
    ckpts, commits = sink._log_names()
    assert ckpts, "no checkpoint written after checkpoint_every commits"
    # trailing per-batch records beyond the newest checkpoint stay O(1)
    assert sum(1 for c in commits if c > ckpts[-1]) < 2 * 2
    # replay of a checkpoint-covered batch is detected without its record
    assert sink.is_committed(ckpts[-1])
    state = sorted(map(tuple,
                       sink.current_state(spark, ["k", "v"]).collect()))
    assert state == [("a", 4), ("k0", 0), ("k1", 1), ("k2", 2),
                     ("k3", 3), ("k4", 4)]

    sink.vacuum()
    ckpts2, commits2 = sink._log_names()
    assert ckpts2 == [4] and commits2 == []      # log fully compacted
    assert sink.is_committed(3)                  # via the checkpoint floor
    assert sorted(map(tuple,
                      sink.current_state(spark, ["k", "v"]).collect())) == \
        state
    import pytest as _pytest

    with _pytest.raises(ValueError, match="horizon"):
        sink.state_as_of(spark, 1, ["k", "v"])


def test_keyed_upsert_sink_torn_commit_record_invisible(spark, tmp_path):
    """fsio.write_text publishes atomically (full bytes to ``.tmp``,
    then rename).  A crash BETWEEN those steps leaves only the .tmp —
    which the log scanner must ignore entirely: the batch reads as
    uncommitted, its state version is invisible, and the replay heals
    it.  This is the commit-record half of the exactly-once argument
    (the data-version half is test_keyed_upsert_sink_merges_and_replays)."""
    from omldm_spark.streaming.sinks import KeyedUpsertSink

    sink = KeyedUpsertSink(str(tmp_path / "torn"), ["k"], n_buckets=4)
    b0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    sink(b0, 0)

    # simulate the torn publish: record survives only as partial .tmp
    fs = sink._fs()
    fs.delete(sink._commit_file(0), False)
    with open(str(tmp_path / "torn" / "_commits" / "0.json.tmp"),
              "w") as fh:
        fh.write('{"buck')                     # truncated JSON

    assert not sink.is_committed(0)
    assert sink.current_state(spark, ["k", "v"]) is None  # torn invisible
    ckpts, commits = sink._log_names()
    assert commits == [] and ckpts == []       # .tmp never parsed as log

    sink(b0, 0)                                # replay heals
    assert sink.is_committed(0)
    assert sorted(map(tuple,
                      sink.current_state(spark, ["k", "v"]).collect())) == [
        ("a", 1), ("b", 2)]


class _FlakyFS:
    """HadoopFS double injecting metadata-write failures: the Nth
    write_text whose path matches `fail_when` leaves a COMPLETE .tmp at
    the destination name (crash in the window between tmp write and
    rename) and raises — everything else delegates to the real shim."""

    def __init__(self, real, fail_when, max_failures=1):
        self._real = real
        self._fail_when = fail_when
        self._max = max_failures
        self.failures = 0

    def write_text(self, path, text):
        if self.failures < self._max and self._fail_when(path):
            self.failures += 1
            # the real write_text is tmp+rename; aiming it at the .tmp
            # name leaves exactly the crash artifact: full bytes, never
            # renamed into place
            self._real.write_text(path + ".tmp", text)
            raise IOError(f"injected rename crash: {path}")
        return self._real.write_text(path, text)

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_keyed_upsert_sink_commit_rename_crash_exactly_once(
        spark, tmp_path):
    """NOTES_r6 candidate 5: crash INSIDE the commit publish (tmp fully
    written, rename never happens).  The batch must read as uncommitted,
    its state version must stay invisible, and the replay must converge
    to the same state as a crash-free run — with the stale .tmp artifact
    swept by the replay's own publish."""
    from omldm_spark.streaming.sinks import KeyedUpsertSink

    b0 = [("a", 1), ("b", 2), ("c", 3)]
    b1 = [("a", 10), ("d", 4)]

    # crash-free reference
    ref = KeyedUpsertSink(str(tmp_path / "ref"), ["k"], n_buckets=4)
    for i, rows in enumerate([b0, b1]):
        ref(spark.createDataFrame(rows, "k string, total long"), i)
    want = _upsert_rows(spark, ref)

    sink = KeyedUpsertSink(str(tmp_path / "crash"), ["k"], n_buckets=4)
    sink(spark.createDataFrame(b0, "k string, total long"), 0)
    flaky = _FlakyFS(sink._fs(spark),
                     lambda p: p.endswith("_commits/1.json"))
    sink._fs_handle = flaky
    import pytest as _pytest
    with _pytest.raises(IOError, match="injected"):
        sink(spark.createDataFrame(b1, "k string, total long"), 1)
    assert flaky.failures == 1
    # crash artifact exists; batch reads uncommitted; state unchanged
    assert flaky.exists(sink._commit_file(1) + ".tmp")
    assert not sink.is_committed(1)
    assert _upsert_rows(spark, sink) == [("a", 1), ("b", 2), ("c", 3)]

    # replay heals: same driver retry path as a stream restart
    sink(spark.createDataFrame(b1, "k string, total long"), 1)
    assert sink.is_committed(1)
    assert _upsert_rows(spark, sink) == want
    # the stale .tmp was overwritten and renamed away by the replay
    assert not flaky.exists(sink._commit_file(1) + ".tmp")


def test_keyed_upsert_sink_ckpt_write_crash_is_recoverable(
        spark, tmp_path):
    """Checkpoint publish is an OPTIMIZATION: a crash while folding the
    log into _ckpt.N.json happens AFTER the batch's commit record, so
    the batch stays committed (replay = no-op) and the NEXT commit
    re-attempts the fold — the log can never wedge the stream."""
    from omldm_spark.streaming.sinks import KeyedUpsertSink

    sink = KeyedUpsertSink(str(tmp_path / "ckptcrash"), ["k"],
                           n_buckets=4, checkpoint_every=2)
    flaky = _FlakyFS(sink._fs(spark), lambda p: "_ckpt." in p)
    sink._fs_handle = flaky

    sink(spark.createDataFrame([("a", 1)], "k string, total long"), 0)
    import pytest as _pytest
    with _pytest.raises(IOError, match="injected"):
        # trailing commits reach checkpoint_every -> fold attempt crashes
        sink(spark.createDataFrame([("b", 2)], "k string, total long"), 1)
    assert sink.is_committed(1)          # commit preceded the fold
    assert _upsert_rows(spark, sink) == [("a", 1), ("b", 2)]
    # replay of the committed batch is a clean no-op (no new fold try)
    sink(spark.createDataFrame([("b", 2)], "k string, total long"), 1)

    # next batch: fold retried and succeeds (injector exhausted)
    sink(spark.createDataFrame([("c", 3)], "k string, total long"), 2)
    ckpts, _ = sink._log_names()
    assert ckpts == [2]
    assert _upsert_rows(spark, sink) == [("a", 1), ("b", 2), ("c", 3)]
    # the fold is complete: the checkpointed map IS the latest map
    assert sink._read_ckpt(2) == sink._latest()


def test_statefold_on_uri_scheme_path(spark, tmp_path, monkeypatch):
    """VERDICT r10 item 1: the statefold version listing must speak the
    Hadoop FileSystem API, not driver-local ``os.*`` — on an
    ``hdfs://``/``s3a://`` checkpoint URI ``os.path.isdir`` silently
    returns False and every streaming IVM twin would restart from empty
    state.  Double-sided proof, mirroring the r5 sink discipline: a
    full foreachBatch additive fold runs against a ``file:`` SCHEME
    state dir (``os.path`` would mis-resolve 'file:/x') while the os
    surface the old implementation used is monkeypatched to raise."""
    import os as _os

    import omldm_spark.streaming.statefold as statefold_mod
    from omldm_spark.streaming.sources import file_replay_source
    from omldm_spark.streaming.statefold import read_latest_state

    assert not hasattr(statefold_mod, "os")  # fsio is the only FS door

    def _forbidden(*_a, **_k):
        raise AssertionError("driver-local os.* inside the statefold path")

    for name in ("listdir", "makedirs", "remove", "rmdir"):
        monkeypatch.setattr(_os, name, _forbidden)
    for name in ("exists", "isdir", "isfile"):
        monkeypatch.setattr(_os.path, name, _forbidden)

    src = str(tmp_path / "src")
    spark.createDataFrame([(1,), (2,)], "v long").coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame([(3,), (4,)], "v long").coalesce(1) \
        .write.mode("append").parquet(src)
    stream = file_replay_source(spark, src, "v long",
                                max_files_per_trigger=1)
    state_dir = "file:" + str(tmp_path / "state")

    def fold(new, bid):
        prev = read_latest_state(spark, state_dir, below=bid)
        cnt = new.agg(F.sum("v").cast("long").alias("s"),
                      F.count("*").alias("n"))
        if prev is not None:
            cnt = prev.unionByName(cnt).agg(
                F.sum("s").cast("long").alias("s"),
                F.sum("n").cast("long").alias("n"))
        cnt.write.mode("overwrite").parquet(f"{state_dir}/v{bid}")

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 300)

    state = read_latest_state(spark, state_dir)
    assert state is not None
    assert sorted(map(tuple, state.collect())) == [(10, 4)]
    # the retry discipline still honors below= on a URI path
    pre = read_latest_state(spark, state_dir, below=1)
    assert sorted(map(tuple, pre.collect())) == [(3, 2)]
    # missing dir -> None (not an os error)
    assert read_latest_state(
        spark, "file:" + str(tmp_path / "nope")) is None


def test_prune_versions_keeps_retry_window(spark, tmp_path):
    """Vacuuming the versioned fold state must keep the newest
    ``keep`` snapshots (a retried latest batch still finds its
    pre-batch state via below=), work on file: scheme URIs, and
    refuse keep < 2."""
    import pytest

    from omldm_spark.streaming.statefold import (prune_versions,
                                                 publish_state,
                                                 read_latest_state)

    state_dir = "file:" + str(tmp_path / "st")
    for bid in range(5):
        publish_state(
            spark.createDataFrame([(bid,)], "s long"),
            spark, state_dir, bid, keep=3)
    # keep=3: only v2, v3, v4 remain
    from omldm_spark.fsio import HadoopFS
    fs = HadoopFS.for_path(state_dir, spark)
    assert fs.listdir(state_dir) == ["v2", "v3", "v4"]
    # the retry window: latest batch (4) re-reads its pre-batch state
    pre = read_latest_state(spark, state_dir, below=4)
    assert [tuple(r) for r in pre.collect()] == [(3,)]
    assert read_latest_state(spark, state_dir).collect()[0][0] == 4
    with pytest.raises(ValueError, match="keep >= 2"):
        prune_versions(spark, state_dir, keep=1)
    # pruning a missing dir is a no-op
    assert prune_versions(spark, "file:" + str(tmp_path / "none")) == 0


def test_twin_query_runs_end_to_end_on_file_scheme_uris(spark):
    """The whole twin surface rides scheme-qualified URIs (review r12 —
    the r11 statefold portability lesson generalized): _twin_tmp hands
    every twin an EXPLICIT file:-scheme scratch base, so the source
    write, the replay readStream, the checkpoint, the keyed-upsert
    state versions, and the publish join all exercise the URI path on
    every run.  This test pins it THROUGH a twin QUERY: the full
    streaming_cdc_apply runs on the file: scratch and hash-matches its
    batch oracle on DuckDB — and the scratch helper itself must never
    regress to an implicit local path."""
    import duckdb

    from omldm_spark import queries as q
    from omldm_spark.schemas import TABLES

    assert q._twin_tmp("omldm_uritest_").startswith("file:/")

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r) for r in q.QUERIES["streaming_cdc_apply"](
            spark, sf_dir).collect())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = sorted(tuple(r) for r in con.execute(
        q.ORACLES["streaming_cdc_apply"]).fetchall())
    assert got == want and len(got) > 0


def test_statefold_restart_recovers_from_torn_publish(spark, tmp_path):
    """Crash-recovery of a twin's versioned statefold (review r12): the
    exactly-once claim was tested for sinks but never for a statefold
    whose PUBLISH tore — data write started, checkpoint commit never
    landed.  Simulated exactly: after a 3-batch run, the last batch's
    checkpoint commit record is deleted and its v{bid} snapshot is
    replaced with a torn wrong version (no _SUCCESS, wrong rows); three
    more source files arrive and the stream RESTARTS from the same
    checkpoint.  Structured Streaming replays the uncommitted batch
    with its recorded offsets; the fold's ``below=bid`` read takes the
    pre-batch snapshot, so the replay OVERWRITES the torn version with
    the correct one and the stream continues — the final state must
    equal the batch aggregate over all six files, and the replayed
    version itself must be the correct fold, not the planted garbage."""
    import pathlib

    from pyspark.sql import functions as F

    from omldm_spark.streaming.statefold import (publish_state,
                                                 read_latest_state)

    base = "file:" + str(tmp_path)
    src, state_dir, ckpt = base + "/src", base + "/state", base + "/ckpt"
    vals = [1, 10, 100, 1000, 10000, 100000]

    def add_file(i):
        spark.createDataFrame(
            [(i % 2, vals[i])], "k long, x long"
        ).coalesce(1).write.mode("append").parquet(src)

    def fold(new, bid):
        prev = read_latest_state(spark, state_dir, below=bid)
        cur = new.groupBy("k").agg(F.sum("x").cast("long").alias("s"))
        if prev is not None:
            cur = (prev.unionByName(cur).groupBy("k")
                   .agg(F.sum("s").cast("long").alias("s")))
        publish_state(cur, spark, state_dir, bid, keep=10)

    def run():
        q = (spark.readStream.schema("k long, x long")
             .option("maxFilesPerTrigger", 1).parquet(src)
             .writeStream.foreachBatch(fold)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        await_bounded(q, 120)

    for i in range(3):
        add_file(i)
    run()
    commits = tmp_path / "ckpt" / "commits"
    done = sorted(int(p.name) for p in commits.iterdir()
                  if p.name.isdigit())
    assert done == [0, 1, 2]
    last = done[-1]
    # tear the publish: checkpoint commit record gone, snapshot dir
    # holds a wrong partial version (no _SUCCESS marker)
    (commits / str(last)).unlink()
    crc = commits / f".{last}.crc"
    if crc.exists():
        crc.unlink()  # Hadoop local-FS checksum shadow of the commit
    vdir = tmp_path / "state" / f"v{last}"
    for p in vdir.iterdir():
        p.unlink()
    (vdir / "part-garbage.parquet").write_bytes(b"")
    spark.createDataFrame([(99, -1)], "k long, s long").coalesce(1) \
        .write.mode("overwrite").parquet(str(vdir))
    torn = {r["k"]: r["s"]
            for r in spark.read.parquet(str(vdir)).collect()}
    assert torn == {99: -1}
    for i in range(3, 6):
        add_file(i)
    run()
    final = {r["k"]: r["s"]
             for r in read_latest_state(spark, state_dir).collect()}
    assert final == {0: vals[0] + vals[2] + vals[4],
                     1: vals[1] + vals[3] + vals[5]}
    # the replayed batch overwrote the torn version with the true fold
    # of its recorded offsets (batches 0..2 = one file each, some
    # ordering of the first three files): the planted garbage is gone
    # and v2's per-key sums are a sub-sum of the first three values
    v2 = {r["k"]: r["s"]
          for r in spark.read.parquet(str(vdir)).collect()}
    assert 99 not in v2 and sum(v2.values()) == sum(vals[:3])
    done2 = sorted(int(p.name) for p in pathlib.Path(commits).iterdir()
                   if p.name.isdigit())
    assert done2 == [0, 1, 2, 3, 4, 5]
