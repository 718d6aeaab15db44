"""Arbitrary stateful streaming operators (keyed state store + pandas).

The keyed operators run on ``applyInPandasWithState`` (GroupState API),
except exact dedup, which is Spark's native streaming ``dropDuplicates``.
Spark 4.x also offers ``transformWithStateInPandas`` (value/list/map
state, timers), but its Python driver worker imports ``google.protobuf``;
the GroupState API gives these operators the same keyed-state semantics
without that dependency.

Operators:

* ``streaming_dedup``         cross-batch dedup: the first record per key
                              passes; every later duplicate (same batch or
                              later) is dropped. Exact: native
                              ``dropDuplicates``, state one key entry per
                              distinct key, JVM-side, kept forever. With a
                              TTL: GroupState, one expiry per key, removed
                              once the watermark passes it. Checkpointed.
* ``streaming_near_dedup``    cross-batch MinHash-LSH near-duplicate
                              candidates: staged row-local band signatures
                              (``minhash_bands_project``), then one long of
                              state per (band, bval) bucket, its anchor doc.
* ``streaming_ddm``           incremental DDM drift detection; state =
                              seven scalars per key with the SAME float
                              sequence as operators/drift.ddm_drift_summary,
                              so replay == batch bit-for-bit.

Each shuffles once on the key; state lives with the partition and
rescale/restore come from Structured Streaming checkpointing — the
properties the reference hand-built with CheckpointedFunction
(FlinkSpoke.scala:233-334).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_dedup(
    stream: DataFrame, key_col: str, ttl_ms: int | None = None,
    event_time_col: str = "event_time",
) -> DataFrame:
    """Cross-batch dedup on ``key_col`` (e.g. md5(text)); the output has
    the schema of ``stream``.

    Without ``ttl_ms`` the dedup is exact and runs JVM-side as Spark's
    streaming ``dropDuplicates``: one state entry per distinct key, kept
    forever. It drops rows behind an event-time watermark when ``stream``
    carries one, so give it a stream without a watermark when late rows
    must still pass.

    With ``ttl_ms`` (requires an event-time watermark upstream on
    ``event_time_col``) each key's seen-marker expires ``ttl_ms`` past the
    key's event time when first seen (the latest among its rows in that
    batch, and at least the watermark) and is then REMOVED from the state
    store — bounding state to keys seen within the TTL horizon instead of
    all keys ever. That is the 100 TB shape: unbounded-retention dedup state grows
    with total distinct keys; watermark-TTL'd state grows with the dedup
    window only. A duplicate arriving once the watermark has passed the
    expiry passes again (standard watermark-bounded dedup semantics — same
    contract as Spark's own dropDuplicatesWithinWatermark, whose horizon is
    the watermark delay rather than a TTL of its own); re-sent duplicates
    do not extend it."""
    if ttl_ms is None:
        return stream.dropDuplicates([key_col])
    from pyspark.sql import functions as F

    ms_col = "_dedup_event_ms"

    def dedup_ttl(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        wm = state.getCurrentWatermarkMs()
        # the timeout fires only for keys without data in a batch, so a key
        # re-sent in the batch where it expires still holds its state
        if state.exists and state.get[0] > wm:
            expires, first = state.get[0], None
        else:
            first, event_ms = None, wm
            for pdf in pdfs:
                if len(pdf):
                    event_ms = max(event_ms, int(pdf[ms_col].max()))
                    if first is None:
                        first = pdf.head(1).drop(columns=ms_col)
            expires = event_ms + ttl_ms
        state.update((expires,))
        state.setTimeoutTimestamp(expires)
        if first is not None:
            yield first

    return (
        stream.withColumn(ms_col, F.unix_millis(F.col(event_time_col)))
        .groupBy(key_col)
        .applyInPandasWithState(
            dedup_ttl,
            outputStructType=stream.schema,
            stateStructType="expires long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def minhash_bands_project(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 8,
                          bands: int = 4, n: int = 3) -> DataFrame:
    """(doc_id, band, bval) LSH band signatures, row-local (no shuffle,
    no stateful aggregation), via STAGED projections.

    Signature h_i = min md5(i || '|' || shingle), the hash family of the
    batch operator (operators/dedup.minhash_signatures); a doc with no
    shingles gets sentinel-only bands that collide only with other empty
    docs.  A single-expression form would re-evaluate the tokenizer +
    shingle construction inside EVERY hash lambda (CollapseProject
    inlines the shared subexpression into all k ``transform``s; measured
    13 ms/doc — 67 s for 5k docs at sf0.1).  Here tokens, shingles, and
    the per-shingle k-hash array each materialize in their OWN
    projection — a nondeterministic pin column blocks CollapseProject,
    the same guard the batch path uses (operators/dedup.shingles) — so
    the regex split runs ONCE per row and the md5s once per
    (shingle, hash): the necessary work and nothing else.  Projections
    are stream-safe; the pin never reaches the output schema."""
    from pyspark.sql import functions as F

    from ..operators.dedup import shingle_array, tokens_col

    r = k // bands
    toks = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens_col(text_col).alias("_toks"),
        F.rand(25).alias("_p"),
    ).drop("_p")
    sh = toks.select(
        "doc_id", shingle_array("_toks", n).alias("_sh"),
        F.rand(26).alias("_p"),
    ).drop("_p")
    hashed = sh.select(
        "doc_id",
        F.transform(
            "_sh",
            lambda s: F.array(*[
                F.md5(F.concat(F.lit(f"{i}|"), s)) for i in range(k)
            ]),
        ).alias("_h"),
        F.rand(27).alias("_p"),
    ).drop("_p")
    def _pick(i: int):
        # NB: a (lambda a, i=i: ...) default arg would be shadowed by
        # F.transform's (element, index) two-parameter convention — the
        # array-index Column replaces i and str(Column) reprs get hashed;
        # bind i via a factory.
        return lambda a: F.element_at(a, i + 1)

    sigs = hashed.select(
        "doc_id",
        *[
            F.coalesce(
                F.array_min(F.transform("_h", _pick(i))),
                F.lit("~empty"),
            ).alias(f"_s{i}")
            for i in range(k)
        ],
        F.rand(28).alias("_p"),
    ).drop("_p")
    bb = F.array(*[
        F.struct(
            F.lit(b).cast("int").alias("band"),
            F.md5(F.concat_ws(
                "|", *[F.col(f"_s{j}") for j in range(b * r, (b + 1) * r)]
            )).alias("bval"),
        )
        for b in range(bands)
    ])
    return sigs.select("doc_id", F.explode(bb).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"),
        F.col("bb.bval").alias("bval"))


def _near_dedup_fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """State per (band, bval): the anchor doc id (first doc ever seen in
    this bucket). Every later doc in the bucket emits a candidate pair
    (doc_id, anchor_id). Batch-internal determinism: the anchor of a fresh
    bucket is the MIN doc id in the batch."""
    frames = [p for p in pdfs if len(p)]
    if not frames:
        return
    allr = pd.concat(frames, ignore_index=True)
    if state.exists:
        anchor = int(state.get[0])
    else:
        anchor = int(allr["doc_id"].min())
        state.update((anchor,))
    out = allr[allr["doc_id"] != anchor]
    if len(out):
        yield pd.DataFrame({
            "doc_id": out["doc_id"].astype("int64"),
            "anchor_id": anchor,
            "band": out["band"].astype("int32"),
        })


def streaming_near_dedup(stream: DataFrame, k: int = 8, bands: int = 4,
                         n: int = 3, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Cross-batch NEAR-duplicate detection: MinHash-LSH with the band
    buckets as keyed streaming state — the streaming analogue of
    operators/dedup.lsh_candidate_pairs.

    Plan: row-local signature projection (zero shuffle) -> explode to
    (band, bval) -> ONE keyed shuffle into ``applyInPandasWithState`` where
    each bucket remembers its anchor doc. A doc colliding with an anchor in
    ANY band emits a candidate pair; downstream exact verification (cosine
    / jaccard re-rank) is the same second stage the batch pipeline uses.
    State: one long per non-empty bucket — O(distinct buckets),
    checkpointed, TTL-able by the timeout pattern of streaming_dedup's TTL
    path.

    Output: (doc_id, anchor_id, band) candidate rows (distinct-pair
    reduction is a downstream stateless aggregation per micro-batch).
    """
    from pyspark.sql import functions as F

    sigs = minhash_bands_project(stream, text_col=text_col, id_col=id_col,
                                 k=k, bands=bands, n=n)
    return sigs.groupBy("band", "bval").applyInPandasWithState(
        _near_dedup_fn,
        outputStructType="doc_id long, anchor_id long, band int",
        stateStructType="anchor long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming DDM drift detection (the incremental twin of
# operators/drift.ddm_drift_summary — SAME float operation sequence, so a
# full replay reproduces the batch summary bit-for-bit)
# ---------------------------------------------------------------------------

def _ddm_fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState,
            min_instances: int = 30):
    import math

    if state.exists:
        i, errs, pmin, smin, n_warn, n_drift, first_drift = state.get
    else:
        i, errs, pmin, smin, n_warn, n_drift, first_drift = (
            0, 0, None, None, 0, 0, None,
        )
    for pdf in pdfs:
        if not len(pdf):
            continue
        pdf = pdf.sort_values(["ts", "event_id"])
        for err in pdf["err"].astype(bool):
            i += 1
            errs += int(err)
            # identical operation tree to the batch operator: one division
            # for p, sqrt(p*(1-p)/i), minima including the current row,
            # STRICT comparisons, warm-up guard
            p = errs / i
            s = math.sqrt(p * (1.0 - p) / i)
            if i >= min_instances:
                pmin = p if pmin is None else min(pmin, p)
                smin = s if smin is None else min(smin, s)
            if pmin is not None:
                ps = p + s
                if ps > pmin + 2 * smin:
                    n_warn += 1
                if ps > pmin + 3 * smin:
                    n_drift += 1
                    if first_drift is None:
                        first_drift = i
    state.update((i, errs, pmin, smin, n_warn, n_drift, first_drift))
    yield pd.DataFrame({
        "user_id": [key[0]], "n": [i], "n_warn": [n_warn],
        "n_drift": [n_drift], "first_drift_i": [first_drift],
    })


def streaming_ddm(stream: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key DDM over a stream with columns (key, ts, event_id, err).
    One keyed shuffle; state is seven scalars per key, checkpointed;
    every micro-batch emits the key's updated summary (update mode).
    Cross-batch order contract: within a batch rows are sorted by
    (ts, event_id); across batches the source must deliver a key's rows
    in event order (file replay with time-ranged, mtime-ordered files, or
    a Kafka partition per key) — same contract the reference's
    record-at-a-time operators assume on their keyed Flink channels."""
    return stream.groupBy(key_col).applyInPandasWithState(
        _ddm_fn,
        outputStructType=(
            "user_id bigint, n bigint, n_warn bigint, n_drift bigint, "
            "first_drift_i bigint"
        ),
        stateStructType=(
            "i bigint, errs bigint, pmin double, smin double, "
            "n_warn bigint, n_drift bigint, first_drift bigint"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
