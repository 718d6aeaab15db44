"""Streaming training loop: FlinkSpoke + FlinkHub collapsed into micro-batch
BSP (SURVEY.md §3.1 consequence, §7 step 4).

Reference hot path: worker partial-fit -> RPC to hub -> hub merge -> Kafka
feedback topic -> worker applies update. The Kafka hop exists only because
Flink forbids cyclic dataflow (Job.scala:77-87,136-142). In micro-batch BSP
one batch IS one protocol round, for every live pipeline at once:

    batch -> ONE keyed partial_fit pass per worker count (over the worker
             keys pmod(id, parts), Arrow) training every pipeline on that
             many workers, whatever its protocol and preprocessor chain,
             each on its own features column of the one frame
          -> per-pipeline merge of its partial states (the hub, one tiny
             reduce) and protocol round
          -> model broadcast into the next batch via the catalog

The reference's worker operator likewise updates every live pipeline on
each record (FlinkSpoke.scala:101); see ``train_batch`` for which pipelines
share a pass. Each Spark job and each PySpark Python task has a fixed cost
far above a small micro-batch's work, so the handler collects the batch
once, bounded at one Arrow batch
(``spark.sql.execution.arrow.maxRecordsPerBatch`` rows). A batch that fits,
with well-formed features, runs its whole round on the driver over that
collect: requests, the chains' fits and transforms, the keyed training
kernel and forecast scoring, then one one-task predictions write. Any
other batch runs the round as Spark jobs over the batch, the keyed
``applyInArrow`` pass in the session's shuffle partitions among them. The
catalog, the predictions and the responses do not depend on the placement.

Protocol semantics under BSP (SURVEY.md §2.9): Synchronous is native;
Asynchronous/SSP/EASGD are emulated at sync cadence with their statistics
kept comparable (models/bytes shipped per round); GM/FGM skip the merge
when no partition's local drift exceeds the threshold — the communication
pattern, and therefore the statistics, survive even though BSP removes the
asynchrony. Differences are documented, not hidden.

Prediction semantics: forecasting points in batch N are scored after the
batch's round, with the model that round produced (the post-update model,
the one a Query in the same batch reports), in one pass per preprocessor
chain (``predict_batch``): a Catalyst projection over a Spark round's
batch, numpy over a driver round's collect. The reference scores a point on
arrival with its worker's current local model (FlinkNetwork.scala:244-257);
the post-round model is kept, so a row's prediction does not depend on
where in the batch it arrived.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.preprocess import apply_chain
from ..functions.vector import fits
from ..learners import get_learner, trainer
from ..learners.protocols import protocol_round
from ..learners.trainer import Task
from ..plans.catalog import PipelineCatalog, arrow_rows

# Protocols that keep per-worker model state between syncs (SURVEY.md §2.9).
PER_WORKER_PROTOCOLS = {"SSP", "GM", "FGM", "EASGD"}


def _ser(state: dict) -> dict:
    return {k: (v.tolist() if isinstance(v, np.ndarray) else v)
            for k, v in state.items()}


def _deser(d: dict) -> dict:
    return {k: (np.asarray(v) if isinstance(v, list) else v)
            for k, v in d.items()}


@dataclass
class BatchStats:
    """One pipeline's share of one BSP round. ``wall_ms`` is the wall time
    of the whole round — every pipeline trains in the same fused passes, so
    it is the same for all pipelines of a batch, not a per-pipeline cost."""

    batch_id: int
    pipeline: int
    protocol: str
    fitted: int
    models_shipped: int
    bytes_shipped: int
    loss_sum: float
    wall_ms: float


def _state_bytes(state: dict) -> int:
    total = 0
    for v in state.values():
        if isinstance(v, np.ndarray):
            total += v.size * 8
        else:
            total += 8
    return total


def _flat_param_len(state: dict) -> int:
    """Length of the shipped parameter surface: the solved/averaged model
    (``w``) when present, else every float array in the state."""
    if "w" in state:
        return int(np.asarray(state["w"]).size)
    return sum(
        int(np.asarray(v).size) for v in state.values()
        if isinstance(v, np.ndarray)
    )


def _hub_chunk_sizes(n_params: int, hubs: int) -> list[int]:
    """Contiguous even split of the parameter vector across hub replicas —
    the reference shards the PS per pipeline across HubParallelism replicas
    keyed networkId_nodeId (FlinkLearning.scala:91-95, FlinkHub.scala:
    176-179); chunking transport per functions/chunking.py."""
    base, rem = divmod(n_params, hubs)
    return [base + (1 if h < rem else 0) for h in range(hubs)]


def _account_hub_shards(spec, state: dict, shipped: int) -> None:
    """Per-hub-replica shipping statistics when hub_parallelism > 1: each
    model-ship event sends chunk h to hub replica h, so replica h sees
    ``shipped`` messages of chunk_sizes[h] doubles. Cross-hub aggregation
    (the reference AVERAGES job statistics across hubs,
    StateAccumulators.scala:54-126) is done by the stats queries; the
    global models/bytes counters keep whole-logical-model semantics."""
    hubs = max(1, int(spec.hub_parallelism or 1))
    if hubs <= 1 or shipped <= 0:
        return
    sizes = _hub_chunk_sizes(_flat_param_len(state), hubs)
    hs = spec.hub_stats or {}
    for h, size in enumerate(sizes):
        cur = hs.get(str(h)) or {"models_shipped": 0, "bytes_shipped": 0}
        cur["models_shipped"] += shipped
        cur["bytes_shipped"] += shipped * size * 8
        hs[str(h)] = cur
    spec.hub_stats = hs


class _Member(NamedTuple):
    """A live pipeline in one round: the workers it trains on, the
    features column (and its width) it reads, and its chain's new state."""

    spec: object
    learner: object
    parts: int
    features_col: str
    dim: int
    pp_state: list | None


def _per_worker(m: _Member) -> bool:
    """Does a keyed pipeline keep per-worker models between syncs? The
    per-worker protocols do when they train on more than one worker, for
    flat-state learners; blob (HT) learners never do."""
    return (
        m.parts > 1
        and m.spec.protocol in PER_WORKER_PROTOCOLS
        and not getattr(m.learner, "uses_blob", False)
    )


def train_batch(
    batch: DataFrame | pa.Table,
    catalog: PipelineCatalog,
    *,
    features_col: str = "features",
    label_col: str = "label",
    id_col: str = "id",
    dim: int = 3,
    num_partitions: int = 8,
    batch_id: int = 0,
    skip_replayed: bool = False,
) -> list[BatchStats]:
    """One BSP round for every live pipeline over one micro-batch.

    Every live pipeline trains on every record (the reference's one worker
    operator updates them all, FlinkSpoke.scala:101), and all of them read
    one frame: each pipeline with a preprocessor chain adds its own
    transformed features column to the batch (``apply_chain``, which folds
    each scaler's moments), and each model trains on its own column. The
    round runs at most two kinds of work:

    * ONE ``trainer.fit_groups`` pass per worker count trains every
      pipeline on that many workers, chained or not, keyed by
      ``pmod(id, workers)`` and sorted by id within each worker, rows
      with equal ids by a hash of their features and label. A row with a
      NULL id is keyed by that hash and trains after the id-ordered rows
      of its worker, so a topic without ids still spreads over every
      worker. A pipeline trains on ``num_partitions`` workers, or on one
      for SingleLearner/CentralizedTraining (the reference forwards all
      their points to one central learner). Per-worker protocols
      (SSP/GM/FGM/EASGD) on more than one worker start each worker from
      its own model; every other pipeline (Synchronous, Asynchronous, blob
      learners under any protocol, and every single-worker pipeline)
      starts every worker from the broadcast global model, and the driver
      merges that round's partials with ``trainer.merge_round``, the merge
      ``trainer.fit`` uses. The key is a pure function of the row, so the
      models do not depend on how the batch arrives partitioned; a
      single-worker pipeline trains the batch in id order, which is its
      arrival order when the batch arrives sorted by id;
    * closed-form learners (ORR) keep their Catalyst aggregate
      (``trainer.fit``).

    ``batch`` is a DataFrame, or a pyarrow Table already on the driver
    (the handler's collected micro-batch, with its ``_tie`` column and
    every ``features`` row holding ``dim`` non-null doubles). Over a Table
    the chains run in numpy and the keyed passes on the driver, and ORR
    aggregates a frame built from the Table's rows; the models and
    statistics are the DataFrame form's, bit for bit.

    The driver splits each pass's state rows by pipeline and runs the
    merge, protocol round and statistics per pipeline. A pass that fits no
    row means the batch is empty, and the catalog is left as it was.
    ``BatchStats.wall_ms`` is the wall time of the whole round (all passes
    and driver merges), the same for every pipeline of the batch.

    ``skip_replayed=True`` (the streaming handler sets it) makes the round
    idempotent under foreachBatch replay: a pipeline whose persisted
    ``last_batch_id`` already covers ``batch_id`` is skipped, so a batch
    redelivered after a crash-restart trains each row exactly once —
    catalog.save() after the round is the transaction commit (crash BEFORE
    the save replays cleanly from the previous state; crash after skips).
    """
    t0 = time.time()
    driver = isinstance(batch, pa.Table)
    live = catalog.live()
    if skip_replayed:
        live = [s for s in live
                if int(getattr(s, "last_batch_id", -1) or -1) < int(batch_id)]
    if not live or (driver and not batch.num_rows):
        return []
    frame = batch
    # worker count -> the pipelines trained on that many workers
    groups: dict[int, list[_Member]] = {}
    closed = []
    for spec in live:
        learner = get_learner(spec.learner)
        # Preprocessor chain (PipelineMap.scala:25-29): fit stats are
        # running integer moments in the spec (exact across batches), the
        # transform is column math on the batch.
        fcol, eff_dim, pp_state = features_col, dim, None
        if spec.preprocessors:
            fcol = f"_pp{spec.id}"
            frame, eff_dim, pp_state = apply_chain(
                frame, spec.preprocessors, features_col, dim,
                spec.preproc_state, out_col=fcol,
            )
        # SingleLearner (HT/K-means) trains on one worker — the reference
        # forwards all points to a single central learner
        # (FlinkSpoke.scala:203-211).
        parts = 1 if spec.protocol in ("SingleLearner", "CentralizedTraining") \
            else num_partitions
        member = _Member(spec, learner, parts, fcol, eff_dim, pp_state)
        if getattr(learner, "closed_form", False):
            closed.append(member)
        else:
            groups.setdefault(parts, []).append(member)

    # spec.id -> (state, models shipped, worker states, preprocessor state)
    rounds: dict[int, tuple] = {}
    for parts, members in groups.items():
        # the batch is keyed to stable worker ids: per-worker protocols
        # start each worker from its own model, so state follows the
        # worker; every other pipeline starts every worker from the
        # broadcast global model, with zeroed counts so the pass hands back
        # this round's partials for the merge
        globals_, starts = [], []
        for m in members:
            g_state = (_deser(m.spec.model) if m.spec.model is not None
                       else m.learner.init_state(m.dim, dict(m.spec.hyper)))
            globals_.append(g_state)
            if _per_worker(m):
                starts.append({
                    int(k): _deser(v)
                    for k, v in (m.spec.worker_models or {}).items()
                } or {w: dict(g_state) for w in range(parts)})
            else:
                starts.append({w: {**g_state, "n": 0, "cum_loss": 0.0}
                               for w in range(parts)})
        # one worker is one key; rows are ordered by id, then by a hash of
        # what they train on, which also keys and orders a row with no id
        if driver:
            key = pc.coalesce(frame.column(id_col).cast(pa.int64()),
                              frame.column("_tie")).to_numpy() % parts
            keyed = frame.append_column("_wk", pa.array(key.astype(np.int32)))
        else:
            tie = F.xxhash64(features_col, label_col)
            key = F.pmod(F.coalesce(F.col(id_col), tie), F.lit(parts))
            keyed = frame.withColumns({"_wk": key.cast("int"), "_tie": tie})
        fitted = trainer.fit_groups(
            keyed,
            [Task(m.spec.learner, m.dim, dict(m.spec.hyper), st,
                  m.features_col) for m, st in zip(members, starts)],
            key_col="_wk", label_col=label_col, order_cols=[id_col, "_tie"],
        )
        if not any(fitted):
            return []  # no row fitted: the batch is empty
        for m, g_state, st, new in zip(members, globals_, starts, fitted):
            if _per_worker(m):
                hyper = dict(m.spec.hyper)
                state, workers, shipped = protocol_round(
                    m.spec.protocol, m.learner,
                    m.learner.init_state(m.dim, hyper), g_state,
                    {**st, **new}, m.spec.rounds, hyper,
                )
            else:
                state = trainer.merge_round(
                    m.learner, g_state, [new[k] for k in sorted(new)])
                workers, shipped = None, m.parts
            rounds[m.spec.id] = (state, shipped, workers, m.pp_state)
    if closed:
        if driver:
            # the Table's rows as one ordered partition, with the batch
            # partition each came from, so ORR adds its SSE in Spark's order
            frame = SparkSession.active().createDataFrame(frame.select([
                label_col, "_part",
                *dict.fromkeys(m.features_col for m in closed),
            ])).coalesce(1)
        states = [
            m.learner.fit_dataframe(
                frame, m.dim, dict(m.spec.hyper), features_col=m.features_col,
                label_col=label_col, part_col="_part" if driver else None,
                init_state=(_deser(m.spec.model) if m.spec.model is not None
                            else None))
            for m in closed]
        if not rounds and all(int(st["n"]) == m.spec.fitted
                              for st, m in zip(states, closed)):
            return []  # no row fitted: the batch is empty
        for m, state in zip(closed, states):
            rounds[m.spec.id] = (state, m.parts, None, m.pp_state)

    stats: list[BatchStats] = []
    wall_ms = (time.time() - t0) * 1000
    for spec in live:
        state, shipped, workers, pp_state = rounds[spec.id]
        if workers is not None:
            spec.worker_models = {str(k): _ser(v) for k, v in workers.items()}
        if spec.preprocessors:
            spec.preproc_state = pp_state
        spec.model = _ser(state)
        spec.rounds += 1
        round_fitted = int(state["n"]) - spec.fitted
        spec.fitted = int(state["n"])
        spec.cum_loss = float(state["cum_loss"])
        spec.models_shipped += shipped
        spec.bytes_shipped += shipped * _state_bytes(state)
        _account_hub_shards(spec, state, shipped)
        spec.learning_curve.append((spec.fitted, spec.cum_loss))
        spec.last_batch_id = int(batch_id)
        stats.append(
            BatchStats(
                batch_id=batch_id,
                pipeline=spec.id,
                protocol=spec.protocol,
                fitted=round_fitted,
                models_shipped=shipped,
                bytes_shipped=shipped * _state_bytes(state),
                loss_sum=float(state["cum_loss"]),
                wall_ms=wall_ms,
            )
        )
    catalog.save()
    return stats


def _chain_groups(specs: list) -> list[list]:
    """The linear pipelines among ``specs`` (each once), grouped by the
    transformed frame they read: all chainless pipelines form one group,
    and pipelines whose features go through the same fitted chain (same
    preprocessors, same fitted state) another."""
    groups: dict[str, dict[int, object]] = {}
    for spec in specs:
        if not spec.model or "w" not in spec.model:
            continue
        key = (repr((spec.preprocessors, spec.preproc_state))
               if spec.preprocessors else "")
        groups.setdefault(key, {})[spec.id] = spec
    return [list(g.values()) for g in groups.values()]


def _chain_frame(df: DataFrame, spec, features_col: str, dim: int):
    """(frame, features column) a pipeline's model reads: ``df`` itself, or
    ``df`` through the pipeline's fitted chain, transform only (the
    reference scores through the same fitted chain, FlinkSpoke.scala:121)."""
    if not spec.preprocessors:
        return df, features_col
    out, _, _ = apply_chain(
        df, spec.preprocessors, features_col, dim, spec.preproc_state,
        update=False,
    )
    return out, "_pp_features"


def predict_batch(
    batch: DataFrame | pa.Table,
    catalog: PipelineCatalog,
    *,
    features_col: str = "features",
    id_col: str = "id",
    dim: int = 3,
) -> DataFrame | pa.Table | None:
    """Score a forecasting batch with every pipeline's CURRENT model.
    Output: pipelineId, recordId, prediction (PREDICTION_SCHEMA shape);
    None when no linear model is live.

    Each record is scored once against every pipeline that reads the same
    frame (the reference's one worker operator, FlinkSpoke.scala:101): one
    projection builds a (pipelineId, prediction) struct per pipeline and
    explodes their array, so the batch is read once per chain group, not
    once per pipeline. Over a DataFrame the scoring is Catalyst expressions
    (no Python). Over a pyarrow Table (the handler's collected micro-batch,
    every ``features`` row holding ``dim`` non-null doubles) it runs in
    numpy on the driver and returns a Table with the DataFrame's rows,
    bits and nullability, or None for an empty batch."""
    from ..functions.vector import (linear_predict_np, linear_predict_sql,
                                    matrix, sql_col)

    driver = isinstance(batch, pa.Table)
    if driver and not batch.num_rows:
        return None
    outs, regress = [], False
    for members in _chain_groups(catalog.live()):
        src, fcol = _chain_frame(batch, members[0], features_col, dim)
        if driver:
            X = matrix(src.column(fcol), len(members[0].model["w"]) - 1)
            cols = []
            for spec in members:
                w = list(map(float, spec.model["w"]))
                raw = linear_predict_np(X, w[:-1], w[-1])
                if get_learner(spec.learner).is_classifier:
                    # Spark orders NaN above every double: NaN >= 0 holds
                    raw = np.where((raw >= 0) | np.isnan(raw), 1.0, -1.0)
                else:
                    regress = True
                cols.append(raw)
            # each record's predictions in pipeline order, as explode
            # lays them out
            outs.append((
                np.tile([int(spec.id) for spec in members], len(X)),
                pc.take(src.column(id_col).cast(pa.int64()),
                        np.repeat(np.arange(len(X)), len(members))),
                np.stack(cols, axis=1).ravel(),
            ))
            continue
        preds = []
        for spec in members:
            w = list(map(float, spec.model["w"]))
            raw = linear_predict_sql(fcol, w[:-1], w[-1])
            pred = (
                f"CASE WHEN {raw} >= 0 THEN 1.0D ELSE -1.0D END"
                if get_learner(spec.learner).is_classifier
                else raw
            )
            preds.append(f"named_struct('pipelineId', {int(spec.id)}L, "
                         f"'prediction', {pred})")
        outs.append(
            src.selectExpr(
                f"CAST({sql_col(id_col)} AS BIGINT) AS recordId",
                f"explode(array({', '.join(preds)})) AS _p",
            ).selectExpr(
                "_p.pipelineId AS pipelineId", "recordId",
                "_p.prediction AS prediction",
            )
        )
    if not outs:
        return None
    if driver:
        pid, rid, pred = zip(*outs)
        return pa.table(
            [pa.array(np.concatenate(pid), pa.int64()),
             pa.chunked_array([c for r in rid for c in r.chunks], pa.int64()),
             pa.array(np.concatenate(pred), pa.float64())],
            schema=pa.schema([
                pa.field("pipelineId", pa.int64(), nullable=False),
                pa.field("recordId", pa.int64()),
                # a classifier's CASE is never NULL; a regressor's sum is
                # nullable in Spark's schema
                pa.field("prediction", pa.float64(), nullable=regress),
            ]),
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


# Admission buffer for data arriving before any pipeline exists — the
# reference buffers up to 100k records per worker until a Create lands
# (SpokeLogic.scala:32-35, drained at FlinkSpoke.scala:80).
RECORD_BUFFER_MAX = 100_000


def make_batch_handler(
    spark,
    catalog: PipelineCatalog,
    *,
    features_col: str = "features",
    label_col: str = "label",
    id_col: str = "id",
    dim: int = 3,
    num_partitions: int = 8,
    stats_sink: list | None = None,
    predictions_path: str | None = None,
    responses_sink: list | None = None,
    holdout_df: DataFrame | None = None,
):
    """The foreachBatch body, factored out so batch-mode tests can drive it
    directly. Keeps the pre-Create record buffer across invocations.

    Unified control plane (J1, the reference's data×control connect): when
    the batch carries a ``kind`` column, rows with kind='request' are the
    control stream — they are applied to the catalog FIRST (arrival order),
    then kind='data' rows train/score. Query responses drain into
    ``responses_sink`` at the end of each batch, scored on ``holdout_df``
    when given (FlinkSpoke query-on-testSet).

    Placement: the handler collects the micro-batch once, bounded at one
    Arrow batch (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows; a
    Python task costs a fixed start-up far above a micro-batch's work).
    When the whole batch fits, and every data row's ``features`` holds
    ``dim`` non-null doubles, the round runs on the driver over that
    collect: requests, chain fits and transforms, training and forecast
    scoring, with no Spark job but the collect, the predictions write and
    the Query scoring on ``holdout_df``. The reference's worker likewise
    does all of a record's work on arrival (FlinkSpoke.scala:101,244-257).
    Any other batch runs the same round as Spark jobs over the batch: the
    large ones, and those with a NULL, short or long features array, whose
    outcome the Spark round defines (a chain's ANSI ``element_at`` raises
    on a short array; ``zip_with`` scores it as NULL). The catalog, the
    predictions and the responses do not depend on the placement. A batch
    right after one that held more than the cap skips the collect and runs
    the Spark round: on a stream of large batches the collect is a job
    more, one task that runs the stateful dedup serially. The last batch's
    size is the collect's row count, or the count the Spark round's
    request collect observes on a unified stream (without a ``kind``
    column, a batch after a skipped collect collects again). That request
    collect also counts the training and forecasting rows: a Spark round
    whose training rows fit the cap collects them and trains on the
    driver, and one with no forecasting row writes no predictions.

    Prediction output: ``predictions_path`` appends each batch's scored
    forecasting rows to a parquet sink WITHOUT collecting the Spark round's
    rows (the reference streams predictions to a Kafka topic,
    Job.scala:98-105; swap in streaming/sources.kafka_sink when a broker
    exists); a driver round writes its scored rows as one file. Tests read
    that parquet back."""
    record_buffer: list[pa.Table] = []
    over_cap = False  # did the last batch hold more than the cap?

    def handle(batch_df: DataFrame, batch_id: int):
        # Read the micro-batch once: the collect, and a Spark round's
        # request collect, training passes and predictions write, all read
        # this copy instead of re-running the source scan and the stateful
        # dedup per action. The collect may stop at its bound; the Spark
        # round then reads every row, so the dedup sees each one.
        batch_df = batch_df.persist()
        try:
            _handle(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    def _handle(batch_df: DataFrame, batch_id: int):
        nonlocal over_cap
        cap = max(0, int(spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "10000")))
        # after a batch over the cap, expect another: a collect that cannot
        # fit is a job more, which runs the stateful dedup in one task
        table = None if over_cap else collect_batch(
            batch_df, cap, features_col, label_col)
        over_cap = table is not None and table.num_rows > cap
        # the data rows, as a DataFrame and, when the batch fits, a Table
        frame, data = batch_df, None if table is None or over_cap else table
        # a Spark round's training and forecasting row counts where known:
        # the request collect observes them (with the batch's row count,
        # no job of its own), or the collect holds the batch
        counts: dict = {}
        if "kind" in batch_df.columns:
            req_cols = [c for c in ("id", "request", "requestId", "learner",
                                    "preProcessors", "trainingConfiguration")
                        if c in batch_df.columns]
            if data is None:
                seen = Observation()
                catalog.apply_requests_df(batch_df.observe(
                    seen, F.count(F.lit(1)).alias("rows"), *[
                        F.count_if((F.col("kind") == "data")
                                   & (F.col("operation") == op)).alias(op)
                        for op in ("training", "forecasting")],
                ).filter(F.col("kind") == "request").select(*req_cols))
                counts = dict(seen.get)
                over_cap = counts.pop("rows") > cap
            else:
                catalog.apply_requests(arrow_rows(data.filter(
                    pc.equal(data["kind"], "request")).select(req_cols)))
                data = data.filter(pc.equal(data["kind"], "data"))
            frame = batch_df.filter(F.col("kind") == "data")
        if not catalog.live():
            # No pipeline yet: buffer BOTH training and forecasting rows
            # (bounded; the reference buffers data instances per worker,
            # SpokeLogic.scala:32-35). NOTE: this buffer is driver memory,
            # NOT covered by the streaming checkpoint — rows buffered here
            # are lost on a crash before the first Create, exactly like the
            # reference's un-checkpointed pre-Create cache.
            room = RECORD_BUFFER_MAX - sum(t.num_rows for t in record_buffer)
            if room > 0:
                record_buffer.append(
                    collect_batch(frame, room - 1, features_col, label_col)
                    if data is None else data.slice(0, room))
            return
        # the buffered rows lead the round as one partition of their own in
        # either placement (ORR adds its SSE per partition)
        buffered = None
        if record_buffer:
            buffered = pa.concat_tables(record_buffer)
            record_buffer.clear()
            buffered = buffered.set_column(
                buffered.schema.get_field_index("_part"),
                buffered.schema.field("_part"),
                pa.array(np.full(buffered.num_rows, -1, np.int32)))
            if data is not None:
                data = pa.concat_tables([buffered, data])
            counts = {op: n + _count(buffered, op) for op, n in counts.items()}
        if data is not None and not (
                data.num_rows <= cap and fits(data.column(features_col), dim)):
            counts, data = {"forecasting": _count(data, "forecasting")}, None
        if data is not None:
            op = data.column("operation")
            training = data.filter(pc.equal(op, "training"))
            forecasting = data.filter(pc.equal(op, "forecasting"))
        else:
            if buffered is not None:
                # from rows, not the Table: PySpark slices a Table by
                # maxRecordsPerBatch, and fails when that is 0 (no limit)
                frame = spark.createDataFrame(arrow_rows(
                    buffered.drop_columns(["_part", "_tie"])), frame.schema
                ).coalesce(1).unionByName(frame)
            training = frame.filter(F.col("operation") == "training")
            forecasting = frame.filter(F.col("operation") == "forecasting")
            if counts.get("training", cap + 1) <= cap:
                # the training rows of a batch over the cap may fit: they
                # train on the driver, as a driver round's do
                rows = collect_batch(training, cap, features_col, label_col)
                if fits(rows.column(features_col), dim):
                    training = rows
        st = train_batch(
            training,
            catalog,
            features_col=features_col,
            label_col=label_col,
            id_col=id_col,
            dim=dim,
            num_partitions=num_partitions,
            batch_id=batch_id,
            skip_replayed=True,
        )
        if stats_sink is not None:
            stats_sink.extend(st)
        preds = None if counts.get("forecasting") == 0 else predict_batch(
            forecasting, catalog, features_col=features_col, id_col=id_col,
            dim=dim,
        )
        if preds is not None and predictions_path is not None:
            if isinstance(preds, pa.Table):
                preds = spark.createDataFrame(preds).coalesce(1)
            preds.write.mode("append").parquet(predictions_path)
        if responses_sink is not None and catalog.responses:
            responses_sink.extend(
                build_query_responses(
                    catalog, holdout_df,
                    features_col=features_col, label_col=label_col, dim=dim,
                )
            )

    return handle


def collect_batch(batch_df: DataFrame, cap: int, features_col: str,
                  label_col: str) -> pa.Table:
    """The micro-batch's first ``cap + 1`` rows in partition order, in one
    task, as Arrow, with two more columns: ``_part``, the batch partition
    a row came from, and ``_tie``, the hash of its features and label that
    orders rows with equal ids in the keyed pass. More than ``cap`` rows
    means the batch does not fit the driver round."""
    return batch_df.select(
        "*", F.spark_partition_id().alias("_part"),
        F.xxhash64(features_col, label_col).alias("_tie"),
    ).coalesce(1).limit(cap + 1).toArrow()


def _count(table: pa.Table, operation: str) -> int:
    """The number of ``table``'s rows with that ``operation``."""
    return table.filter(pc.equal(table["operation"], operation)).num_rows


def build_query_responses(
    catalog: PipelineCatalog,
    test_points: DataFrame | None = None,
    *,
    features_col: str = "features",
    label_col: str = "label",
    dim: int = 3,
) -> list[dict]:
    """Drain pending Query requests into full QueryResponse records
    (entry point C, SURVEY.md §3.3; field surface per
    FlinkNetwork.scala:193-231 / QUERY_RESPONSE_SCHEMA):
    responseId, mlpId, protocol, dataFitted, loss, cumulativeLoss, score,
    parameters (the model arrays, chunkable via functions/chunking.py).

    ``score`` is the model's performance on ``test_points`` (the holdout
    split — the reference's query-on-testSet path, FlinkSpoke.scala:160-163):
    accuracy for classifiers, negative MSE for regressors, evaluated
    JVM-side via trainer.evaluate_linear. Without a holdout the score is NaN
    (the loss fields still report prequential training loss)."""
    pending, catalog.responses = catalog.responses, []
    specs = [catalog.pipelines.get(int(req["pipelineId"])) for req in pending]
    scores = _holdout_scores(
        [s for s in specs if s is not None], test_points,
        features_col=features_col, label_col=label_col, dim=dim,
    )
    out = []
    for req, spec in zip(pending, specs):
        if spec is None:
            continue
        params = {}
        if spec.model:
            for k, v in spec.model.items():
                if isinstance(v, list):
                    flat = np.asarray(v, dtype=float).ravel().tolist()
                    params[k] = [float(x) for x in flat]
        curve = spec.learning_curve
        last_loss = float(curve[-1][1]) if curve else float("nan")
        out.append(
            {
                "responseId": req.get("responseId"),
                "mlpId": f"{spec.learner}-{spec.id}",
                "protocol": spec.protocol,
                "dataFitted": int(spec.fitted),
                "loss": (last_loss / spec.fitted) if spec.fitted else float("nan"),
                "cumulativeLoss": last_loss,
                "score": scores.get(spec.id, float("nan")),
                "parameters": params,
            }
        )
    return out


def _holdout_scores(
    specs: list,
    test_points: DataFrame | None,
    *,
    features_col: str,
    label_col: str,
    dim: int,
) -> dict[int, float]:
    """Holdout score of every queried linear pipeline, {pipeline id: score}.
    Pipelines whose features go through the same fitted chain (all the
    chainless ones, in particular) are scored in ONE aggregate over that
    transformed holdout."""
    if test_points is None:
        return {}
    scores: dict[int, float] = {}
    for members in _chain_groups(specs):
        src, fcol = _chain_frame(test_points, members[0], features_col, dim)
        evs = trainer.evaluate_linear(
            src, [Task(s.learner, state=_deser(s.model)) for s in members],
            features_col=fcol, label_col=label_col,
        )
        for spec, ev in zip(members, evs):
            scores[spec.id] = float(ev["score"])
    return scores
