"""Streaming training loop: FlinkSpoke + FlinkHub collapsed into micro-batch
BSP (SURVEY.md §3.1 consequence, §7 step 4).

Reference hot path: worker partial-fit -> RPC to hub -> hub merge -> Kafka
feedback topic -> worker applies update. The Kafka hop exists only because
Flink forbids cyclic dataflow (Job.scala:77-87,136-142). In micro-batch BSP
one batch IS one protocol round, for every live pipeline at once:

    batch -> ONE partial_fit pass per worker layout, training every live
             pipeline that reads the batch that way (mapInPandas over the
             partitions / applyInPandas over the worker keys, Arrow)
          -> per-pipeline merge of its partial states (the hub, one tiny
             reduce) and protocol round
          -> model broadcast into the next batch via the catalog

The reference's worker operator likewise updates every live pipeline on
each record (FlinkSpoke.scala:101); see ``train_batch`` for which pipelines
share a pass.

Protocol semantics under BSP (SURVEY.md §2.9): Synchronous is native;
Asynchronous/SSP/EASGD are emulated at sync cadence with their statistics
kept comparable (models/bytes shipped per round); GM/FGM skip the merge
when no partition's local drift exceeds the threshold — the communication
pattern, and therefore the statistics, survive even though BSP removes the
asynchrony. Differences are documented, not hidden.

Prediction semantics: forecasting points in batch N are scored with the
model of batch N-1 (the pre-update model), matching the reference's
read-then-train ordering.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.preprocess import apply_chain
from ..learners import get_learner, trainer
from ..learners.protocols import protocol_round
from ..learners.trainer import Task
from ..plans.catalog import PipelineCatalog

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


def train_batch(
    batch_df: DataFrame,
    catalog: PipelineCatalog,
    *,
    features_col: str = "features",
    label_col: str = "label",
    id_col: str = "id",
    dim: int = 3,
    num_partitions: int = 8,
    partition_col: str | None = None,
    order_cols: list[str] | None = None,
    batch_id: int = 0,
    skip_replayed: bool = False,
) -> list[BatchStats]:
    """One BSP round for every live pipeline over one micro-batch.

    Every live pipeline trains on every record (the reference's one worker
    operator updates them all, FlinkSpoke.scala:101), and pipelines that
    read the batch the same way share one Spark pass:

    * chainless pipelines with the same worker layout train together — one
      ``trainer.fit`` pass for the global-state ones (``num_partitions``
      partitions, or one for SingleLearner/CentralizedTraining), one
      ``trainer.fit_groups`` pass over the worker keys for the per-worker
      protocols (SSP/GM/FGM/EASGD);
    * closed-form learners (ORR) keep their Catalyst aggregate;
    * a pipeline with a preprocessor chain trains on its own pass over its
      transformed frame, so its rows land exactly as when it trains alone.

    The driver splits each pass's state rows by pipeline and runs the
    merge, protocol round and statistics per pipeline. Pipelines with no
    chain go first: a pass that fits no row means the batch is empty, and
    then nothing else runs and the catalog is left as it was.
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
    live = catalog.live()
    if skip_replayed:
        live = [s for s in live
                if int(getattr(s, "last_batch_id", -1) or -1) < int(batch_id)]
    passes: dict[tuple, list] = {}
    for spec in live:
        learner = get_learner(spec.learner)
        # SingleLearner (HT/K-means) trains on one partition — the
        # reference forwards all points to a single central learner
        # (FlinkSpoke.scala:203-211).
        parts = 1 if spec.protocol in ("SingleLearner", "CentralizedTraining") \
            else num_partitions
        per_worker = (
            spec.protocol in PER_WORKER_PROTOCOLS
            and parts > 1
            and not getattr(learner, "uses_blob", False)
            and not getattr(learner, "closed_form", False)
        )
        chain = spec.id if spec.preprocessors else None
        passes.setdefault((chain, parts, per_worker), []).append(spec)

    # spec.id -> (state, models shipped, worker states, preprocessor state)
    rounds: dict[int, tuple] = {}
    for (chain, parts, per_worker), members in sorted(
        passes.items(), key=lambda kv: kv[0][0] is not None
    ):
        # Preprocessor chain (PipelineMap.scala:25-29): fit stats are
        # running integer moments in the spec (exact across batches), the
        # transform is pure Catalyst column math on the batch.
        train_df, eff_dim, fcol, pp_state = batch_df, dim, features_col, None
        if chain is not None:
            train_df, eff_dim, pp_state = apply_chain(
                batch_df, members[0].preprocessors, features_col, dim,
                members[0].preproc_state,
            )
            fcol = "_pp_features"
        learners = [get_learner(s.learner) for s in members]
        inits = [_deser(s.model) if s.model is not None else None
                 for s in members]
        if per_worker:
            # workers keep their own models between syncs; the batch is
            # keyed to stable worker ids so state follows the worker
            starts, prev = [], []
            for spec, learner, init in zip(members, learners, inits):
                g_state = init or learner.init_state(eff_dim, dict(spec.hyper))
                starts.append(g_state)
                prev.append({
                    int(k): _deser(v)
                    for k, v in (spec.worker_models or {}).items()
                } or {w: dict(g_state) for w in range(parts)})
            dfw = train_df.withColumn(
                "_wk", F.pmod(F.col(id_col), F.lit(parts)).cast("int")
            )
            fitted = trainer.fit_groups(
                dfw,
                [Task(s.learner, eff_dim, dict(s.hyper), p)
                 for s, p in zip(members, prev)],
                key_col="_wk", features_col=fcol, label_col=label_col,
                order_cols=[id_col],
            )
            if not any(fitted):
                return []  # no row fitted: the batch is empty
            for spec, learner, g_state, p, new in zip(
                members, learners, starts, prev, fitted
            ):
                hyper = dict(spec.hyper)
                state, workers, shipped = protocol_round(
                    spec.protocol, learner, learner.init_state(eff_dim, hyper),
                    g_state, {**p, **new}, spec.rounds, hyper,
                )
                rounds[spec.id] = (state, shipped, workers, pp_state)
        else:
            states = trainer.fit(
                train_df,
                [Task(s.learner, eff_dim, dict(s.hyper), init)
                 for s, init in zip(members, inits)],
                features_col=fcol,
                label_col=label_col,
                num_partitions=parts,
                partition_col=partition_col if parts > 1 else None,
                order_cols=order_cols,
            )
            if all(int(st["n"]) == s.fitted for st, s in zip(states, members)):
                return []  # no row fitted: the batch is empty
            for spec, state in zip(members, states):
                rounds[spec.id] = (state, parts, None, pp_state)

    if not rounds:
        return []
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


def predict_batch(
    batch_df: DataFrame,
    catalog: PipelineCatalog,
    *,
    features_col: str = "features",
    id_col: str = "id",
    dim: int = 3,
) -> DataFrame | None:
    """Score a forecasting batch with every pipeline's CURRENT model —
    entirely in Catalyst expressions for linear models (no Python).
    Output: pipelineId, recordId, prediction (PREDICTION_SCHEMA shape)."""
    from ..functions.vector import linear_predict

    outs = []
    for spec in catalog.live():
        if not spec.model or "w" not in (spec.model or {}):
            continue
        w = list(map(float, spec.model["w"]))
        src, fcol = batch_df, features_col
        if spec.preprocessors:
            # transform-only pass with the stats fitted so far (reference
            # scores through the same fitted chain, FlinkSpoke.scala:121)
            src, _, _ = apply_chain(
                batch_df, spec.preprocessors, features_col,
                dim, spec.preproc_state, update=False,
            )
            fcol = "_pp_features"
        raw = linear_predict(fcol, w[:-1], w[-1])
        learner = get_learner(spec.learner)
        pred = (
            F.when(raw >= 0, 1.0).otherwise(-1.0)
            if learner.is_classifier
            else raw
        )
        outs.append(
            src.select(
                F.lit(spec.id).cast("long").alias("pipelineId"),
                F.col(id_col).cast("long").alias("recordId"),
                pred.alias("prediction"),
            )
        )
    if not outs:
        return None
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
    predictions_sink: list | None = None,
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

    Prediction output: ``predictions_path`` appends each batch's scored
    forecasting rows to a parquet sink WITHOUT driver collection — the
    production path (the reference streams predictions to a Kafka topic,
    Job.scala:98-105; swap in streaming/sources.kafka_sink when a broker
    exists). ``predictions_sink`` (driver-side list) is the tests-only
    inspection path and must not carry production volume."""
    record_buffer: list = []

    def handle(batch_df: DataFrame, batch_id: int):
        # Read the micro-batch once: the request collect, the training
        # passes and the predictions write all read this copy instead of
        # re-running the source scan and the stateful dedup per action.
        batch_df = batch_df.persist()
        try:
            _handle(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    def _handle(batch_df: DataFrame, batch_id: int):
        if "kind" in batch_df.columns:
            req_cols = [c for c in ("id", "request", "requestId", "learner",
                                    "preProcessors", "trainingConfiguration")
                        if c in batch_df.columns]
            catalog.apply_requests_df(
                batch_df.filter(F.col("kind") == "request").select(*req_cols)
            )
            batch_df = batch_df.filter(F.col("kind") == "data")
        if not catalog.live():
            # No pipeline yet: buffer BOTH training and forecasting rows
            # (bounded; the reference buffers data instances per worker,
            # SpokeLogic.scala:32-35). NOTE: this buffer is driver memory,
            # NOT covered by the streaming checkpoint — rows buffered here
            # are lost on a crash before the first Create, exactly like the
            # reference's un-checkpointed pre-Create cache.
            room = RECORD_BUFFER_MAX - len(record_buffer)
            if room > 0:
                record_buffer.extend(batch_df.limit(room).collect())
            return
        if record_buffer:
            buffered = spark.createDataFrame(record_buffer, batch_df.schema)
            batch_df = buffered.unionByName(batch_df)
            record_buffer.clear()
        training = batch_df.filter(F.col("operation") == "training")
        forecasting = batch_df.filter(F.col("operation") == "forecasting")
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
        preds = predict_batch(
            forecasting, catalog, features_col=features_col, id_col=id_col,
            dim=dim,
        )
        if preds is not None:
            if predictions_path is not None:
                preds.write.mode("append").parquet(predictions_path)
            if predictions_sink is not None:
                predictions_sink.extend(preds.collect())
        if responses_sink is not None and catalog.responses:
            responses_sink.extend(
                build_query_responses(
                    catalog, holdout_df,
                    features_col=features_col, label_col=label_col, dim=dim,
                )
            )

    return handle


def run_streaming(
    spark,
    stream_df: DataFrame,
    requests_df: DataFrame | None,
    catalog: PipelineCatalog,
    *,
    features_col: str = "features",
    label_col: str = "label",
    id_col: str = "id",
    dim: int = 3,
    num_partitions: int = 8,
    predictions_sink: list | None = None,
    stats_sink: list | None = None,
    predictions_path: str | None = None,
    responses_sink: list | None = None,
    holdout_df: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    timeout_sec: float = 120.0,
):
    """End-to-end Structured Streaming job: requests applied first (control
    plane), then per-batch train/predict split by ``operation``.

    Runs with availableNow (bounded replay -> the reference's multi-epoch
    file workload) and blocks until completion or ``timeout_sec`` (the
    reference's 30 s idle-timeout termination,
    StatisticsOperator.scala:135-142).
    """
    if requests_df is not None:
        catalog.apply_requests_df(requests_df)

    handle = make_batch_handler(
        spark,
        catalog,
        features_col=features_col,
        label_col=label_col,
        id_col=id_col,
        dim=dim,
        num_partitions=num_partitions,
        predictions_sink=predictions_sink,
        stats_sink=stats_sink,
        predictions_path=predictions_path,
        responses_sink=responses_sink,
        holdout_df=holdout_df,
    )

    writer = stream_df.writeStream.foreachBatch(handle).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
    return q


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
    groups: dict[str, dict[int, object]] = {}
    for spec in specs:
        if not spec.model or "w" not in spec.model:
            continue
        chained = bool(spec.preprocessors and spec.preproc_state)
        key = repr((spec.preprocessors, spec.preproc_state)) if chained else ""
        groups.setdefault(key, {})[spec.id] = spec
    scores: dict[int, float] = {}
    for members in groups.values():
        head = next(iter(members.values()))
        src, fcol = test_points, features_col
        if head.preprocessors and head.preproc_state:
            src, _, _ = apply_chain(
                test_points, head.preprocessors, features_col, dim,
                head.preproc_state, update=False,
            )
            fcol = "_pp_features"
        evs = trainer.evaluate_linear(
            src, [Task(s.learner, state=_deser(s.model))
                  for s in members.values()],
            features_col=fcol, label_col=label_col,
        )
        for pid, ev in zip(members, evs):
            scores[pid] = float(ev["score"])
    return scores
