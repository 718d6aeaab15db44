"""BSP trainer: the FlinkSpoke + FlinkHub pair collapsed into map/merge.

Reference hot path (SURVEY.md §3.1): workers partial-fit, push params to a
hub via an RPC fabric + Kafka feedback topic; the hub merges and broadcasts
back. One worker operator updates every live pipeline on each record
(FlinkSpoke.scala:101). Here one *round* does the same for every model it
is handed, in one keyed pass (a Spark pass, or the driver's over a
collected micro-batch):

    rows keyed by worker --partial_fit of every model, per key--> one
    tiny state row per (model, worker) --driver merge per model-->
    broadcast models --next round

``fit`` and ``fit_groups`` take either one learner name (the single-model
form) or a list of :class:`Task`, one per model, and train them all in one
pass, each model on its own features column of the one frame; the
single-model form is the one-task case of that pass. ``fit_groups``' group
kernel is the only Python training kernel:

* ``fit_groups`` one keyed pass: every model starts each key group from
                 its own per-key state. For per-worker models those are the
                 workers' own states; for a global model the caller hands
                 every key the same broadcast state and merges the returned
                 per-key partials with ``merge_round``, so the streaming
                 round trains both kinds in one keyed pass. The kernel
                 streams each key's sorted rows as Arrow record batches,
                 one ``partial_fit`` per batch: over a DataFrame Spark
                 sorts them and a ``groupBy(key).applyInArrow`` runs it;
                 over a pyarrow Table (the streaming round's collected
                 micro-batch) it runs on the driver, with no Spark job.
* ``fit``        one such pass per epoch over the rows keyed by the hash
                 partition of a worker column, every key starting from the
                 global state, then ``merge_round`` in key order.

Closed-form learners (ORR) bypass the pass: each runs its own Catalyst
aggregate. The per-worker state is O(model), not O(data) — collecting
models × P of them to the driver is the same communication pattern as
MLlib's treeAggregate and is exactly what the reference's hub does (it,
too, centralizes the merged model: FlinkHub.scala:54-162).

Epochs over a *bounded* stream replay = the reference's multi-epoch file
replay (workload ``lin_class_mil_e10.txt`` = 10 epochs,
DefaultJobParameters.scala:7).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Iterator, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..functions.vector import matrix
from .base import Learner, get_learner

# Serialized state row: one per (model, key group) of a ``fit_groups``
# pass; ``grp`` is the key.
STATE_SCHEMA = pa.schema([
    ("model", pa.int32()), ("grp", pa.int64()), ("n", pa.int64()),
    ("cum_loss", pa.float64()), ("flat", pa.list_(pa.float64())), ("blob", pa.string())])


@dataclass
class Task:
    """One model of a fused pass. ``state`` is where it starts: the global
    state for :func:`fit`, the per-key states for :func:`fit_groups` (keys
    without one start fresh), the model scored for :func:`evaluate_linear`.
    ``None`` starts fresh. ``features_col`` is the column the model reads
    (``None``: the pass's ``features_col``), so models whose features go
    through different preprocessor chains share one pass over one frame."""

    learner: str
    dim: int = 0
    hyper: dict = field(default_factory=dict)
    state: dict | None = None
    features_col: str | None = None


def _flatten_state(state: dict) -> list[float]:
    """Pack model arrays into one flat vector (order: sorted keys, excluding
    bookkeeping); the driver unpacks with the same layout."""
    out: list[float] = []
    for k in sorted(state):
        if k in ("n", "cum_loss"):
            continue
        v = state[k]
        if isinstance(v, np.ndarray):
            out.extend(np.asarray(v, dtype=float).ravel().tolist())
        else:
            out.append(float(v))
    return out


def _unflatten_state(template: dict, flat: list[float]) -> dict:
    state = {}
    i = 0
    for k in sorted(template):
        if k in ("n", "cum_loss"):
            continue
        v = template[k]
        if isinstance(v, np.ndarray):
            size = v.size
            state[k] = np.asarray(flat[i : i + size], dtype=float).reshape(v.shape)
            i += size
        else:
            state[k] = float(flat[i])
            i += 1
    return state


def _tasks(learner, dim, hyper, state) -> tuple[bool, list[Task]]:
    """(single-model form?, tasks) for the two calling forms."""
    if isinstance(learner, str):
        return True, [Task(learner, dim, dict(hyper or {}), state)]
    return False, list(learner)


class _Model:
    """A task's learner and model template, shipped to the Python workers
    with the pass closure."""

    def __init__(self, task: Task):
        self.learner = get_learner(task.learner)
        self.hyper = task.hyper
        self.dim = task.dim
        self.template = self.learner.init_state(task.dim, task.hyper)
        self.blob = bool(getattr(self.learner, "uses_blob", False))

    def pack(self, state: dict) -> tuple[list[float], str | None]:
        if self.blob:
            return [], self.learner.to_blob(state)
        return _flatten_state(state), None

    def unpack(self, flat, blob) -> dict:
        if self.blob:
            return self.learner.from_blob(blob)
        return _unflatten_state(self.template, list(flat))

    def start(self, packed) -> dict:
        """The state a pass starts from: unpacked, bookkeeping zeroed."""
        local = (self.learner.init_state(self.dim, self.hyper)
                 if packed is None else self.unpack(*packed))
        local["n"], local["cum_loss"] = 0, 0.0
        return self.learner.begin_pass(local)


def fit(
    points: DataFrame,
    learner: str | list[Task],
    dim: int = 0,
    hyper: dict | None = None,
    *,
    features_col: str = "features",
    label_col: str = "label",
    epochs: int = 1,
    num_partitions: int | None = None,
    partition_col: str | None = None,
    order_cols: list[str] | None = None,
    init_state: dict | None = None,
) -> dict | list[dict]:
    """Train over a bounded DataFrame; returns the merged model state, or
    with a list of :class:`Task` one merged state per task, all trained in
    the same pass (``dim``/``hyper``/``init_state`` then come from the
    tasks).

    ``points`` must carry ``features_col`` (ARRAY<DOUBLE>) and ``label_col``
    (DOUBLE). Each epoch is one :func:`fit_groups` pass over
    ``num_partitions`` workers (default one): a row goes to the worker
    Spark's hash partitioning of ``partition_col`` would put it in,
    ``pmod(hash(partition_col), num_partitions)``, so more than one worker
    needs ``partition_col``. Every worker starts from the global state and
    trains its rows sorted by ``order_cols``; the driver merges the
    workers' partials in worker order (``merge_round``). With
    ``order_cols`` the run is fully deterministic — the Spark analogue of
    the reference's fixed-seed replay (FlinkSpoke.scala:52). Every model
    sees the same rows in the same order, so a task's state does not
    depend on which other tasks share its pass.
    """
    single, tasks = _tasks(learner, dim, hyper, init_state)
    cols = [t.features_col or features_col for t in tasks]
    learners = [get_learner(t.learner) for t in tasks]
    workers = num_partitions or 1
    states: list[dict] = []
    streamed: list[int] = []
    for i, (t, ln) in enumerate(zip(tasks, learners)):
        if getattr(ln, "closed_form", False):
            # ORR: exact sufficient-statistics aggregation — one Catalyst agg
            # per epoch pass, inherently distributed and order-independent,
            # so partitioning/ordering parameters are irrelevant (epochs > 1
            # would double-count sufficient statistics; one pass IS the
            # exact fit).
            states.append(ln.fit_dataframe(
                points, t.dim, t.hyper,
                features_col=cols[i], label_col=label_col,
                init_state=t.state,
            ))
        else:
            states.append(t.state or ln.init_state(t.dim, t.hyper))
            streamed.append(i)
    if not streamed:
        return states[0] if single else states
    if workers > 1 and partition_col is None:
        raise ValueError(
            f"fit over {workers} workers needs partition_col: the worker "
            "of a row must be a function of the row")

    key = (F.pmod(F.hash(partition_col), F.lit(workers)) if workers > 1
           else F.lit(0))
    keyed = points.withColumn("_fit_wk", key.cast("int"))
    for _ in range(epochs):
        fitted = fit_groups(
            keyed,
            [Task(tasks[i].learner, tasks[i].dim, tasks[i].hyper,
                  {w: {**states[i], "n": 0, "cum_loss": 0.0}
                   for w in range(workers)}, cols[i]) for i in streamed],
            key_col="_fit_wk", label_col=label_col, order_cols=order_cols,
        )
        if not any(fitted):
            break
        for i, new in zip(streamed, fitted):
            states[i] = merge_round(learners[i], states[i],
                                    [new[k] for k in sorted(new)])
    return states[0] if single else states


def merge_round(learner: Learner, prev: dict, partials: list[dict]) -> dict:
    """The hub merge of one round: ``learner.merge`` over the partial states
    of workers that all started from ``prev``, each carrying only this
    round's ``n`` and ``cum_loss`` (so the merge weights are this round's
    counts), with the bookkeeping accumulated onto ``prev``'s."""
    merged = learner.merge(partials)
    merged["n"] = int(prev["n"]) + sum(int(p["n"]) for p in partials)
    merged["cum_loss"] = float(prev["cum_loss"]) + sum(
        float(p["cum_loss"]) for p in partials)
    return merged


def evaluate(
    points: DataFrame,
    learner_name: str,
    state: dict,
    *,
    features_col: str = "features",
    label_col: str = "label",
    max_rows: int = 100_000,
) -> dict:
    """Holdout loss/score on a (small) test split — the reference's
    Query-on-testSet path (FlinkSpoke.scala:160-163).

    The ``toArrow`` here is deliberate and BOUNDED: the reference's
    holdout is a 256-point rolling test set (FlinkSpoke.scala:41), so
    the collect is model-query-sized, not data-sized.  ``max_rows``
    guards the contract — a caller that feeds a full table gets a loud
    error instead of a silent driver OOM; score big frames with the
    distributed prediction path instead. Every features row must hold
    the same number of non-null doubles (``vector.matrix``)."""
    learner = get_learner(learner_name)
    # limit+count probes the bound without materializing the full frame
    if points.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"evaluate() collects the holdout to the driver; more than "
            f"{max_rows} rows supplied. Score large frames distributed "
            "instead."
        )
    tab = points.select(features_col, label_col).toArrow()
    if tab.num_rows == 0:
        return {"loss": math.nan, "score": math.nan, "n_test": 0}
    feats = tab.column(features_col)
    X = matrix(feats, pc.max(pc.list_value_length(feats)).as_py() or 0)
    yv = tab.column(label_col).to_numpy(zero_copy_only=False)
    return {
        "loss": learner.loss(X, yv, state),
        "score": learner.score(X, yv, state),
        "n_test": tab.num_rows,
    }


def fit_groups(
    points: DataFrame | pa.Table,
    learner: str | list[Task],
    dim: int = 0,
    hyper: dict | None = None,
    *,
    key_col: str,
    features_col: str = "features",
    label_col: str = "label",
    order_cols: list[str] | None = None,
    init_states: dict[int, dict] | None = None,
) -> dict[int, dict] | list[dict[int, dict]]:
    """Per-group sequential training: each key keeps ITS OWN model. Returns
    {key: state}, or with a list of :class:`Task` one such dict per task,
    all trained in the same pass, each on its own ``features_col``.

    This is the per-worker state the distributed-protocol emulations need
    (GM/FGM/EASGD keep worker models that diverge between syncs —
    SURVEY.md §2.9). Every features row must hold its task's ``dim``
    non-null doubles (``vector.matrix`` raises otherwise).

    One kernel serves both placements: it takes a key and an iterator of
    that key's Arrow record batches, starts each model's state once, runs
    ``partial_fit`` over each batch in turn (two calls over consecutive
    slices are the one call over both, bit for bit) and yields one state
    row per model. A key's rows reach it sorted by ``order_cols``, NULLs
    last, so the pass is deterministic regardless of arrival order as long
    as ``order_cols`` tell every two rows of a key apart; rows that tie on
    them may train in arrival order.

    Placement: over a DataFrame the pass is a ``repartition(key)
    .sortWithinPartitions(key, *order_cols)`` feeding a ``groupBy(key)
    .applyInArrow``, in the session's shuffle partitions (which AQE may
    coalesce), one task per key at most; Spark sorts the rows, and the
    kernel holds one Arrow batch (``maxRecordsPerBatch`` rows) at a time,
    never a whole key. ``points`` may instead be a pyarrow Table already
    on the driver (the training loop's collected micro-batch: each Python
    task costs a fixed start-up far above a micro-batch's training); it is
    sorted by ``(key, *order_cols)`` there (a stable sort, NULLs last) and
    each key's slice goes through the same kernel in ascending key order,
    with no Spark job. The states are bit-identical either way. A NULL key
    fails the pass in both placements.
    """
    single, tasks = _tasks(learner, dim, hyper, init_states)
    models = [_Model(t) for t in tasks]
    cols = [t.features_col or features_col for t in tasks]
    dims = {c: m.dim for c, m in zip(cols, models)}
    bc = [{int(k): m.pack(st) for k, st in (t.state or {}).items()}
          for t, m in zip(tasks, models)]
    order_cols = order_cols or []

    def run_group(key: Tuple[pa.Scalar, ...],
                  batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        grp = int(key[0].as_py())
        states = [m.start(b.get(grp)) for m, b in zip(models, bc)]
        for batch in batches:
            X = {c: matrix(batch.column(c), d) for c, d in dims.items()}
            yv = batch.column(label_col).to_numpy(zero_copy_only=False)
            states = [m.learner.partial_fit(X[c], yv, st, m.hyper)
                      for m, c, st in zip(models, cols, states)]
        packed = [m.pack(st) for m, st in zip(models, states)]
        yield pa.RecordBatch.from_pylist([
            {"model": j, "grp": grp, "n": int(st["n"]),
             "cum_loss": float(st["cum_loss"]), "flat": flat, "blob": blob}
            for j, (st, (flat, blob)) in enumerate(zip(states, packed))],
            schema=STATE_SCHEMA)

    sel = [key_col, *dict.fromkeys(cols), label_col, *order_cols]
    if isinstance(points, DataFrame):
        state_rows = (
            points.select(*sel).repartition(key_col)
            .sortWithinPartitions(key_col,
                                  *[F.asc_nulls_last(c) for c in order_cols])
            .groupBy(key_col)
            .applyInArrow(run_group, from_arrow_schema(STATE_SCHEMA)).toArrow())
    else:
        rows = points.select(sel).sort_by(
            [(c, "ascending") for c in [key_col, *order_cols]],
            null_placement="at_end")
        keys, counts = pc.value_counts(rows.column(key_col)).flatten()
        state_rows = pa.Table.from_batches([
            b for k, n, end in zip(keys, counts.to_numpy(), np.cumsum(counts))
            for b in run_group((k,), rows.slice(end - n, n).to_batches())],
            schema=STATE_SCHEMA)
    out: list[dict[int, dict]] = [{} for _ in tasks]
    for r in state_rows.to_pylist():
        j, key = r["model"], int(r["grp"])
        s = models[j].unpack(r["flat"], r["blob"])
        prev = (tasks[j].state or {}).get(key, {})
        s["n"] = int(prev.get("n", 0)) + int(r["n"])
        s["cum_loss"] = float(prev.get("cum_loss", 0.0)) + float(r["cum_loss"])
        out[j][key] = s
    return out[0] if single else out


def evaluate_linear(
    points: DataFrame,
    learner: str | list[Task],
    state: dict | None = None,
    *,
    features_col: str = "features",
    label_col: str = "label",
) -> dict | list[dict]:
    """Catalyst-only holdout evaluation for flat linear models (state['w']):
    the loss/score aggregations run JVM-side — no toPandas transfer, no
    Python in the scoring path. With a list of :class:`Task` (the model in
    each task's ``state``) every linear model is scored in ONE aggregate
    and one result dict per task comes back. Non-linear state shapes fall
    back to :func:`evaluate`."""
    from ..functions.vector import linear_predict_sql, sql_col

    single, tasks = _tasks(learner, 0, None, state)
    out: list[dict | None] = [None] * len(tasks)
    aggs = []
    y = sql_col(label_col)
    for j, t in enumerate(tasks):
        if "w" not in t.state:
            out[j] = evaluate(points, t.learner, t.state,
                              features_col=features_col, label_col=label_col)
            continue
        w = [float(v) for v in t.state["w"]]
        raw = linear_predict_sql(features_col, w[:-1], w[-1])
        if get_learner(t.learner).is_classifier:
            pred = f"CASE WHEN {raw} >= 0 THEN 1.0D ELSE -1.0D END"
            aggs += [f"avg(greatest(0.0D, 1.0D - {y} * {raw})) AS loss_{j}",
                     f"avg(CAST({pred} = {y} AS DOUBLE)) AS score_{j}"]
        else:
            err = f"({raw} - {y})"
            aggs += [f"avg({err} * {err}) AS loss_{j}",
                     f"-avg({err} * {err}) AS score_{j}"]
    if aggs:
        row = points.selectExpr(*aggs, "count(1) AS n").first()
        for j in range(len(tasks)):
            if out[j] is not None:
                continue
            if row["n"] == 0:
                out[j] = {"loss": math.nan, "score": math.nan, "n_test": 0}
            else:
                out[j] = {"loss": float(row[f"loss_{j}"]),
                          "score": float(row[f"score_{j}"]),
                          "n_test": int(row["n"])}
    return out[0] if single else out
