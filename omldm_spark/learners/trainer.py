"""BSP trainer: the FlinkSpoke + FlinkHub pair collapsed into map/merge.

Reference hot path (SURVEY.md §3.1): workers partial-fit, push params to a
hub via an RPC fabric + Kafka feedback topic; the hub merges and broadcasts
back. One worker operator updates every live pipeline on each record
(FlinkSpoke.scala:101). Here one *round* does the same for every model it
is handed, in one Spark pass:

    partitions --mapInPandas partial_fit of every model--> one tiny state
    row per (model, partition) --driver merge per model--> broadcast models
    --next round

``fit`` and ``fit_groups`` take either one learner name (the single-model
form) or a list of :class:`Task`, one per model, and train them all in one
pass; the single-model form is the one-task case of that pass:

* ``fit``        one ``repartition.select.mapInPandas``: every model starts
                 each partition from its broadcast global state; the driver
                 merges each model's partition states.
* ``fit_groups`` one ``groupBy(key).applyInPandas``: every model starts each
                 key group from its own per-key state (per-worker models).

Closed-form learners (ORR) bypass the pass: each runs its own Catalyst
aggregate. The per-partition state is O(model), not O(data) — collecting
models × P of them to the driver is the same communication pattern as
MLlib's treeAggregate and is exactly what the reference's hub does (it,
too, centralizes the merged model: FlinkHub.scala:54-162).

Epochs over a *bounded* stream replay = the reference's multi-epoch file
replay (workload ``lin_class_mil_e10.txt`` = 10 epochs,
DefaultJobParameters.scala:7).
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .base import Learner, get_learner

# Serialized state row: one per (model, partition) from ``fit`` and one per
# (model, key group) from ``fit_groups``; ``grp`` is the partition or key.
STATE_SCHEMA = (
    "model int, grp long, n long, cum_loss double, flat array<double>, "
    "blob string"
)


@dataclass
class Task:
    """One model of a fused pass. ``state`` is where it starts: the global
    state for :func:`fit`, the per-key states for :func:`fit_groups` (keys
    without one start fresh), the model scored for :func:`evaluate_linear`.
    ``None`` starts fresh."""

    learner: str
    dim: int = 0
    hyper: dict = field(default_factory=dict)
    state: dict | None = None


def _flatten_state(learner: Learner, state: dict) -> list[float]:
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


def _unflatten_state(learner: Learner, template: dict, flat: list[float]) -> dict:
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

    def pack(self, state: dict) -> tuple[list[float] | None, str | None]:
        if self.blob:
            return None, self.learner.to_blob(state)
        return _flatten_state(self.learner, state), None

    def unpack(self, flat, blob) -> dict:
        if self.blob:
            return self.learner.from_blob(blob)
        return _unflatten_state(self.learner, self.template, list(flat))

    def start(self, packed) -> dict:
        """The state a pass starts from: unpacked, bookkeeping zeroed."""
        local = (self.learner.init_state(self.dim, self.hyper)
                 if packed is None else self.unpack(*packed))
        local["n"], local["cum_loss"] = 0, 0.0
        return self.learner.begin_pass(local)


def _state_rows(models: list[_Model], grp: int, states: list[dict]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "model": list(range(len(models))),
            "grp": [grp] * len(models),
            "n": [int(s["n"]) for s in states],
            "cum_loss": [float(s["cum_loss"]) for s in states],
            "flat": [[] if m.blob else _flatten_state(m.learner, s)
                     for m, s in zip(models, states)],
            "blob": [m.learner.to_blob(s) if m.blob else None
                     for m, s in zip(models, states)],
        }
    )


def _xy(pdf: pd.DataFrame, features_col: str, label_col: str):
    X = np.asarray(pdf[features_col].tolist(), dtype=float)
    return X, pdf[label_col].to_numpy(dtype=float)


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
    (DOUBLE). With ``partition_col`` + ``order_cols`` the run is fully
    deterministic: rows shuffle by a stable key and are sorted within each
    partition before the sequential pass — the Spark analogue of the
    reference's fixed-seed replay (FlinkSpoke.scala:52). Every model sees
    the same rows in the same order, so a task's state does not depend on
    which other tasks share its pass.
    """
    single, tasks = _tasks(learner, dim, hyper, init_state)
    models = [_Model(t) for t in tasks]
    states: list[dict] = []
    streamed: list[int] = []
    for i, (t, m) in enumerate(zip(tasks, models)):
        if getattr(m.learner, "closed_form", False):
            # ORR: exact sufficient-statistics aggregation — one Catalyst agg
            # per epoch pass, inherently distributed and order-independent,
            # so partitioning/ordering parameters are irrelevant (epochs > 1
            # would double-count sufficient statistics; one pass IS the
            # exact fit).
            states.append(m.learner.fit_dataframe(
                points, t.dim, t.hyper,
                features_col=features_col, label_col=label_col,
                init_state=t.state,
            ))
        else:
            states.append(t.state or m.learner.init_state(t.dim, t.hyper))
            streamed.append(i)
    if not streamed:
        return states[0] if single else states

    if partition_col is not None and num_partitions is not None:
        points = points.repartition(num_partitions, partition_col)
    elif num_partitions is not None:
        points = points.repartition(num_partitions)
    if order_cols:
        points = points.sortWithinPartitions(*order_cols)
    sel = points.select(features_col, label_col)
    pass_models = [models[i] for i in streamed]

    for _ in range(epochs):
        bc = [m.pack(states[i]) for m, i in zip(pass_models, streamed)]

        def run_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            locals_ = [m.start(p) for m, p in zip(pass_models, bc)]
            seen = 0
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X, yv = _xy(pdf, features_col, label_col)
                for j, m in enumerate(pass_models):
                    locals_[j] = m.learner.partial_fit(X, yv, locals_[j], m.hyper)
                seen += len(pdf)
            if seen:
                yield _state_rows(pass_models, TaskContext.get().partitionId(),
                                  locals_)

        rows = sel.mapInPandas(run_partition, schema=STATE_SCHEMA).collect()
        if not rows:
            break
        partials: list[list[dict]] = [[] for _ in streamed]
        for r in rows:
            m = pass_models[r["model"]]
            s = m.unpack(r["flat"], r["blob"])
            s["n"], s["cum_loss"] = int(r["n"]), float(r["cum_loss"])
            partials[r["model"]].append(s)
        for j, i in enumerate(streamed):
            prev = states[i]
            merged = models[i].learner.merge(partials[j])
            merged["n"] = int(prev["n"]) + sum(int(p["n"]) for p in partials[j])
            merged["cum_loss"] = float(prev["cum_loss"]) + sum(
                float(p["cum_loss"]) for p in partials[j])
            states[i] = merged
    return states[0] if single else states


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

    The ``toPandas`` here is deliberate and BOUNDED: the reference's
    holdout is a 256-point rolling test set (FlinkSpoke.scala:41), so
    the collect is model-query-sized, not data-sized.  ``max_rows``
    guards the contract — a caller that feeds a full table gets a loud
    error instead of a silent driver OOM; score big frames with the
    distributed prediction path instead."""
    learner = get_learner(learner_name)
    # limit+count probes the bound without materializing the full frame
    if points.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"evaluate() collects the holdout to the driver; more than "
            f"{max_rows} rows supplied. Score large frames distributed "
            "instead."
        )
    pdf = points.select(features_col, label_col).toPandas()
    if len(pdf) == 0:
        return {"loss": math.nan, "score": math.nan, "n_test": 0}
    X, yv = _xy(pdf, features_col, label_col)
    return {
        "loss": learner.loss(X, yv, state),
        "score": learner.score(X, yv, state),
        "n_test": len(pdf),
    }


def fit_groups(
    points: DataFrame,
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
    all trained in the same pass.

    This is the per-worker state the distributed-protocol emulations need
    (GM/FGM/EASGD keep worker models that diverge between syncs —
    SURVEY.md §2.9). applyInPandas gives one pandas frame per group; rows
    are sorted in-frame by ``order_cols``, so the pass is deterministic
    regardless of shuffle arrival order.
    """
    single, tasks = _tasks(learner, dim, hyper, init_states)
    models = [_Model(t) for t in tasks]
    bc = [{int(k): m.pack(st) for k, st in (t.state or {}).items()}
          for t, m in zip(tasks, models)]
    order_cols = order_cols or []

    def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
        key = int(pdf[key_col].iloc[0])
        if order_cols:
            pdf = pdf.sort_values(order_cols)
        X, yv = _xy(pdf, features_col, label_col)
        locals_ = [
            m.learner.partial_fit(X, yv, m.start(b.get(key)), m.hyper)
            for m, b in zip(models, bc)
        ]
        return _state_rows(models, key, locals_)

    rows = (
        points.select(key_col, features_col, label_col, *order_cols)
        .groupBy(key_col)
        .applyInPandas(run_group, schema=STATE_SCHEMA).collect()
    )
    out: list[dict[int, dict]] = [{} for _ in tasks]
    for r in rows:
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
    from pyspark.sql import functions as F

    from ..functions.vector import linear_predict

    single, tasks = _tasks(learner, 0, None, state)
    out: list[dict | None] = [None] * len(tasks)
    aggs = []
    y = F.col(label_col)
    for j, t in enumerate(tasks):
        if "w" not in t.state:
            out[j] = evaluate(points, t.learner, t.state,
                              features_col=features_col, label_col=label_col)
            continue
        w = np.asarray(t.state["w"], dtype=float)
        raw = linear_predict(features_col, list(w[:-1]), float(w[-1]))
        if get_learner(t.learner).is_classifier:
            pred = F.when(raw >= 0, 1.0).otherwise(-1.0)
            hinge = F.greatest(F.lit(0.0), F.lit(1.0) - y * raw)
            aggs += [F.avg(hinge).alias(f"loss_{j}"),
                     F.avg((pred == y).cast("double")).alias(f"score_{j}")]
        else:
            err = raw - y
            aggs += [F.avg(err * err).alias(f"loss_{j}"),
                     (-F.avg(err * err)).alias(f"score_{j}")]
    if aggs:
        row = points.agg(*aggs, F.count(F.lit(1)).alias("n")).first()
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
