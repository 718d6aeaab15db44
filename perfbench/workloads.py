"""Seeded input generator for the live-job benchmark.

Every input of a run is derived from ``(workload, seed, timed batches)``
here, in the benchmark process, before any timing starts: the replay files
(one parquet file per micro-batch), the holdout the Query responses are
scored on, and the outputs a correct run must produce.

A replay is a list of batches. Batch 0 carries the Create requests and the
first data rows; the handler applies requests before it trains, so every
pipeline sees every data row. The last batch carries the final Query of
each pipeline, whose holdout score is the run's accuracy. Queries are answered at the end of the batch
that carries them, after its training, so the expected ``dataFitted`` of a
response is the pipeline's training-row count through that batch.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 8
HOLDOUT_ROWS = 2000
# The labelling hyperplane is fixed; --seed draws the sample. Seeds then
# differ in their points, not in how separable the task is, so accuracy
# stays comparable across seeds.
W_TRUE = np.random.default_rng(2026).normal(size=DIM)
T0 = pd.Timestamp("2026-01-01 00:00:00")

# Wire schema of the unified data + control stream (kind = data | request).
_HYPER = pa.map_(pa.string(), pa.string())
_NAMED = pa.struct([("name", pa.string()), ("hyperParameters", _HYPER)])
ARROW_SCHEMA = pa.schema([
    ("kind", pa.string()),
    ("id", pa.int64()),
    ("features", pa.list_(pa.float64())),
    ("label", pa.float64()),
    ("operation", pa.string()),
    ("event_time", pa.timestamp("us")),
    ("request", pa.string()),
    ("requestId", pa.int64()),
    ("learner", _NAMED),
    ("preProcessors", pa.list_(_NAMED)),
    ("trainingConfiguration", _HYPER),
])


def spark_schema():
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(ARROW_SCHEMA)


@dataclass(frozen=True)
class Config:
    """A pipeline configuration: learner, protocol, preprocessor chain."""

    learner: str
    protocol: str = "Synchronous"
    chain: tuple[str, ...] = ()

    @property
    def linear(self) -> bool:
        """Forecast scoring and Query scores cover linear (``w``) models."""
        return self.learner != "NN"

    @property
    def scored_classifier(self) -> bool:
        return self.linear and self.learner in ("PA", "SVM")


@dataclass(frozen=True)
class Workload:
    name: str
    configs: tuple[Config, ...]
    rows_per_batch: int
    forecast_share: float
    warmup_batches: int           # untimed data batches after batch 0
    batch_s: float                # nominal batch wall: sizes the timed part
    min_timed: int
    resend_share: float = 0.0     # re-sent ids, dropped by the dedup stage
    query_every_batch: bool = False

    def timed_batches(self, seconds: float) -> int:
        return max(self.min_timed, int(round(seconds / self.batch_s)))


WORKLOADS = {
    w.name: w for w in (
        Workload(
            "many_pipelines",
            tuple(Config(lrn, proto) for lrn in ("PA", "SVM", "RegressorPA", "NN")
                  for proto in ("Synchronous", "FGM")),
            rows_per_batch=500, forecast_share=0.1,
            warmup_batches=1, batch_s=5.0, min_timed=4,
        ),
        Workload(
            "serve_dedup",
            (Config("PA", chain=("StandardScaler",)),),
            rows_per_batch=100, forecast_share=0.5, resend_share=0.2,
            query_every_batch=True,
            warmup_batches=3, batch_s=5.0, min_timed=4,
        ),
    )
}


@dataclass
class Replay:
    """Generated inputs plus the outputs a correct run must produce."""

    batches: list[pd.DataFrame]
    holdout: pa.Table
    data_rows: list[int]                 # data rows per batch, re-sends included
    train_rows: list[int]                # unique training rows per batch
    fitted: dict[int, int]               # pipeline id -> unique training rows
    predictions: dict[int, int]          # pipeline id -> forecast rows scored
    queries: dict[int, tuple[int, int]]  # requestId -> (pipeline id, dataFitted)
    final_queries: list[int]             # requestIds scored into holdout_accuracy


def _request(req, pid, rid, cfg: Config | None = None) -> dict:
    row = {"kind": "request", "id": pid, "request": req, "requestId": rid}
    if cfg is not None:
        row["learner"] = {"name": cfg.learner, "hyperParameters": []}
        row["preProcessors"] = [{"name": n, "hyperParameters": []}
                                for n in cfg.chain]
        row["trainingConfiguration"] = [("protocol", cfg.protocol)]
    return row


def _points(rng, n):
    X = rng.normal(size=(n, DIM))
    y = np.sign(X @ W_TRUE + 0.1 * rng.normal(size=n))
    y[y == 0] = 1.0
    return X, y


def generate(wl: Workload, seed: int, timed: int) -> Replay:
    """Batches: 0 (Creates + data), warm-up, then timed; the last batch
    carries a Query per pipeline (every batch does with
    ``query_every_batch``)."""
    rng = np.random.default_rng(seed)
    n_data = 1 + wl.warmup_batches + timed
    rids = iter(range(1, 1 << 40))
    live = dict(enumerate(wl.configs))
    fitted = dict.fromkeys(live, 0)
    predictions = dict.fromkeys(live, 0)
    queries: dict[int, tuple[int, int]] = {}
    X_all = np.empty((0, DIM))
    y_all = np.empty(0)
    op_all = np.empty(0, dtype=object)
    batches, data_rows, train_rows = [], [], []

    def query_all():
        out = []
        for pid in live:
            rid = next(rids)
            queries[rid] = (pid, fitted[pid])
            out.append(_request("Query", pid, rid))
        return out

    for b in range(n_data):
        reqs = [_request("Create", pid, next(rids), cfg)
                for pid, cfg in live.items()] if b == 0 else []
        n_resend = int(round(wl.rows_per_batch * wl.resend_share)) if b else 0
        n_fresh = wl.rows_per_batch - n_resend
        X, y = _points(rng, n_fresh)
        ops = np.where(rng.random(n_fresh) < wl.forecast_share,
                       "forecasting", "training")
        old = len(y_all)
        resend = np.sort(rng.choice(old, size=n_resend, replace=False)) \
            if n_resend else np.empty(0, dtype=np.int64)
        X_all = np.vstack([X_all, X])
        y_all = np.concatenate([y_all, y])
        op_all = np.concatenate([op_all, ops])
        ids = np.concatenate([np.arange(old, old + n_fresh), resend])
        n_train = int((ops == "training").sum())
        for pid, cfg in live.items():
            fitted[pid] += n_train
            if cfg.linear:
                predictions[pid] += n_fresh - n_train
        if wl.query_every_batch or b == n_data - 1:
            reqs += query_all()
        data = pd.DataFrame({
            "kind": "data",
            "id": ids,
            "features": list(X_all[ids]),
            "label": y_all[ids],
            "operation": op_all[ids],
        })
        batches.append(pd.concat([pd.DataFrame(reqs), data], ignore_index=True)
                       if reqs else data)
        data_rows.append(len(data))
        train_rows.append(n_train)

    final = [r["requestId"] for r in reqs
             if r["request"] == "Query" and live[r["id"]].scored_classifier]
    for b, frame in enumerate(batches):
        # one event-time tick per batch: no row is ever behind the
        # watermark, so the dedup stage drops only re-sent ids
        frame["event_time"] = T0 + pd.Timedelta(minutes=b)

    Xh, yh = _points(rng, HOLDOUT_ROWS)
    holdout = pa.table({"features": pa.array(list(Xh), pa.list_(pa.float64())),
                        "label": pa.array(yh)})
    return Replay(batches=batches, holdout=holdout, data_rows=data_rows,
                  train_rows=train_rows, fitted=fitted,
                  predictions=predictions, queries=queries,
                  final_queries=final)


def _table(frame: pd.DataFrame) -> pa.Table:
    """Rows of mixed kinds: a column a row does not carry is null."""
    n = len(frame)
    arrays = []
    for f in ARROW_SCHEMA:
        col = frame[f.name] if f.name in frame else [None] * n
        arrays.append(pa.array(
            [None if v is None or (isinstance(v, float) and np.isnan(v)) else v
             for v in col], type=f.type))
    return pa.Table.from_arrays(arrays, schema=ARROW_SCHEMA)


def write_replay(replay: Replay, path: str, holdout_path: str) -> int:
    """One parquet file per micro-batch, ordered by name AND mtime, so the
    file source with maxFilesPerTrigger=1 replays them in sequence; the
    holdout goes to its own file."""
    pq.write_table(replay.holdout, holdout_path)
    os.makedirs(path, exist_ok=True)
    base = time.time() - 10_000
    for i, frame in enumerate(replay.batches):
        f = os.path.join(path, f"batch-{i:05d}.parquet")
        table = _table(frame)
        pq.write_table(table, f)
        os.utime(f, (base + i, base + i))
    return len(replay.batches)
