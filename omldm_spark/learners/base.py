"""Learner API: the Spark-native replacement for the reference's
``NodeGenerator`` factory surface (src/main/scala/omldm/utils/generators/
MLNodeGenerator.scala:20-76; extension point NodeGenerator.scala:6-10).

A learner is a stateless strategy object over numpy state dicts:

* ``init_state(dim, hyper)``      -> state dict of np arrays / scalars
* ``partial_fit(X, y, state)``    -> state  (one sequential pass, the online
                                    update loop of the reference's worker)
* ``merge(states)``               -> state  (the hub's model merge — weighted
                                    average, StateAccumulators.scala:148-192)
* ``predict(X, state)``           -> np.ndarray
* ``loss(X, y, state)``           -> float  (holdout scoring,
                                    FlinkSpoke.scala:160-163)

State dicts always carry ``n`` (points fitted) so merges weight correctly.
The trainer (``trainer.py``) runs partial_fit over each worker key group's
rows one Arrow batch at a time, carrying the state from call to call
(``fit_groups``: ``groupBy(key).applyInArrow``, or on the driver over the
streaming round's collected micro-batch), so two calls over consecutive
slices must equal one call over both. It merges the tiny per-worker
states — one BSP round == one reference protocol round (SURVEY.md §7).
"""

from __future__ import annotations

from abc import ABC, abstractmethod

import numpy as np


class Learner(ABC):
    name: str = "?"
    is_classifier: bool = True

    @abstractmethod
    def init_state(self, dim: int, hyper: dict) -> dict: ...

    @abstractmethod
    def partial_fit(self, X: np.ndarray, y: np.ndarray, state: dict, hyper: dict) -> dict: ...

    def begin_pass(self, state: dict) -> dict:
        """Hook called once per pass over a worker's rows, after its start
        state is materialized and bookkeeping (n, cum_loss) is zeroed.
        Learners whose merge needs per-pass deltas (K-means) snapshot the
        prior here."""
        return state

    def merge(self, states: list[dict]) -> dict:
        """Weighted average of every float array in the state — the hub-side
        model merge (StateAccumulators.scala:169-178 applies mlAPI merge;
        public semantics = parameter averaging)."""
        total = sum(int(s["n"]) for s in states)
        if total == 0:
            return states[0]
        out: dict = {"n": total}
        for k in states[0]:
            if k == "n":
                continue
            vals = [s[k] for s in states]
            if isinstance(vals[0], np.ndarray):
                out[k] = sum(v * (int(s["n"]) / total) for v, s in zip(vals, states))
            else:
                out[k] = sum(float(v) * (int(s["n"]) / total) for v, s in zip(vals, states))
        return out

    @abstractmethod
    def predict(self, X: np.ndarray, state: dict) -> np.ndarray: ...

    @abstractmethod
    def loss(self, X: np.ndarray, y: np.ndarray, state: dict) -> float: ...

    def score(self, X: np.ndarray, y: np.ndarray, state: dict) -> float:
        """Accuracy for classifiers, negative MSE for regressors."""
        pred = self.predict(X, state)
        if self.is_classifier:
            return float(np.mean(pred == y))
        return -float(np.mean((pred - y) ** 2))


LEARNER_REGISTRY: dict[str, type[Learner]] = {}


def register(cls: type[Learner]) -> type[Learner]:
    LEARNER_REGISTRY[cls.name] = cls
    return cls


def get_learner(name: str) -> Learner:
    try:
        return LEARNER_REGISTRY[name]()
    except KeyError:
        raise ValueError(
            f"unknown learner {name!r}; valid: {sorted(LEARNER_REGISTRY)}"
        ) from None
