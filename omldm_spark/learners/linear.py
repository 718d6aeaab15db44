"""Linear online learners: PA, RegressorPA, MultiClassPA, SVM.

These are the reference's linear-model family (whitelist
src/main/scala/omldm/utils/parsers/requestStream/PipelineMap.scala:68; model
state = Breeze vector + bias, src/main/scala/omldm/state/
StateAccumulators.scala:25-27). Implementations follow the published
algorithms, not the reference's (external, unvendored) code:

* PA / RegressorPA / MultiClassPA — Crammer, Dekel, Keshet, Shalev-Shwartz,
  Singer, "Online Passive-Aggressive Algorithms", JMLR 7 (2006). PA-I
  variant (slack C).
* SVM — Shalev-Shwartz, Singer, Srebro, "Pegasos: Primal Estimated
  sub-GrAdient SOlver for SVM", ICML 2007.

All kernels are sequential numpy loops over one Arrow batch (the trainer
calls them once per batch of a worker's rows, carrying the state) — the
per-record online update the reference runs inside its worker node;
cross-worker consistency comes from the BSP merge.
"""

from __future__ import annotations

import numpy as np

from .base import Learner, register


def _xb(X: np.ndarray) -> np.ndarray:
    """Append the bias pseudo-feature."""
    return np.hstack([X, np.ones((X.shape[0], 1))])


@register
class PA(Learner):
    """Online Passive-Aggressive binary classifier (labels {-1, +1})."""

    name = "PA"
    is_classifier = True

    def init_state(self, dim: int, hyper: dict) -> dict:
        return {"w": np.zeros(dim + 1), "n": 0, "cum_loss": 0.0}

    def partial_fit(self, X, y, state, hyper):
        C = float(hyper.get("C", 0.01))
        w = state["w"].copy()
        cum = float(state["cum_loss"])
        Xb = _xb(X)
        nrm = np.einsum("ij,ij->i", Xb, Xb)  # hoisted out of the online loop
        for i in range(Xb.shape[0]):
            x, yi = Xb[i], y[i]
            margin = yi * float(w @ x)
            loss = max(0.0, 1.0 - margin)
            cum += loss
            if loss > 0.0:
                tau = min(C, loss / nrm[i])  # PA-I
                w += tau * yi * x
        return {"w": w, "n": int(state["n"]) + Xb.shape[0], "cum_loss": cum}

    def predict(self, X, state):
        raw = _xb(X) @ state["w"]
        return np.where(raw >= 0.0, 1.0, -1.0)

    def loss(self, X, y, state):
        margins = y * (_xb(X) @ state["w"])
        return float(np.mean(np.maximum(0.0, 1.0 - margins)))


@register
class RegressorPA(Learner):
    """PA regression with epsilon-insensitive loss (PA-I)."""

    name = "RegressorPA"
    is_classifier = False

    def init_state(self, dim: int, hyper: dict) -> dict:
        return {"w": np.zeros(dim + 1), "n": 0, "cum_loss": 0.0}

    def partial_fit(self, X, y, state, hyper):
        C = float(hyper.get("C", 0.01))
        eps = float(hyper.get("epsilon", 0.1))
        w = state["w"].copy()
        cum = float(state["cum_loss"])
        Xb = _xb(X)
        nrm = np.einsum("ij,ij->i", Xb, Xb)
        for i in range(Xb.shape[0]):
            x, yi = Xb[i], y[i]
            err = float(w @ x) - yi
            loss = max(0.0, abs(err) - eps)
            cum += loss
            if loss > 0.0:
                tau = min(C, loss / nrm[i])
                w -= np.sign(err) * tau * x
        return {"w": w, "n": int(state["n"]) + Xb.shape[0], "cum_loss": cum}

    def predict(self, X, state):
        return _xb(X) @ state["w"]

    def loss(self, X, y, state):
        return float(np.mean((self.predict(X, state) - y) ** 2))


@register
class MultiClassPA(Learner):
    """Multiclass PA (max-margin multiclass update, Crammer et al. 2006 §8)."""

    name = "MultiClassPA"
    is_classifier = True

    def init_state(self, dim: int, hyper: dict) -> dict:
        k = int(hyper.get("numClasses", 3))
        return {"W": np.zeros((k, dim + 1)), "n": 0, "cum_loss": 0.0}

    def partial_fit(self, X, y, state, hyper):
        C = float(hyper.get("C", 0.01))
        W = state["W"].copy()
        cum = float(state["cum_loss"])
        Xb = _xb(X)
        k = W.shape[0]
        for i in range(Xb.shape[0]):
            x = Xb[i]
            yi = int(y[i])
            scores = W @ x
            scores_wrong = scores.copy()
            scores_wrong[yi] = -np.inf
            r = int(np.argmax(scores_wrong))
            loss = max(0.0, 1.0 - (scores[yi] - scores[r]))
            cum += loss
            if loss > 0.0:
                tau = min(C, loss / (2.0 * float(x @ x)))
                W[yi] += tau * x
                W[r] -= tau * x
        return {"W": W, "n": int(state["n"]) + Xb.shape[0], "cum_loss": cum}

    def predict(self, X, state):
        return np.argmax(_xb(X) @ state["W"].T, axis=1).astype(float)

    def loss(self, X, y, state):
        return float(np.mean(self.predict(X, state) != y))


@register
class SVM(Learner):
    """Pegasos linear SVM (labels {-1, +1})."""

    name = "SVM"
    is_classifier = True

    def init_state(self, dim: int, hyper: dict) -> dict:
        return {"w": np.zeros(dim + 1), "n": 0, "cum_loss": 0.0, "t": 0}

    def partial_fit(self, X, y, state, hyper):
        lam = float(hyper.get("lambda", 1e-4))
        w = state["w"].copy()
        cum = float(state["cum_loss"])
        t = int(state.get("t", 0))
        Xb = _xb(X)
        for i in range(Xb.shape[0]):
            t += 1
            x, yi = Xb[i], y[i]
            eta = 1.0 / (lam * t)
            margin = yi * float(w @ x)
            cum += max(0.0, 1.0 - margin)
            w *= 1.0 - eta * lam
            if margin < 1.0:
                w += eta * yi * x
        return {"w": w, "n": int(state["n"]) + Xb.shape[0], "cum_loss": cum, "t": t}

    def merge(self, states):
        out = super().merge(states)
        out["t"] = max(int(s.get("t", 0)) for s in states)
        return out

    def predict(self, X, state):
        raw = _xb(X) @ state["w"]
        return np.where(raw >= 0.0, 1.0, -1.0)

    def loss(self, X, y, state):
        margins = y * (_xb(X) @ state["w"])
        return float(np.mean(np.maximum(0.0, 1.0 - margins)))
