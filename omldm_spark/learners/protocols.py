"""Training-protocol emulation under micro-batch BSP (SURVEY.md §2.9).

The reference's protocols (MLNodeGenerator.scala:25-64) differ in WHEN
workers and the parameter server exchange models. Under BSP every batch is a
natural sync point, so each protocol becomes a policy over per-round merges.
Synchronous / Asynchronous / CentralizedTraining / SingleLearner merge every
round (async's wall-clock overlap has no BSP equivalent; statistics stay
comparable — documented divergence); the training loop runs that merge
itself (``trainer.merge_round``). ``protocol_round`` is the policy for the
protocols whose workers keep their own models between merges:

* SSP                         merge every ``staleness`` rounds; workers run
                              on their own models in between (bounded
                              staleness, Ho et al. NIPS 2013)
* GM / FGM                    merge only when local drift violates the safe
                              zone (Geometric Monitoring: Sharfman et al.
                              SIGMOD 2006; FGM: Samoladas & Garofalakis,
                              VLDB 2019). GM triggers on max worker drift,
                              FGM on the functional aggregate (mean squared
                              drift) — communication-saving semantics and
                              models-shipped statistics survive BSP.
* EASGD                       every round, elastic coupling toward a center
                              variable (Zhang, Choromanska, LeCun, NIPS
                              2015); the center is the published model.

All policies operate on the flattened parameter vector, so they apply
uniformly to every flat-state learner (PA/RegressorPA/MultiClassPA/SVM/NN).
"""

from __future__ import annotations

import numpy as np

from .base import Learner
from .trainer import _flatten_state, _unflatten_state


def _vec(state: dict) -> np.ndarray:
    return np.asarray(_flatten_state(state), dtype=float)


def _from_vec(template: dict, v: np.ndarray, n: int, cum: float) -> dict:
    st = _unflatten_state(template, v.tolist())
    st["n"], st["cum_loss"] = n, cum
    return st


def protocol_round(
    protocol: str,
    learner: Learner,
    template: dict,
    global_state: dict,
    worker_states: dict[int, dict],
    round_idx: int,
    hyper: dict,
) -> tuple[dict, dict[int, dict], int]:
    """One post-batch exchange for SSP / GM / FGM / EASGD. Returns (global,
    workers, models_shipped); any other protocol raises ValueError."""
    workers = dict(worker_states)
    p = len(workers)
    total_n = sum(int(s["n"]) for s in workers.values())
    total_cum = sum(float(s["cum_loss"]) for s in workers.values())

    def merged() -> dict:
        m = learner.merge(list(workers.values()))
        m["n"], m["cum_loss"] = total_n, total_cum
        return m

    def distribute(g: dict) -> dict[int, dict]:
        """Workers adopt the merged model but KEEP their own fitted counts —
        n is per-worker; summing the global n into every worker would
        multiply the total by p on the next round."""
        out = {}
        for k, s in workers.items():
            w = dict(g)
            w["n"], w["cum_loss"] = int(s["n"]), float(s["cum_loss"])
            out[k] = w
        return out

    if protocol == "SSP":
        staleness = int(hyper.get("staleness", 2))
        if (round_idx + 1) % staleness == 0:
            g = merged()
            return g, distribute(g), p
        g = dict(global_state)
        g["n"], g["cum_loss"] = total_n, total_cum
        return g, workers, 0

    if protocol in ("GM", "FGM"):
        thr = float(hyper.get("drift_threshold", 0.1))
        gv = _vec(global_state)
        # relative drift, but never divide by a near-zero norm (zero-init
        # global would otherwise make every drift look infinite)
        denom = max(float(np.linalg.norm(gv)), 1.0)
        drifts = [
            float(np.linalg.norm(_vec(s) - gv)) / denom
            for s in workers.values()
        ]
        violated = (
            max(drifts) > thr if protocol == "GM"
            else float(np.mean(np.square(drifts))) > thr * thr
        )
        if violated:
            g = merged()
            return g, distribute(g), p
        g = dict(global_state)
        g["n"], g["cum_loss"] = total_n, total_cum
        return g, workers, 0

    if protocol == "EASGD":
        alpha = float(hyper.get("alpha", 0.5))
        center = _vec(global_state)
        new_workers = {}
        acc = np.zeros_like(center)
        for k, s in workers.items():
            wv = _vec(s)
            diff = wv - center
            new_workers[k] = _from_vec(
                template, wv - alpha * diff, int(s["n"]),
                float(s["cum_loss"]),
            )
            acc += diff
        center = center + (alpha / max(p, 1)) * acc
        g = _from_vec(template, center, total_n, total_cum)
        return g, new_workers, p

    raise ValueError(f"unknown protocol {protocol!r}")
