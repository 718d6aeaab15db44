"""K-means — online/mini-batch clustering (SURVEY.md §2.9).

The reference forces K-means onto the SingleLearner protocol (one central
learner; src/main/scala/omldm/operators/spoke/FlinkSpoke.scala:207-209). In
Spark we keep the same semantic option (train on one partition) but default
to the mini-batch variant (Sculley, "Web-Scale K-Means Clustering", WWW 2010)
with per-centroid count-weighted DELTA merges, which parallelizes: each
partition updates a local copy from the broadcast centroids; the merge
combines prior + count-weighted per-partition deltas, so the broadcast prior
mass is counted exactly once no matter how many partitions ran (r2 ADVICE
fix — summing full per-partition counts inflated the prior ~P× per round and
froze centroids). Deterministic seeding: the first k points a model
trains on, in its pass order (``order_cols``; the training loop's id
order). A pass the trainer feeds as several Arrow batches seeds as one
call would: each call resumes at the first unseeded slot.
"""

from __future__ import annotations

import numpy as np

from .base import Learner, register


def kmeans_parallel_init(
    X: np.ndarray, k: int, seed: int = 0, rounds: int = 3, l: int | None = None
) -> np.ndarray:
    """K-means|| seeding (Bahmani et al., "Scalable K-Means++", VLDB 2012),
    fully deterministic via a seeded generator: ``rounds`` oversampling
    passes picking each point with probability min(1, l*d²/φ), then the
    candidates are weighted by attributed-cluster size and reduced to k
    with weighted k-means++ plus a few weighted Lloyd steps.

    Runs driver-side over a bounded sample (the IVF quantizer caps it at
    1024 rows regardless of SF) — the distributed analogue would compute
    d² per partition and only ship the O(l·rounds) candidates.
    """
    n = X.shape[0]
    k = min(k, n)
    if l is None:
        l = 2 * k
    rng = np.random.default_rng(seed)
    C = X[:1].copy()
    for _ in range(rounds):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).min(axis=1)
        phi = float(d2.sum())
        if phi <= 0:
            break
        p = np.minimum(1.0, l * d2 / phi)
        picks = rng.random(n) < p
        if picks.any():
            C = np.vstack([C, X[picks]])
    # weight candidates by the mass they attract
    a = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    w = np.bincount(a, minlength=C.shape[0]).astype(float)
    # weighted k-means++ down to k
    centers = [C[int(np.argmax(w))]]
    for _ in range(k - 1):
        d2 = ((C[:, None, :] - np.asarray(centers)[None, :, :]) ** 2).sum(
            axis=2
        ).min(axis=1)
        score = w * d2
        tot = float(score.sum())
        if tot <= 0:
            # all mass covered: pad with the heaviest unused candidates
            used = {tuple(c) for c in centers}
            for cand in C[np.argsort(-w)]:
                if tuple(cand) not in used:
                    centers.append(cand)
                    used.add(tuple(cand))
                    if len(centers) == k:
                        break
            break
        centers.append(C[int(rng.choice(len(C), p=score / tot))])
    centers = np.asarray(centers, dtype=float)
    if centers.shape[0] < k:  # degenerate duplicates: pad from X
        extra = X[: k - centers.shape[0]]
        centers = np.vstack([centers, extra])
    # weighted Lloyd refinement over the candidate set
    for _ in range(5):
        a = ((C[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        for j in range(k):
            m = a == j
            if w[m].sum() > 0:
                centers[j] = (w[m, None] * C[m]).sum(axis=0) / w[m].sum()
    return centers


@register
class KMeans(Learner):
    name = "K-means"
    is_classifier = True  # predict returns a centroid index

    def init_state(self, dim: int, hyper: dict) -> dict:
        k = int(hyper.get("k", 4))
        return {
            "centroids": np.zeros((k, dim)),
            "counts": np.zeros(k),
            # per-pass delta bookkeeping (reset by begin_pass):
            "prior_centroids": np.zeros((k, dim)),
            "d_counts": np.zeros(k),
            "initialized": 0.0,
            "n": 0,
            "cum_loss": 0.0,
        }

    def begin_pass(self, state: dict) -> dict:
        """Snapshot the broadcast prior and zero the assignment deltas —
        merge() reconstructs prior + count-weighted deltas from these."""
        state = dict(state)
        state["prior_centroids"] = np.asarray(state["centroids"]).copy()
        state["d_counts"] = np.zeros_like(np.asarray(state["counts"]))
        return state

    def partial_fit(self, X, y, state, hyper):
        cents = state["centroids"].copy()
        counts = state["counts"].copy()
        d_counts = np.asarray(state["d_counts"]).copy()
        init = bool(state["initialized"])
        cum = float(state["cum_loss"])
        k = cents.shape[0]
        start = 0
        if not init:
            ic = hyper.get("init_centroids")
            if ic is not None:
                # externally seeded (e.g. kmeans_parallel_init): all k
                # centroids land at once with unit prior mass
                cents = np.asarray(ic, dtype=float).copy()
                counts = np.ones(k)
                init = True
            else:
                # seeding resumes at the first unseeded slot, so a pass
                # cut into several calls seeds as one call does
                at = int(np.count_nonzero(counts))
                take = min(k - at, X.shape[0])
                cents[at:at + take] = X[:take]
                counts[at:at + take] = 1.0
                d_counts[at:at + take] += 1.0
                start = take
                init = at + take >= k
        for i in range(start, X.shape[0]):
            x = X[i]
            d2 = np.sum((cents - x) ** 2, axis=1)
            c = int(np.argmin(d2))
            cum += float(d2[c])
            counts[c] += 1.0
            d_counts[c] += 1.0
            eta = 1.0 / counts[c]
            cents[c] = (1.0 - eta) * cents[c] + eta * x
        return {
            "centroids": cents,
            "counts": counts,
            "prior_centroids": state["prior_centroids"],
            "d_counts": d_counts,
            "initialized": 1.0 if init else 0.0,
            "n": int(state["n"]) + X.shape[0],
            "cum_loss": cum,
        }

    def merge(self, states):
        """prior + count-weighted delta combine: every partition started
        from the SAME broadcast prior, so the merged centroid is
        prior_c + Σ_p d_p,c·(cent_p,c − prior_c) / Σ_p d_p,c and the merged
        count is prior_count_c + Σ_p d_p,c — prior mass enters exactly once."""
        k, dim = np.asarray(states[0]["centroids"]).shape
        prior_c = np.asarray(states[0]["prior_centroids"], dtype=float)
        # prior counts = full counts minus this pass's assignments (identical
        # across partitions; use the first state's view)
        prior_n = np.asarray(states[0]["counts"], dtype=float) - np.asarray(
            states[0]["d_counts"], dtype=float
        )
        d_num = np.zeros((k, dim))
        d_den = np.zeros(k)
        for s in states:
            d = np.asarray(s["d_counts"], dtype=float)
            d_num += d[:, None] * (np.asarray(s["centroids"], dtype=float) - prior_c)
            d_den += d
        delta = np.where(d_den[:, None] > 0, d_num / np.maximum(d_den, 1.0)[:, None], 0.0)
        return {
            "centroids": prior_c + delta,
            "counts": prior_n + d_den,
            "prior_centroids": prior_c,
            "d_counts": d_den,
            "initialized": max(float(s["initialized"]) for s in states),
            "n": sum(int(s["n"]) for s in states),
            "cum_loss": sum(float(s["cum_loss"]) for s in states),
        }

    def predict(self, X, state):
        cents = state["centroids"]
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        return np.argmin(d2, axis=1).astype(float)

    def loss(self, X, y, state):
        cents = state["centroids"]
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        return float(np.mean(np.min(d2, axis=1)))
