"""NumPy oracle for every operation the benchmark runs.

The engine scores in float64 with left-to-right folds and rounds with
HALF_UP. This module repeats that arithmetic exactly:

- ``seq_dot`` adds the products one dimension at a time, so a score is
  the same double the engine computes;
- probe sets replay the engine's coarse rule: cosine to each centroid,
  rounded to 6 dp, ordered by score desc then cluster desc;
- a top-k is the best ``k`` rows inside the probe set, ordered by
  rounded score desc then id desc.

A returned row set is accepted when it has the right length, no
duplicate ids, ids from the probe set, each score within ``TOL`` of
that id's oracle score, and the score sequence within ``TOL`` of the
oracle's top-k. Tied rows are compared by score, so any of several
tied ids is accepted.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np

EPS = 1e-8  # the engine's cosine denominator guard
SCORE_DP = 6
CENTROID_DP = 8
TOL = 1e-6


def round_half_up(values, dp: int) -> np.ndarray:
    """HALF_UP rounding of doubles through their shortest decimal form,
    the way Spark's ``round`` goes through ``BigDecimal``."""
    quantum = Decimal(1).scaleb(-dp)
    return np.array(
        [float(Decimal(repr(float(v))).quantize(quantum, rounding=ROUND_HALF_UP)) for v in values],
        dtype=np.float64,
    )


def seq_dot(rows: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row-wise dot products summed one dimension at a time, left to
    right, as the engine's ``aggregate(zip_with(...))`` fold does."""
    cols = np.asfortranarray(rows, dtype=np.float64)
    acc = np.zeros(cols.shape[0])
    for j in range(cols.shape[1]):
        acc += cols[:, j] * q[j]
    return acc


def seq_norms(rows: np.ndarray) -> np.ndarray:
    cols = np.asfortranarray(rows, dtype=np.float64)
    acc = np.zeros(cols.shape[0])
    for j in range(cols.shape[1]):
        acc += cols[:, j] * cols[:, j]
    return np.sqrt(acc)


def cosine(rows: np.ndarray, row_norms: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Unrounded engine cosine of every row against ``q``."""
    q = np.asarray(q, dtype=np.float64)
    qnorm = np.sqrt(seq_dot(q[None, :], q)[0])
    return seq_dot(rows, q) / (row_norms * qnorm + EPS)


def top_k(ids: np.ndarray, raw: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """The ``k`` best ``(id, rounded score)`` rows, score desc then id desc.

    Only rows within 2e-6 of the k-th raw score can round into the top
    k (rounding moves a value by at most 5e-7 and never reorders two
    values), so only those go through the slow decimal rounding.
    """
    if len(raw) == 0:
        return ids[:0], raw[:0]
    kth = np.partition(raw, max(len(raw) - k, 0))[max(len(raw) - k, 0)]
    near = np.nonzero(raw >= kth - 2e-6)[0]
    rounded = round_half_up(raw[near], SCORE_DP)
    order = np.lexsort((-ids[near], -rounded))[:k]
    return ids[near][order], rounded[order]


def label_centroids(vectors: np.ndarray, labels: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-label means rounded to 8 dp: the centroid state
    ``multi_query_knn_ivf`` derives from the corpus's ``label`` column."""
    uniq, inv = np.unique(labels, return_inverse=True)
    sums = np.zeros((len(uniq), vectors.shape[1]))
    np.add.at(sums, inv, vectors.astype(np.float64))
    means = sums / np.bincount(inv)[:, None]
    return uniq, round_half_up(means.reshape(-1), CENTROID_DP).reshape(means.shape)


class ProbeIndex:
    """Centroids plus the live rows of each cluster: enough to replay a
    probe set and the exact top-k inside it."""

    def __init__(self, cluster_ids, centroids, vec_ids, vectors, clusters):
        self.cluster_ids = np.asarray(cluster_ids)
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.centroid_norms = seq_norms(self.centroids)
        self.vec_ids = np.asarray(vec_ids, dtype=np.int64)
        self.vectors = np.asarray(vectors, dtype=np.float32)
        self.norms = seq_norms(self.vectors)
        self.clusters = np.asarray(clusters)

    def probes(self, q: np.ndarray, n_probe: int) -> np.ndarray:
        scores = round_half_up(cosine(self.centroids, self.centroid_norms, q), SCORE_DP)
        order = np.lexsort((-self.cluster_ids, -scores))[:n_probe]
        return self.cluster_ids[order]

    def candidates(self, q: np.ndarray, n_probe: int) -> np.ndarray:
        """Row positions inside the probe set of ``q``."""
        return np.nonzero(np.isin(self.clusters, self.probes(q, n_probe)))[0]

    def expected(self, q: np.ndarray, n_probe: int, k: int):
        """``(candidate ids, their raw scores, top-k ids, top-k scores)``."""
        pos = self.candidates(q, n_probe)
        raw = cosine(self.vectors[pos], self.norms[pos], q)
        ids = self.vec_ids[pos]
        return (ids, raw) + top_k(ids, raw, k)

    def exact(self, q: np.ndarray, k: int) -> np.ndarray:
        """Ids of the exact top-k over every live row (for recall)."""
        raw = self.vectors.astype(np.float64) @ np.asarray(q, dtype=np.float64)
        raw /= self.norms * np.linalg.norm(q) + EPS
        return top_k(self.vec_ids, raw, k)[0]


def check_topk(got, expected, k: int, keep=None) -> str | None:
    """Why ``got`` (``(vec_id, score)`` pairs) is not a valid top-k, or
    ``None`` when it is. ``expected`` is ``ProbeIndex.expected``'s
    result; ``keep`` optionally filters ids (rows a join may drop)."""
    cand_ids, cand_raw, top_ids, top_scores = expected
    if keep is not None:
        mask = keep(top_ids)
        top_ids, top_scores = top_ids[mask], top_scores[mask]
    got = sorted(((int(i), float(s)) for i, s in got), key=lambda r: (-r[1], -r[0]))
    if len(got) != len(top_ids):
        return f"{len(got)} rows, expected {len(top_ids)}"
    ids = [i for i, _ in got]
    if len(set(ids)) != len(ids):
        return f"duplicate ids {ids}"
    where = {int(i): n for n, i in enumerate(cand_ids)}
    for (vid, score), want in zip(got, top_scores):
        if vid not in where:
            return f"id {vid} is outside the probe set"
        own = round_half_up([cand_raw[where[vid]]], SCORE_DP)[0]
        if abs(own - score) > TOL:
            return f"id {vid} scored {score}, oracle {own}"
        if abs(want - score) > TOL:
            return f"score {score} where the oracle's top-{k} has {want}"
    return None


def recall(got_ids, exact_ids) -> float:
    return len(set(int(i) for i in got_ids) & set(int(i) for i in exact_ids)) / max(len(exact_ids), 1)
