"""Correctness checks run inside every benchmark run.

A wrong answer is a failed operation: it is counted against the attempted
operations exactly like an exception.
"""

from __future__ import annotations

import threading

import numpy as np


class Tally:
    """Attempted and failed operations, safe to share between threads."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, what: str, problem: str | None) -> bool:
        """Count one operation; ``problem`` is None when it was right."""
        with self._lock:
            self.attempted += 1
            if problem is not None:
                self.failed += 1
                if len(self.failures) < 50:
                    self.failures.append(f"{what}: {problem}")
        return problem is None


def signature(rows) -> tuple:
    """Every column of every result row, in order: what 'identical answer'
    means for a repeated request."""
    return tuple(tuple(r) for r in rows)


class AnswerBook:
    """First answer seen for each request; later answers must equal it,
    whichever thread asked."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._first: dict = {}

    def check(self, key, sig: tuple) -> str | None:
        with self._lock:
            first = self._first.setdefault(key, sig)
        if first != sig:
            return f"answer differs from the first answer to the same request ({len(sig)} vs {len(first)} rows)"
        return None


def cosine_scores(ids: list[str], vecs: np.ndarray, query: np.ndarray) -> dict[str, float]:
    """Exact cosine similarity of every candidate, by numpy: the reference
    the brute-force path is judged against."""
    if not ids:
        return {}
    m = vecs.astype(np.float64)
    q = query.astype(np.float64)
    sims = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    return dict(zip(ids, sims.tolist()))


def check_topk(got: list[tuple[str, float]], truth: dict[str, float], k: int, tol: float = 1e-6) -> str | None:
    """``got`` must hold min(k, candidates) hits in descending score order,
    each a candidate reported with its true score and reaching the k-th
    best true score (within ``tol``, so the order of exact ties does not
    matter)."""
    want = min(k, len(truth))
    if len(got) != want:
        return f"{len(got)} hits, expected {want}"
    if not want:
        return None
    kth = sorted(truth.values(), reverse=True)[want - 1]
    if len({doc for doc, _ in got}) != len(got):
        return "an id is returned twice"
    for doc, score in got:
        if doc not in truth:
            return f"id {doc} is not a candidate (filtered out or absent)"
        if abs(truth[doc] - score) > tol:
            return f"id {doc} scored {score:.9f}, numpy says {truth[doc]:.9f}"
        if truth[doc] < kth - tol:
            return f"id {doc} (score {truth[doc]:.6f}) is below the k-th best {kth:.6f}"
    scores = [s for _, s in got]
    if any(a < b - tol for a, b in zip(scores, scores[1:])):
        return "hits are not in descending score order"
    return None


def check_membership(got_ids: list[str], doc: str, present: bool) -> str | None:
    """Read-after-write: ``doc`` must (not) be among the hits."""
    if (doc in got_ids) != present:
        return f"id {doc} {'missing from' if present else 'still in'} the results"
    return None
