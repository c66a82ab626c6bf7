"""numpy oracles for every result the benchmark checks (FIXTURES.md rules).

Flat search: exact FP64 brute force; the top-1 label must match (an exact
distance tie may swap labels), and distances must agree rank by rank
within a relative tolerance of 1e-3 (fp32 storage) or 5e-2 (fp16).
"""

from __future__ import annotations

import copy

import numpy as np

TOL = {"fp32": 1e-3, "fp16": 5e-2}


class FlatOracle:
    """Exact L2 top-k over a fixed base matrix.

    ``stored`` is what the store holds (fp16-rounded for fp16 storage);
    norms come from the unquantized input, as the engine computes them.
    Candidates are screened with one fp32 GEMM and the ``k + 32`` best are
    re-scored exactly in fp64, so the oracle stays cheap at 100k x 768.
    """

    SCREEN = 32

    def __init__(self, V: np.ndarray, stored: np.ndarray | None = None):
        self.V = np.ascontiguousarray(V if stored is None else stored, dtype=np.float32)
        self.norms = (V.astype(np.float64) ** 2).sum(1)

    def prefix(self, n: int) -> "FlatOracle":
        """Oracle over the first ``n`` stored rows only."""
        o = copy.copy(self)
        o.V, o.norms = self.V[:n], self.norms[:n]
        return o

    def of(self, Q: np.ndarray, labels: np.ndarray) -> np.ndarray:
        """Exact distance from each query to one stored row per query."""
        Qd = Q.astype(np.float64)
        Vl = self.V[labels].astype(np.float64)
        return (Qd * Qd).sum(1) + self.norms[labels] - 2.0 * (Qd * Vl).sum(1)

    def topk(self, Q: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
        Q = np.asarray(Q, np.float32)
        screen = self.norms[None, :].astype(np.float32) - 2.0 * (Q @ self.V.T)
        c = min(k + self.SCREEN, len(self.V))
        cand = np.argpartition(screen, c - 1, axis=1)[:, :c]
        D = np.stack([self.of(np.repeat(Q[i : i + 1], c, 0), cand[i]) for i in range(len(Q))])
        order = D.argsort(1, kind="stable")[:, :k]
        return np.take_along_axis(D, order, 1), np.take_along_axis(cand, order, 1)


def check_flat(oracle: FlatOracle, Q, D, L, D_ref, L_ref, tol: float) -> bool:
    """FIXTURES.md flat rule: top-1 label exact, distances within ``tol``
    relative at every rank. A different top-1 label passes only when its
    exact distance ties the true top-1 distance."""
    D, L = np.asarray(D, np.float64), np.asarray(L)
    if D.shape != D_ref.shape or L.shape != L_ref.shape:
        return False
    if ((L < 0) | (L >= len(oracle.V))).any():
        return False
    top1_ok = (L[:, 0] == L_ref[:, 0]) | np.isclose(
        oracle.of(Q, L[:, 0]), D_ref[:, 0], rtol=1e-5, atol=0
    )
    dist_ok = np.abs(D - D_ref) <= tol * np.maximum(np.abs(D_ref), 1.0)
    return bool(top1_ok.all() and dist_ok.all())


def recall_at_k(L, L_ref) -> float:
    """Mean share of the exact top-k labels the engine returned."""
    L, L_ref = np.asarray(L), np.asarray(L_ref)
    hits = sum(len(set(a.tolist()) & set(b.tolist())) for a, b in zip(L, L_ref))
    return hits / L_ref.size


def quality_np(text: str) -> float:
    """numpy mirror of ``functions.text.quality_score``."""
    toks = text.split(" ")
    n = len(toks)
    return (0.4 * len(set(toks)) / n + 0.3 * min(n / 64.0, 1.0)
            + 0.3 * min(sum(map(len, toks)) / n / 8.0, 1.0))
