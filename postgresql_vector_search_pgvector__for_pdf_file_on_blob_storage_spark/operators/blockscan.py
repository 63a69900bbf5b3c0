"""The one blocked distance kernel behind every NumPy scoring site in
``operators/`` and ``streaming/``: each site keeps its Spark boundary
(``mapInPandas``, ``applyInPandas`` or ``pandas_udf``), output schema and
guards, and fuses distance straight into one reducer here (*FuseME*,
SIGMOD 2022): :class:`TopK` (running top-k by ``(value, id)``, the
per-partition half of *REPOSE*'s top-k + global merge), :func:`pairs`
(threshold pairs under a caller mask) or :func:`nearest` (centroid
ranking).

Numerics: ``l2`` is the squared expansion ``|a|^2 - 2 a.b + |b|^2``
clipped at 0 (callers take the sqrt on survivors); ``cosine`` is
``1 - a.b`` over rows normalized once per side; ``dot`` is ``-(a.b)``;
centroid ranking drops the per-row term: ``|c|^2 - 2 x.c``.  A NULL or
wrong-dimension row has no distance, nor has a zero-norm row under
cosine: :func:`rows` drops them.  A distance tile holds at most ``TILE``
float64 values; Spark adapters read ``TILE`` when they build the plan.
"""

from __future__ import annotations

import math

import numpy as np

__all__ = ["TILE", "TopK", "distances", "nearest", "pairs", "rows", "tiles"]

TILE = 1 << 22  # float64 values per distance tile (32 MB)


def rows(values, dim: int | None = None, unit: bool = False):
    """``(X, ok)``: the rows of a vector column (arrays or ``None``) that
    are non-NULL with ``dim`` elements (``None``: the first non-NULL
    row's length) as a float64 matrix, and the mask of which rows they
    are.  ``unit=True`` (cosine) also drops zero-norm rows and
    normalizes the rest."""
    if dim is None:
        dim = next((len(v) for v in values if v is not None), 0)
    ok = np.array([v is not None and len(v) == dim for v in values], bool)
    if not ok.any():
        return np.empty((0, dim)), ok
    X = np.stack([v for v, keep in zip(values, ok) if keep])
    X = X.astype(np.float64, copy=False)
    if unit:
        norms = np.sqrt((X * X).sum(1))
        ok[ok] = nz = norms > 0.0
        X = X[nz] / norms[nz, None]
    return X, ok


def distances(A: np.ndarray, B: np.ndarray, metric: str) -> np.ndarray:
    """The ``len(A) x len(B)`` tile between prepared rows (l2 squared)."""
    G = A @ B.T
    if metric == "l2":
        D = (A * A).sum(1)[:, None] - 2.0 * G + (B * B).sum(1)[None, :]
        return np.maximum(D, 0.0, out=D)
    if metric == "cosine":
        return 1.0 - G
    if metric == "dot":
        return -G
    raise ValueError(f"metric must be one of l2|cosine|dot, got {metric!r}")


def tiles(n_rows: int, n_cols: int, tile: int = TILE):
    """``(r0, r1, c0, c1)`` blocks of at most ``tile`` values: whole rows
    while they fit, square-ish (BLAS-friendly) blocks beyond."""
    if not n_rows or not n_cols:
        return
    cols = min(n_cols, max(math.isqrt(tile), tile // n_rows))
    step = max(1, tile // cols)
    for r0 in range(0, n_rows, step):
        for c0 in range(0, n_cols, cols):
            yield r0, min(r0 + step, n_rows), c0, min(c0 + cols, n_cols)


class TopK:
    """Running top-``k`` by ``(value, id)`` for each of ``n`` columns
    (probes) over value tiles whose rows are candidates.  Exact at every
    step — ``(value, id)`` is a total order, so ties keep the lowest ids
    whatever order the blocks arrive in."""

    def __init__(self, k: int, n: int):
        self.k = k
        self.vals: list = [None] * n
        self.ids: list = [None] * n

    def push(self, D: np.ndarray, ids: np.ndarray, cols) -> None:
        """Merge tile ``D``: row ``r`` is candidate ``ids[r]``, column
        ``c`` feeds running column ``cols[c]``.  A partition cut keeps
        every tie of the kth value; the survivors are sorted exactly."""
        k, keep = self.k, None
        if D.shape[0] > k:
            keep = D <= np.partition(D, k - 1, axis=0)[k - 1][None, :]
        for c, j in enumerate(cols):
            sel = slice(None) if keep is None else keep[:, c]
            v, i = D[sel, c], ids[sel]
            if self.vals[j] is not None:
                v = np.concatenate([self.vals[j], v])
                i = np.concatenate([self.ids[j], i])
            if len(v) > k:
                sel = v <= np.partition(v, k - 1)[k - 1]
                v, i = v[sel], i[sel]
            order = np.lexsort((i, v))[:k]
            self.vals[j], self.ids[j] = v[order], i[order]

    def scan(self, A, ids, B, metric: str, tile: int = TILE) -> None:
        """Score candidate rows ``A`` against the columns' vectors ``B``."""
        for r0, r1, c0, c1 in tiles(len(A), len(B), tile):
            D = distances(A[r0:r1], B[c0:c1], metric)
            self.push(D, ids[r0:r1], range(c0, c1))

    def rows(self, labels) -> list:
        """``(labels[column], id, value)`` per kept candidate, values
        ascending within a column; columns never fed are absent."""
        return [
            (labels[j], i, x)
            for j, (v, ids) in enumerate(zip(self.vals, self.ids))
            if v is not None
            for x, i in zip(v.tolist(), ids.tolist())
        ]


def pairs(A, B, metric: str, threshold: float, keep=None, tile: int = TILE):
    """``(i, j, dist)`` arrays of every row pair closer than ``threshold``
    (l2 compared squared, sqrt on survivors).  ``keep="upper"``: the
    strict upper triangle of a self-join (``A is B``), tiles below the
    diagonal skipped; a callable ``keep(i, j)`` masks pairs by index."""
    lim = threshold * threshold if metric == "l2" else threshold
    out = [(np.empty(0, np.int64),) * 2 + (np.empty(0),)]
    for r0, r1, c0, c1 in tiles(len(A), len(B), tile):
        if keep == "upper" and c1 <= r0 + 1:
            continue
        D = distances(A[r0:r1], B[c0:c1], metric)
        bi, bj = np.nonzero(D < lim)
        i, j, d = bi + r0, bj + c0, D[bi, bj]
        if keep is not None:
            m = j > i if keep == "upper" else keep(i, j)
            i, j, d = i[m], j[m], d[m]
        out.append((i, j, np.sqrt(d) if metric == "l2" else d))
    return tuple(np.concatenate(a) for a in zip(*out))


def nearest(X, C, m: int = 1, tile: int = TILE) -> np.ndarray:
    """``(len(X), m)`` ids of each row's ``m`` nearest centroids by
    squared L2, nearest first, ties to the lowest id."""
    c_sq = (C * C).sum(1)
    out = np.empty((len(X), min(m, len(C))), dtype=np.int64)
    step = max(1, tile // max(len(C), 1))
    for r0 in range(0, len(X), step):
        d = c_sq[None, :] - 2.0 * (X[r0 : r0 + step] @ C.T)
        out[r0 : r0 + step] = (
            d.argmin(1)[:, None] if m == 1
            else np.argsort(d, axis=1, kind="stable")[:, :m]
        )
    return out
