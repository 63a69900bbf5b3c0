"""The blocked distance kernel (operators/blockscan.py) against
brute-force float64 references — pure NumPy, no Spark.  Small integer
coordinates keep every reference distance exact, so ties are real ties
and the kernel's tie rule (lowest id) is checked exactly."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.operators import (
    blockscan as BS,
)

_METRIC = st.sampled_from(["l2", "cosine", "dot"])


def _mat(max_rows=12, dim=3):
    return st.integers(0, max_rows).flatmap(
        lambda n: arrays(np.float64, (n, dim), elements=st.integers(-3, 3))
    )


def _reference(A, B, metric):
    """Pairwise distances the slow way (l2 squared, as the kernel)."""
    if metric == "l2":
        return ((A[:, None, :] - B[None, :, :]) ** 2).sum(-1)
    if metric == "cosine":
        na = np.sqrt((A * A).sum(1))[:, None]
        nb = np.sqrt((B * B).sum(1))[None, :]
        return 1.0 - (A @ B.T) / (na * nb)
    return -(A @ B.T)


def _prep(X, metric):
    return BS.rows(list(X), X.shape[1], unit=metric == "cosine")


def test_rows_guards_null_wrong_dim_and_zero_norm():
    vals = [[3.0, 4.0], None, [1.0], [0.0, 0.0], np.array([0.0, 2.0])]
    X, ok = BS.rows(vals, 2)
    assert ok.tolist() == [True, False, False, True, True]
    assert X.tolist() == [[3.0, 4.0], [0.0, 0.0], [0.0, 2.0]]
    U, ok = BS.rows(vals, 2, unit=True)
    assert ok.tolist() == [True, False, False, False, True]
    assert U.tolist() == [[0.6, 0.8], [0.0, 1.0]]
    # dim=None: the first non-NULL row's length
    _, ok = BS.rows([None, [1.0], [1.0, 2.0]])
    assert ok.tolist() == [False, True, False]
    X, ok = BS.rows([None], 3)
    assert X.shape == (0, 3) and not ok.any()


def test_tiles_cover_every_cell_once_within_budget():
    for n_rows, n_cols, tile in [(0, 5, 4), (7, 0, 4), (7, 5, 4),
                                 (100, 3, 64), (3, 100, 64), (50, 50, 1)]:
        seen = np.zeros((n_rows, n_cols), dtype=int)
        for r0, r1, c0, c1 in BS.tiles(n_rows, n_cols, tile):
            assert (r1 - r0) * (c1 - c0) <= max(tile, 1)
            seen[r0:r1, c0:c1] += 1
        assert (seen == 1).all()


@given(A=_mat(), B=_mat(), metric=_METRIC)
@settings(max_examples=60, deadline=None)
def test_distance_tile_matches_reference(A, B, metric):
    A, ok_a = _prep(A, metric)
    B, ok_b = _prep(B, metric)
    got = BS.distances(A, B, metric)
    assert got.shape == (len(A), len(B))
    if metric == "cosine":  # the unit side drops exactly the zero rows
        assert len(A) == int(ok_a.sum()) and len(B) == int(ok_b.sum())
    np.testing.assert_allclose(got, _reference(A, B, metric), atol=1e-12)


@given(
    A=_mat(max_rows=20), B=_mat(max_rows=4),
    metric=st.sampled_from(["l2", "dot"]),
    k=st.integers(1, 6), tile=st.integers(1, 16),
    splits=st.lists(st.integers(0, 20), max_size=3),
)
@settings(max_examples=80, deadline=None)
def test_topk_matches_brute_force(A, B, metric, k, tile, splits):
    """Running top-k over arbitrary row blocks and tiny tiles equals the
    brute-force (value, id) sort, ties included (integer data ties
    often; l2 and dot are exact on it, so every tie is a true tie)."""
    A, _ = _prep(A, metric)
    B, _ = _prep(B, metric)
    ids = np.arange(len(A))[::-1] * 10  # ids do not follow row order
    top = BS.TopK(k, len(B))
    bounds = sorted({0, len(A), *[min(s, len(A)) for s in splits]})
    for lo, hi in zip(bounds, bounds[1:]):
        top.scan(A[lo:hi], ids[lo:hi], B, metric, tile)
    got: dict = {}
    for j, i, v in top.rows(range(len(B))):
        got.setdefault(j, ([], []))
        got[j][0].append(v)
        got[j][1].append(i)
    ref = _reference(A, B, metric)
    want = {}
    for j in range(len(B) if len(A) else 0):
        order = np.lexsort((ids, ref[:, j]))[:k]
        want[j] = (ref[order, j].tolist(), ids[order].tolist())
    assert got.keys() == want.keys()
    for j in want:
        assert got[j][1] == want[j][1]
        np.testing.assert_allclose(got[j][0], want[j][0], atol=1e-12)


@given(
    A=_mat(max_rows=15), B=_mat(max_rows=15), metric=_METRIC,
    thr=st.sampled_from([0.5, 2.0, 5.0]), tile=st.integers(1, 32),
    mask=st.sampled_from([None, "upper", "odd"]),
)
@settings(max_examples=80, deadline=None)
def test_pairs_match_brute_force(A, B, metric, thr, tile, mask):
    """Threshold pairs over tiny tiles equal the brute-force pair set
    (l2 compared squared, reported as the distance), for no mask, the
    strict upper triangle of a self-join, and a callable mask."""
    A, _ = _prep(A, metric)
    B, _ = _prep(B, metric)
    if mask == "upper":
        B = A
    keep = (lambda i, j: (i + j) % 2 == 1) if mask == "odd" else mask
    i, j, d = BS.pairs(A, B, metric, thr, keep, tile)
    got = dict(zip(zip(i.tolist(), j.tolist()), d.tolist()))
    assert len(got) == len(i)  # no pair twice
    ref = _reference(A, B, metric)
    lim = thr * thr if metric == "l2" else thr
    want = {}
    for a, b in zip(*np.nonzero(ref < lim - 1e-9)):
        if mask == "upper" and b <= a or mask == "odd" and (a + b) % 2 == 0:
            continue
        want[(int(a), int(b))] = (
            float(np.sqrt(ref[a, b])) if metric == "l2" else ref[a, b]
        )
    near = {  # exact-boundary pairs may fall either side of the cut
        (int(a), int(b)) for a, b in zip(*np.nonzero(abs(ref - lim) <= 1e-9))
    }
    assert set(got) - near == set(want)
    for p in want:
        assert abs(got[p] - want[p]) < 1e-6


@given(
    X=_mat(max_rows=20, dim=4),
    C=st.integers(1, 6).flatmap(
        lambda n: arrays(np.float64, (n, 4), elements=st.integers(-3, 3))
    ),
    m=st.integers(1, 4), tile=st.integers(1, 16),
)
@settings(max_examples=80, deadline=None)
def test_nearest_matches_stable_argsort(X, C, m, tile):
    """Centroid ranking equals a stable argsort of the true squared
    distances: nearest first, ties (duplicated centroids included) to
    the lowest id."""
    C = np.concatenate([C, C[:1]])  # a duplicated centroid always ties
    got = BS.nearest(X, C, m, tile)
    ref = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
    want = np.argsort(ref, axis=1, kind="stable")[:, :m]
    assert got.tolist() == want.tolist()
