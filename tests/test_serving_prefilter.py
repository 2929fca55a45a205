"""The serving tier's knn prefilter (``serving._candidates``) against the
full distance fold it stands in front of: over adversarial float inputs,
folding only the candidates must return the same top-k ids and the same
distance bits as folding every row. Pure numpy, no Spark."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from vectordb_spark import serving

METRICS = ("EUCLIDEAN", "DOT_PRODUCT", "COSINE")
# row magnitudes: unit scale, rows so small beside a unit query that
# only the double rounding of the distances orders them, float32
# subnormals, and values whose squares sit far above float32's range
SCALES = (1.0, 1e-3, 1e-16, 1e6, 1e20, 1e-30, 1e-41, 1e-45)
# query magnitudes: the same, plus a double subnormal and values whose
# float32 rounding overflows
Q_SCALES = SCALES + (1e-320, 1e39, 1e300)


def _topk(metric, x, q, idx, k, prefilter: bool):
    """The ``k`` nearest of rows ``idx`` by (folded distance, position),
    as ``serving.query`` ranks a segment."""
    if prefilter:
        idx = serving._candidates(metric, x, serving._norms(x), q, idx, k)
    d = serving.fold_distances(metric, x[idx], q)
    order = np.lexsort((idx, d))[:k]
    return idx[order], d[order]


@st.composite
def knn_cases(draw):
    metric = draw(st.sampled_from(METRICS))
    dim = draw(st.sampled_from([8, 64, 3, 17, 130, 2, 5, 1]))
    n = draw(st.sampled_from([100, 40, 64, 128, 24, 5, 2, 1]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    x = (rng.standard_normal((n, dim)) * draw(st.sampled_from(SCALES))).astype(np.float32)
    if draw(st.booleans()):
        # a few large clusters of exact duplicates
        x = x[rng.integers(max(1, n // 4), size=n)]
    for i in range(1, n):
        kind = rng.integers(10)
        j = int(rng.integers(i))
        if kind == 0:
            x[i] = x[j]
        elif kind == 1:
            # one ulp away from an earlier row, in one element or all
            cols = slice(None) if rng.integers(2) else int(rng.integers(dim))
            x[i] = x[j]
            x[i, cols] = np.nextafter(x[j, cols], np.float32(np.inf))
        elif kind == 2:
            x[i] = 0.0
    if draw(st.booleans()):
        # one row far outside the rest, in either direction
        x[int(rng.integers(n))] *= np.float32(draw(st.sampled_from([1e-30, 1e15])))
    source = draw(st.sampled_from(["row", "random", "ulp", "zero"]))
    if source == "random":
        q = rng.standard_normal(dim) * draw(st.sampled_from(Q_SCALES))
    elif source == "zero":
        q = np.zeros(dim)
    else:
        q = x[int(rng.integers(n))].astype(np.float64)
        if source == "ulp":
            # a query between float32 values: float32(q) is not q
            q = q * (1.0 + 2.0**-30) + rng.standard_normal(dim) * 2.0**-160
    idx = np.arange(n)
    if draw(st.booleans()):
        idx = np.flatnonzero(rng.random(n) < draw(st.sampled_from([0.7, 0.4, 0.9, 0.0])))
    k = draw(st.sampled_from([10, 3, 1, 5, 19, 2, 0]))
    return metric, x, q, idx, k


def _assert_same_topk(metric, x, q, idx, k):
    with np.errstate(all="ignore"):
        want_ids, want_d = _topk(metric, x, q, idx, k, prefilter=False)
        got_ids, got_d = _topk(metric, x, q, idx, k, prefilter=True)
    assert got_ids.tolist() == want_ids.tolist()
    assert got_d.view(np.int64).tolist() == want_d.view(np.int64).tolist()


@settings(max_examples=1000, deadline=None, derandomize=True, database=None)
@given(case=knn_cases())
def test_prefilter_matches_full_fold(case):
    _assert_same_topk(*case)


@settings(max_examples=300, deadline=None, derandomize=True, database=None)
@given(
    metric=st.sampled_from(METRICS),
    dim=st.sampled_from([3, 8, 2, 17]),
    ratio=st.sampled_from([1e-16, 1e-15, 1e-17]),
    seed=st.integers(0, 2**32 - 1),
)
def test_prefilter_where_only_double_rounding_orders_rows(metric, dim, ratio, seed):
    """Rows about ``ratio`` times the size of a unit query: their
    distances differ by a few double ulps, so the fold's own rounding
    decides the order and the bound must cover it."""
    rng = np.random.default_rng(seed)
    x = (rng.standard_normal((100, dim)) * ratio).astype(np.float32)
    _assert_same_topk(metric, x, rng.standard_normal(dim), np.arange(100), 5)


@pytest.mark.parametrize("metric", METRICS)
def test_prefilter_prunes_clustered_rows(metric):
    """On data like the served benchmark's (Gaussian blobs, 64-d) the
    bound is tight enough to leave about ``k`` candidates, filtered or
    not — the prefilter prunes, not merely passes everything through."""
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((32, 64)) * 1.5
    x = (centers[rng.integers(32, size=5000)] + rng.standard_normal((5000, 64))).astype(
        np.float32
    )
    if metric == "COSINE":
        x /= np.linalg.norm(x, axis=1, keepdims=True)
    norms = serving._norms(x)
    q = centers[5] + rng.standard_normal(64)
    if metric == "COSINE":
        q /= np.linalg.norm(q)
    for idx in (np.arange(len(x)), np.flatnonzero(rng.random(len(x)) < 0.3)):
        cand = serving._candidates(metric, x, norms, q, idx, 10)
        assert 10 <= len(cand) <= 12
        assert np.isin(cand, idx).all()


def test_non_finite_rows_have_no_norms():
    """A non-finite element leaves the field without norms, which sends
    every knn over that segment through the full fold."""
    x = np.ones((4, 3), np.float32)
    assert serving._norms(x) is not None
    for bad in (np.inf, -np.inf, np.nan):
        y = x.copy()
        y[2, 1] = bad
        assert serving._norms(y) is None
        idx = np.arange(4)
        assert serving._candidates("EUCLIDEAN", y, None, np.zeros(3), idx, 1) is idx


def test_norms_bound_the_row_norms():
    """ν ≥ ‖x‖ exactly (compared in rationals), for rows whose squares
    round when summed."""
    from fractions import Fraction

    rng = np.random.default_rng(9)
    x = (rng.standard_normal((300, 7)) * np.float32(1.1)).astype(np.float32)
    x[:50] *= np.float32(1e-42)
    nu = serving._norms(x)
    for row, bound in zip(x, nu):
        exact = sum(Fraction(float(v)) ** 2 for v in row)
        assert Fraction(float(bound)) ** 2 >= exact
