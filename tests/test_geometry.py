"""Ray-casting PIP kernel vs a scalar reference implementation +
hypothesis property tests. Pure numpy."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geeflow_spark.functions import geometry


def _pip_scalar(x, y, poly):
    """Textbook scalar even-odd crossing test (independent oracle)."""
    xs, ys = poly[0::2], poly[1::2]
    n = len(xs)
    inside = False
    j = n - 1
    for i in range(n):
        if (ys[i] <= y) != (ys[j] <= y):
            x_int = xs[i] + (y - ys[i]) * (xs[j] - xs[i]) / (ys[j] - ys[i])
            if x < x_int:
                inside = not inside
        j = i
    return inside


SQUARE = np.array([0.0, 0, 2, 0, 2, 2, 0, 2])
CONCAVE = np.array([0.0, 0, 4, 0, 4, 4, 2, 2, 0, 4])  # notch at top


def test_square_basic():
    px = np.array([1.0, 3.0, -1.0, 1.999])
    py = np.array([1.0, 1.0, 1.0, 1.999])
    got = geometry.points_in_polygon(px, py, SQUARE)
    assert got.tolist() == [True, False, False, True]


def test_concave():
    px = np.array([2.0, 2.0, 0.5, 3.5])
    py = np.array([1.0, 3.5, 3.0, 3.2])
    got = geometry.points_in_polygon(px, py, CONCAVE)
    # (2,3.5) is inside the notch -> outside polygon
    assert got.tolist() == [True, False, True, True]


@settings(max_examples=200, deadline=None)
@given(st.floats(-5, 5), st.floats(-5, 5))
def test_matches_scalar_reference(x, y):
    for poly in (SQUARE, CONCAVE):
        got = geometry.points_in_polygon(np.array([x]), np.array([y]), poly)
        assert bool(got[0]) == _pip_scalar(x, y, poly)


@settings(max_examples=50, deadline=None)
@given(st.integers(3, 10), st.integers(0, 10_000))
def test_convex_polygon_halfplane_equivalence(k, seed):
    """For convex k-gons, ray casting must agree with the half-plane test."""
    rng = np.random.default_rng(seed)
    angles = np.sort(rng.uniform(0, 2 * np.pi, k))
    if len(np.unique(angles)) < 3:
        return
    cx, cy, r = rng.uniform(-3, 3), rng.uniform(-3, 3), rng.uniform(0.5, 3)
    ring = np.empty(2 * k)
    ring[0::2] = cx + r * np.cos(angles)
    ring[1::2] = cy + r * np.sin(angles)
    px = rng.uniform(cx - 2 * r, cx + 2 * r, 200)
    py = rng.uniform(cy - 2 * r, cy + 2 * r, 200)
    got = geometry.points_in_polygon(px, py, ring)
    # half-plane test (ccw ring): all cross products >= 0 strictly inside
    xs, ys = ring[0::2], ring[1::2]
    x1, y1 = np.roll(xs, -1), np.roll(ys, -1)
    cr = ((x1 - xs)[None, :] * (py[:, None] - ys[None, :]) -
          (y1 - ys)[None, :] * (px[:, None] - xs[None, :]))
    strict_in = (cr > 1e-12).all(axis=1)
    strict_out = (cr < -1e-12).any(axis=1)
    # Only assert away from boundaries (PIP boundary rule is half-open).
    assert np.all(got[strict_in])
    assert not np.any(got & strict_out)


def test_batch_matrix():
    polys = [SQUARE, CONCAVE]
    px = np.array([1.0, 2.0])
    py = np.array([1.0, 3.5])
    m = geometry.points_in_polygon_batch(px, py, polys)
    assert m.shape == (2, 2)
    assert m[0].tolist() == [True, True]
    assert m[1].tolist() == [False, False]
