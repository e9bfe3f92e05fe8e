"""Edge-case semantics of the float32 PIP kernel (SURVEY.md §1.3) and
scalar-oracle vs vectorized-kernel agreement."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tzspark.geom import (
    F32,
    contains_batch,
    contains_scalar,
    ragged_parity,
    ring_edges,
    contains_batch_edges,
)

# axis-aligned unit square [10,20] x [30,40] (all coords f32-exact)
SQ_LAT = np.array([10, 10, 20, 20], dtype=F32)
SQ_LNG = np.array([30, 40, 40, 30], dtype=F32)


@pytest.mark.parametrize(
    "lat,lng,expected,case",
    [
        (15.0, 35.0, True, "interior"),
        (15.0, 30.0, True, "west_edge_inside"),
        (10.0, 35.0, True, "south_edge_inside"),
        (15.0, 40.0, False, "east_edge_outside"),
        (20.0, 35.0, False, "north_edge_outside"),
        (10.0, 30.0, True, "sw_vertex_inside"),
        (20.0, 40.0, False, "ne_vertex_outside"),
        (10.0, 40.0, False, "se_vertex_outside"),
        (20.0, 30.0, False, "nw_vertex_outside"),
        (9.9999999, 35.0, True, "just_south_f32_rounds_to_edge"),
        (25.0, 35.0, False, "north_outside"),
        (5.0, 35.0, False, "south_outside"),
    ],
)
def test_square_half_open_semantics(lat, lng, expected, case):
    assert contains_scalar(SQ_LAT, SQ_LNG, lat, lng) is expected, case
    got = contains_batch(SQ_LAT, SQ_LNG, np.array([lat], F32), np.array([lng], F32))
    assert bool(got[0]) is expected, case


def test_degenerate_ring_never_matches():
    lat2 = np.array([0, 1], dtype=F32)
    lng2 = np.array([0, 1], dtype=F32)
    assert contains_scalar(lat2, lng2, 0.5, 0.5) is False
    assert not contains_batch(lat2, lng2, np.array([0.5], F32), np.array([0.5], F32))[0]


def test_unclosed_ring_closing_edge_implicit():
    # triangle given open; closing edge v[-1]->v[0] must be applied
    tl = np.array([0, 0, 10], dtype=F32)
    tg = np.array([0, 10, 10], dtype=F32)
    assert contains_scalar(tl, tg, 2.0, 5.0)  # inside triangle
    assert not contains_scalar(tl, tg, 8.0, 2.0)  # other side of hypotenuse


def test_float32_truncation():
    # 37.7749 is not f32-representable; kernel must see 37.774898529052734
    assert float(F32(37.7749)) == 37.774898529052734
    sq_lat = np.array([37.774898529052734, 37.774898529052734, 38, 38], F32)
    sq_lng = np.array([0, 1, 1, 0], F32)
    # point exactly at the truncated south edge -> inside (south edge in)
    assert contains_scalar(sq_lat, sq_lng, 37.7749, 0.5) is True


def test_concatenated_hole_parity():
    # outer [0,10]^2 + hole [4,6]^2 concatenated: even-odd reads hole as out
    lat = np.array([0, 0, 10, 10, 4, 4, 6, 6], F32)
    lng = np.array([0, 10, 10, 0, 4, 6, 6, 4], F32)
    assert contains_scalar(lat, lng, 5.0, 5.0) is False  # in hole
    assert contains_scalar(lat, lng, 2.0, 2.0) is True  # in rim


@settings(max_examples=300, deadline=None)
@given(
    lat=st.floats(-90, 90, width=32),
    lng=st.floats(-180, 180, width=32),
    verts=st.lists(
        st.tuples(st.floats(-89, 89, width=32), st.floats(-179, 179, width=32)),
        min_size=3,
        max_size=12,
    ),
)
def test_batch_matches_scalar_oracle(lat, lng, verts):
    ring_lat = np.array([v[0] for v in verts], F32)
    ring_lng = np.array([v[1] for v in verts], F32)
    want = contains_scalar(ring_lat, ring_lng, lat, lng)
    got = contains_batch(ring_lat, ring_lng, np.array([lat], F32), np.array([lng], F32))
    assert bool(got[0]) == want


def test_edge_subset_parity_invariance():
    # dropping edges that cannot cross any +lat ray from a region keeps parity
    rng = np.random.default_rng(42)
    ring_lat = rng.uniform(0, 30, 50).astype(F32)
    ring_lng = rng.uniform(0, 30, 50).astype(F32)
    a_lat, a_lng, b_lat, b_lng = ring_edges(ring_lat, ring_lng)
    p_lat = rng.uniform(10, 12, 200).astype(F32)
    p_lng = rng.uniform(10, 12, 200).astype(F32)
    full = contains_batch_edges(a_lat, a_lng, b_lat, b_lng, p_lat, p_lng)
    keep = (
        (np.minimum(a_lng, b_lng) <= 12)
        & (np.maximum(a_lng, b_lng) >= 10)
        & (np.maximum(a_lat, b_lat) >= 10)
    )
    sub = contains_batch_edges(
        a_lat[keep], a_lng[keep], b_lat[keep], b_lng[keep], p_lat, p_lng
    )
    np.testing.assert_array_equal(full, sub)


# integer coords make points land on vertices/edges and edges go vertical or
# horizontal (zero-length lng spans: the kernel's divide-by-zero rows)
_COORD = st.one_of(st.integers(-4, 4).map(float), st.floats(-10, 10, width=32))
_RUN = st.tuples(
    st.lists(st.tuples(_COORD, _COORD), max_size=9),  # ring: 0..9 edges
    st.tuples(_COORD, _COORD),  # the run's point
)
_EMPTY_RUN = ([], (0.0, 0.0))


def _ragged_vs_dense(runs):
    """(ragged_parity over all runs, the dense kernel run by run)."""
    edges, counts, dense = [], [], []
    for verts, (plat, plng) in runs:
        e = ring_edges(
            np.array([v[0] for v in verts], F32), np.array([v[1] for v in verts], F32)
        )
        edges.append(e)
        counts.append(len(verts))
        dense.append(bool(contains_batch_edges(
            *e, np.array([plat], F32), np.array([plng], F32)
        )[0]))
    cols = [np.concatenate([np.empty(0, F32)] + [e[k] for e in edges]) for k in range(4)]
    got = ragged_parity(
        np.array([r[1][0] for r in runs], F32), np.array([r[1][1] for r in runs], F32),
        *cols, np.array(counts, np.int64),
    )
    return got.tolist(), dense


@settings(max_examples=300, deadline=None)
@given(runs=st.lists(_RUN, min_size=1, max_size=12))
def test_ragged_parity_matches_dense_reference(runs):
    """ragged_parity (every lookup path's refine kernel) == the dense
    contains_batch_edges evaluated run by run, with empty runs at the start,
    in the middle and at the end of the batch (an empty run is outside)."""
    mid = len(runs) // 2
    runs = [_EMPTY_RUN] + runs[:mid] + [_EMPTY_RUN] + runs[mid:] + [_EMPTY_RUN]
    got, dense = _ragged_vs_dense(runs)
    assert got == dense
    assert not got[0] and not got[mid + 1] and not got[-1]


def test_ragged_parity_all_runs_empty():
    assert _ragged_vs_dense([_EMPTY_RUN] * 3) == ([False] * 3, [False] * 3)
    assert _ragged_vs_dense([]) == ([], [])
