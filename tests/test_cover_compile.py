"""The batched cover compile (cells._cover_zones, behind compile_cover)
against a scalar reference: a per-zone, per-cell quadtree walk that
classifies one cell at a time with the original scalar predicates. Plus
pinned index digests, which many-chunks and many-slices runs must
reproduce, and a check that the sliced compile stays on driver threads.
Plus the index file (cells.save_index / open_index): its bytes pinned
beside the pickle's, round trips, and planted bad files rejected and
regenerated."""

import hashlib
import json
import os
import pickle

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from test_cover_property import _ring

from tzspark import cells
from tzspark.cells import Zone, cell_bounds, cell_rowcol, compile_cover
from tzspark.geom import (
    F32,
    contains_batch_edges,
    ring_edges,
    segment_bbox_overlaps_rect,
)
from tzspark.zones import make_world_zones, make_zones

# ---------------------------------------------------------------------------
# scalar reference
# ---------------------------------------------------------------------------


def _inflate(lo: float, hi: float):
    """Widen an interval outward by cells._ULPS float32 ulps (the scalar
    form of cells._inflate_arrays)."""
    lo32, hi32 = F32(lo), F32(hi)
    for _ in range(cells._ULPS):
        lo32 = np.nextafter(lo32, F32(-np.inf), dtype=F32)
        hi32 = np.nextafter(hi32, F32(np.inf), dtype=F32)
    return float(lo32), float(hi32)


def _classify_rect(zone_edges, zbbox, lat0, lng0, lat1, lng1):
    """-> 'out' | 'full' | 'maybe' for one zone and one cell."""
    lat0i, lat1i = _inflate(lat0, lat1)
    lng0i, lng1i = _inflate(lng0, lng1)
    zmin_lat, zmin_lng, zmax_lat, zmax_lng = zbbox
    if zmax_lat < lat0i or zmin_lat > lat1i or zmax_lng < lng0i or zmin_lng > lng1i:
        return "out"
    a_lat, a_lng, b_lat, b_lng = zone_edges
    overlap = segment_bbox_overlaps_rect(
        a_lat, a_lng, b_lat, b_lng, lat0i, lng0i, lat1i, lng1i
    )
    if not overlap.any():
        # no boundary crosses the cell -> uniformly in or out; sample centre
        c_lat = F32((lat0 + lat1) / 2.0)
        c_lng = F32((lng0 + lng1) / 2.0)
        inside = contains_batch_edges(
            a_lat, a_lng, b_lat, b_lng, np.array([c_lat]), np.array([c_lng])
        )[0]
        return "full" if inside else "out"
    return "maybe"


def _pip_edge_subset(zone_edges, lat0, lng0, lat1, lng1) -> np.ndarray:
    """Indices of the edges that can affect the +lat ray cast of a point in
    the cell: lng-range overlap and not entirely south, on inflated bounds."""
    lat0i, _ = _inflate(lat0, lat0)
    lng0i, lng1i = _inflate(lng0, lng1)
    a_lat, a_lng, b_lat, b_lng = zone_edges
    e_min_lng = np.minimum(a_lng, b_lng)
    e_max_lng = np.maximum(a_lng, b_lng)
    e_max_lat = np.maximum(a_lat, b_lat)
    keep = (e_min_lng <= lng1i) & (e_max_lng >= lng0i) & (e_max_lat >= lat0i)
    return np.flatnonzero(keep)


def reference_cover(zones, base_res, max_res):
    """Per-zone, per-cell quadtree walk -> (full claims {(res, cell,
    zone_id)}, boundary {(cell, zone_id): zone-local edge subset})."""
    full, boundary = set(), {}
    for z in zones:
        if len(z.ring_lat) < 3:  # degenerate rings never match
            continue
        edges = ring_edges(z.ring_lat, z.ring_lng)
        zb = z.bbox
        (r0,), (c0,) = cell_rowcol([zb[0]], [zb[1]], base_res)
        (r1,), (c1,) = cell_rowcol([zb[2]], [zb[3]], base_res)
        stack = [(base_res, r, c) for r in range(r0, r1 + 1) for c in range(c0, c1 + 1)]
        while stack:
            res, r, c = stack.pop()
            n = 1 << res
            lat0, lng0, lat1, lng1 = cell_bounds(r, c, res)
            kind = _classify_rect(edges, zb, lat0, lng0, lat1, lng1)
            if kind == "full":
                full.add((res, r * n + c, z.zone_id))
            elif kind == "maybe" and res < max_res:
                stack += [(res + 1, 2 * r + dr, 2 * c + dc)
                          for dr in (0, 1) for dc in (0, 1)]
            elif kind == "maybe":
                sub = _pip_edge_subset(edges, lat0, lng0, lat1, lng1)
                boundary[(r * n + c, z.zone_id)] = tuple(sub.tolist())
    return full, boundary


def compiled_cover(idx):
    """The same two structures read back from a CompiledIndex."""
    full = set()
    for r, (cs, off, zl) in idx.full.items():
        for i, c in enumerate(cs.tolist()):
            full.update((r, c, int(idx.zone_ids[z])) for z in zl[off[i]:off[i + 1]])
    boundary = {}
    for i, c in enumerate(idx.b_cells.tolist()):
        for ci in range(idx.b_off[i], idx.b_off[i + 1]):
            z = idx.b_zone[ci]
            sub = idx.b_edge_idx[idx.b_edge_off[ci]:idx.b_edge_off[ci + 1]]
            boundary[(c, int(idx.zone_ids[z]))] = tuple(
                (sub.astype(np.int64) - idx.zone_edge_off[z]).tolist()
            )
    return full, boundary


# ---------------------------------------------------------------------------
# property: batched == scalar reference
# ---------------------------------------------------------------------------

_star = st.tuples(
    st.floats(-60, 60),  # centre lat
    st.floats(-120, 120),  # centre lng
    st.floats(0.5, 25.0),  # radius
    st.integers(3, 40),  # vertices
    st.floats(0, 6.28),  # phase
).map(lambda t: _ring(t[1], t[0], t[2], t[3], t[4]))

# free rings: 1-7 vertices anywhere, often ON the domain edges (±90, ±180)
# — degenerate (<3 vertex), self-intersecting and pole/antimeridian rings
_free = st.lists(
    st.tuples(
        st.one_of(st.sampled_from([-90.0, 90.0]), st.floats(-90, 90)),
        st.one_of(st.sampled_from([-180.0, 180.0]), st.floats(-180, 180)),
    ),
    min_size=1,
    max_size=7,
).map(lambda vs: (np.array([v[0] for v in vs], F32), np.array([v[1] for v in vs], F32)))


@settings(max_examples=40, deadline=None)
@given(rings=st.lists(st.one_of(_star, _free), min_size=0, max_size=5))
@example(rings=[])
@example(rings=[(np.array([-90, -90, 90, 90], F32), np.array([-180, 180, 180, -180], F32)),
                (np.array([1, 2], F32), np.array([3, 4], F32))])
def test_batched_cover_equals_scalar_reference(rings):
    zones = [Zone(3 * k + 1, f"Z{k}", lat, lng) for k, (lat, lng) in enumerate(rings)]
    idx = compile_cover(zones, base_res=2, max_res=6)
    assert compiled_cover(idx) == reference_cover(zones, 2, 6)


# ---------------------------------------------------------------------------
# pinned index bytes
# ---------------------------------------------------------------------------


def _bench_cut():
    """The world set cut to the polygons whose bbox centre lies in lat
    [0, 24] x lng [0, 36] (the benchmark's 480-zone set)."""
    return [z for z in make_world_zones()
            if 0 <= (z.ring_lat.min() + z.ring_lat.max()) / 2 <= 24
            and 0 <= (z.ring_lng.min() + z.ring_lng.max()) / 2 <= 36]


# sha256 of pickle.dumps(compile_cover(zones), protocol=5), recorded with
# the per-zone compile that the batched one replaced. The index bytes are a
# format: a deliberate INDEX_FORMAT_VERSION bump re-pins these digests.
PINNED = {
    "make_zones_4000": "1d80e2f391c008ba0e0d50f6f346744632fd15882fafdb0c52c9ff1a1ca8d04f",
    "bench_cut": "aa313065752b8381e1d86bbf5c7f588959e506f2281b568299b26ac4f3c706bc",
}
ZONE_SETS = {"make_zones_4000": lambda: make_zones(n_coast=4000), "bench_cut": _bench_cut}


# sha256 of the cells.save_index file of the same compiles: the index
# file's layout is pinned beside the pickle's.
FILE_PINNED = {
    "make_zones_4000": "e641d28450fd480d0964f15ceeb164985ce0c6ea17c11eb09e7b7efe6d81f0db",
    "bench_cut": "217701b9e40d79de04f0c86fe7d7298ca630a8b0327be81c9adce694fcc53b17",
}


def _digest(idx):
    return hashlib.sha256(pickle.dumps(idx, protocol=5)).hexdigest()


@pytest.mark.parametrize("name", sorted(PINNED))
def test_index_bytes_pinned(name):
    assert cells.INDEX_FORMAT_VERSION == 5
    assert _digest(compile_cover(ZONE_SETS[name]())) == PINNED[name]


@pytest.mark.parametrize("name, budget", [("bench_cut", 4096), ("make_zones_4000", 1000)])
def test_tiny_pair_budgets_give_same_bytes(monkeypatch, name, budget):
    """Hundreds of chunks per level in the cover and kNN builds — and, for
    make_zones' 4000-edge coastline, single cells over budget — give the
    pinned bytes."""
    monkeypatch.setattr(cells, "_COVER_PAIR_BUDGET", budget)
    monkeypatch.setattr(cells, "_KNN_PAIR_BUDGET", budget)
    assert _digest(compile_cover(ZONE_SETS[name]())) == PINNED[name]


@pytest.mark.parametrize("name", sorted(PINNED))
def test_sliced_thread_compile_gives_same_bytes(monkeypatch, name):
    """With the slicing threshold at one zone and four cores, both pinned
    sets compile as up to 32 zone slices on the thread pool and give the
    pinned bytes."""
    monkeypatch.setattr(cells, "_PARALLEL_COMPILE_MIN", 1)
    monkeypatch.setattr(cells.os, "cpu_count", lambda: 4)
    calls = []
    real = cells._cover_slice
    monkeypatch.setattr(cells, "_cover_slice", lambda t: calls.append(1) or real(t))
    assert _digest(compile_cover(ZONE_SETS[name]())) == PINNED[name]
    assert len(calls) > 1


def test_sliced_compile_starts_no_job_or_process(spark, monkeypatch):
    """With a Spark session live, a compile at the slicing threshold runs on
    driver threads: no Spark job and no child process."""
    import multiprocessing
    from multiprocessing.process import BaseProcess

    monkeypatch.setattr(cells, "_PARALLEL_COMPILE_MIN", 1)
    started = []
    real_start = BaseProcess.start
    monkeypatch.setattr(BaseProcess, "start", lambda p: started.append(p) or real_start(p))
    zones = make_zones(n_coast=500)
    spark.range(1).count()  # the status tracker has a job id to compare
    tracker = spark.sparkContext.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(None))
    idx = compile_cover(zones)
    assert idx.stats["zones"] == len(zones)
    assert sorted(tracker.getJobIdsForGroup(None)) == jobs
    assert started == [] and multiprocessing.active_children() == []


# ---------------------------------------------------------------------------
# the index file
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("name", sorted(PINNED))
def test_index_file_pinned_and_round_trips(name, tmp_path):
    """save_index writes the pinned bytes and returns their blake2b digest;
    open_index gives back the same index as read-only views of the file."""
    from test_index_update import assert_index_equal

    idx = compile_cover(ZONE_SETS[name]())
    path = str(tmp_path / "index")
    digest = cells.save_index(idx, path)
    with open(path, "rb") as f:
        data = f.read()
    assert hashlib.sha256(data).hexdigest() == FILE_PINNED[name]
    assert digest == hashlib.blake2b(data, digest_size=16).hexdigest()
    opened = cells.open_index(path)
    assert_index_equal(opened, idx)
    assert not opened.b_cells.flags.writeable
    assert _digest(idx) == PINNED[name]


def _edit_header(path, edit):
    """Rewrite the index file's JSON header through ``edit(meta)``, keeping
    its arrays."""
    with open(path, "rb") as f:
        data = f.read()
    n = int.from_bytes(data[8:16], "little")
    meta = json.loads(data[16 : 16 + n])
    edit(meta)
    head = json.dumps(meta).encode()
    with open(path, "wb") as f:
        f.write(data[:8] + len(head).to_bytes(8, "little") + head
                + bytes(-(16 + len(head)) % 64) + data[16 + n + -(16 + n) % 64 :])


def _plant(path, how):
    """Damage a valid index file at ``path``."""
    if how == "truncated":
        os.truncate(path, os.path.getsize(path) - 64)
    elif how == "other_version":
        _edit_header(path, lambda m: m.update(version=m["version"] + 1))
    elif how == "overrun":  # an extent past the end, the file size intact
        _edit_header(path, lambda m: m["arrays"]["knn_zidx"].__setitem__(2, [10**8]))
    else:  # a pickle where the index file should be
        with open(path, "wb") as f:
            pickle.dump({"v": 1}, f)


PLANTS = ("truncated", "other_version", "overrun", "pickle")


@pytest.mark.parametrize("how", PLANTS)
def test_bad_index_file_rejected_and_regenerated(how, tmp_path):
    """open_index raises ValueError on a damaged file, and
    TimezoneLookup(cache_dir=...) compiles a fresh file over it instead of
    reading it."""
    from test_index_update import assert_index_equal

    from tzspark.api import TimezoneLookup

    zones = make_zones(n_coast=200)
    cache = str(tmp_path)
    TimezoneLookup(zones, cache_dir=cache)
    (name,) = os.listdir(cache)
    path = os.path.join(cache, name)
    _plant(path, how)
    with pytest.raises(ValueError):
        cells.open_index(path)
    tl = TimezoneLookup(zones, cache_dir=cache)
    assert os.listdir(cache) == [name]
    fresh = compile_cover(zones)
    assert_index_equal(tl.idx, fresh)
    assert_index_equal(cells.open_index(path), fresh)
