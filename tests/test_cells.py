"""Cell grid + compact cover: resolve_points must agree with the independent
golden oracle (full PIP over every zone) on fixtures and random points."""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from tzspark.cells import (
    cell_id,
    cell_id_parent,
    compile_cover,
    knn_fallback,
    resolve_points,
)
from tzspark.geom import F32
from tzspark.zones import (
    fixture_points,
    make_zones,
    oracle_assign,
    oracle_knn,
    oracle_resolve,
)


@pytest.fixture(scope="module")
def zones():
    return make_zones(n_coast=4000)


@pytest.fixture(scope="module")
def idx(zones):
    return compile_cover(zones, base_res=4, max_res=9)


def test_cell_id_arithmetic():
    lat = np.array([-90, 0, 89.999, 90], dtype=F32)
    lng = np.array([-180, 0, 179.999, 180], dtype=F32)
    c = cell_id(lat, lng, 3)
    n = 8
    assert c[0] == 0
    assert c[1] == (4 * n + 4)
    assert c[3] == n * n - 1  # clamped at the +90/+180 corner


def test_cell_parent_consistency():
    rng = np.random.default_rng(1)
    lat = rng.uniform(-90, 90, 1000).astype(F32)
    lng = rng.uniform(-180, 180, 1000).astype(F32)
    hi = cell_id(lat, lng, 9)
    for r in (4, 6, 8):
        np.testing.assert_array_equal(
            cell_id_parent(hi, 9, r), cell_id(lat, lng, r)
        )


def test_cover_stats_sane(idx):
    s = idx.stats
    assert s["zones"] == 34
    assert s["boundary_cells"] > 0
    assert sum(s["interior_cells"].values()) > 0
    # edge pruning must actually prune on the coastline zone
    assert s["mean_edges_per_candidate"] < s["edges"] / 4


def test_fixture_points_resolve(zones, idx):
    pts = fixture_points()
    lat = np.array([p[0] for p in pts], F32)
    lng = np.array([p[1] for p in pts], F32)
    want, matched = oracle_resolve(zones, lat, lng)
    got = resolve_points(idx, lat, lng)
    for k, (plat, plng, tag) in enumerate(pts):
        assert got[k] == want[k], f"{tag}: got {got[k]} want {want[k]}"
    # sanity on specific semantics
    tagmap = {p[2]: k for k, p in enumerate(pts)}
    zid_by_id = {z.zone_id: z.tzid for z in zones}
    assert zid_by_id[int(got[tagmap["holeA_in_hole"]])] == "Test/HoleA"
    assert got[tagmap["holeB_in_hole_outside"]] == -1  # parity: hole is out
    assert got[tagmap["knn_strip_north"]] == -1
    assert zid_by_id[int(got[tagmap["coast_inside"]])] == "Test/Coast"
    assert got[tagmap["coast_seaward"]] == -1


def test_random_points_resolve_matches_oracle(zones, idx):
    rng = np.random.default_rng(7)
    lat = rng.uniform(-8, 44, 5000).astype(F32)
    lng = rng.uniform(-8, 44, 5000).astype(F32)
    want, _ = oracle_resolve(zones, lat, lng)
    got = resolve_points(idx, lat, lng)
    np.testing.assert_array_equal(got, want)


def test_knn_matches_oracle(zones, idx):
    rng = np.random.default_rng(11)
    lat = rng.uniform(24, 26, 500).astype(F32)  # uncovered strip
    lng = rng.uniform(-6, 42, 500).astype(F32)
    got = knn_fallback(idx, lat, lng)
    want = oracle_knn(zones, lat, lng)
    np.testing.assert_array_equal(got, want)


def test_full_assignment_no_unmatched(zones, idx):
    rng = np.random.default_rng(13)
    lat = rng.uniform(-8, 44, 2000).astype(F32)
    lng = rng.uniform(-8, 44, 2000).astype(F32)
    zid = resolve_points(idx, lat, lng)
    un = zid == -1
    zid[un] = knn_fallback(idx, lat[un], lng[un])
    want = oracle_assign(zones, lat, lng)
    np.testing.assert_array_equal(zid, want)
    assert (zid >= 0).all()


def test_knn_table_hierarchical_equals_dense():
    """The level-by-level kNN table refinement must equal the dense
    (every cell x every zone) construction exactly — the containment
    argument (child candidates are a subset of the parent's) is load-bearing
    for kNN exactness, so pin it against a brute-force reference."""
    import numpy as np

    from tzspark.cells import _cell_rects, _compile_knn_table

    rng = np.random.default_rng(41)
    nz, res = 150, 5
    lat0 = rng.uniform(-80, 70, nz)
    lng0 = rng.uniform(-170, 150, nz)
    bbox = np.stack(
        [lat0, lng0, lat0 + rng.uniform(0.5, 15, nz), lng0 + rng.uniform(0.5, 15, nz)],
        axis=1,
    ).astype(np.float32)
    off, zidx = _compile_knn_table(bbox, res)

    # dense reference, straight from the definition
    n = 1 << res
    c_lat0, c_lng0, c_lat1, c_lng1 = _cell_rects(n)
    z = bbox.astype(np.float64)
    gl = np.maximum(np.maximum(z[None, :, 0] - c_lat1[:, None], c_lat0[:, None] - z[None, :, 2]), 0)
    gg = np.maximum(np.maximum(z[None, :, 1] - c_lng1[:, None], c_lng0[:, None] - z[None, :, 3]), 0)
    d_min = gl * gl + gg * gg
    fl = np.maximum(np.maximum(z[None, :, 0] - c_lat0[:, None], c_lat1[:, None] - z[None, :, 2]), 0)
    fg = np.maximum(np.maximum(z[None, :, 1] - c_lng0[:, None], c_lng1[:, None] - z[None, :, 3]), 0)
    d_max = fl * fl + fg * fg
    keep = d_min <= d_max.min(axis=1)[:, None]
    want_off = np.concatenate([[0], np.cumsum(keep.sum(axis=1))])
    want_zidx = np.concatenate([np.flatnonzero(k) for k in keep])
    np.testing.assert_array_equal(off, want_off)
    np.testing.assert_array_equal(zidx, want_zidx.astype(np.int32))


def test_knn_cells_restricted_equals_full_table():
    """The restricted kNN routine (what an incremental zone update runs on
    the cells it must rebuild) gives each cell the same list as the full
    table, whichever cells it is asked for."""
    import numpy as np

    from tzspark.cells import _compile_knn_table, _knn_cells

    rng = np.random.default_rng(43)
    nz, res = 120, 6
    lat0 = rng.uniform(-80, 70, nz)
    lng0 = rng.uniform(-170, 150, nz)
    bbox = np.stack(
        [lat0, lng0, lat0 + rng.uniform(0.5, 15, nz), lng0 + rng.uniform(0.5, 15, nz)],
        axis=1,
    ).astype(np.float32)
    off, zidx = _compile_knn_table(bbox, res)
    n = 1 << res
    for cells in (
        np.arange(n * n),
        np.sort(rng.choice(n * n, 37, replace=False)),
        np.array([0, n * n - 1]),
        np.empty(0, np.int64),
    ):
        s_off, s_zidx = _knn_cells(bbox, res, cells)
        assert s_off.dtype == off.dtype and s_zidx.dtype == zidx.dtype
        np.testing.assert_array_equal(np.diff(s_off), np.diff(off)[cells])
        want = [zidx[off[c]:off[c + 1]] for c in cells]
        np.testing.assert_array_equal(
            s_zidx, np.concatenate(want) if want else np.empty(0, np.int32)
        )


def _dense_knn_keep(bbox: np.ndarray, res: int) -> np.ndarray:
    """(cells x zones) keep matrix straight from the kNN-table definition:
    d_min(c, z) <= min over zones of d_max(c, z), per-cell float64 rects."""
    from tzspark.cells import _cell_rects

    c_lat0, c_lng0, c_lat1, c_lng1 = (v[:, None] for v in _cell_rects(1 << res))
    z_lat0, z_lng0, z_lat1, z_lng1 = bbox.astype(np.float64).T
    gl = np.maximum(np.maximum(z_lat0 - c_lat1, c_lat0 - z_lat1), 0)
    gg = np.maximum(np.maximum(z_lng0 - c_lng1, c_lng0 - z_lng1), 0)
    fl = np.maximum(np.maximum(z_lat0 - c_lat0, c_lat1 - z_lat1), 0)
    fg = np.maximum(np.maximum(z_lng0 - c_lng0, c_lng1 - z_lng1), 0)
    d_max = fl * fl + fg * fg
    return gl * gl + gg * gg <= d_max.min(axis=1)[:, None]


def _grid_line(draw, axis: int) -> float:
    """A lat (axis 0) or lng (axis 1) grid line of some res <= 7 grid."""
    k = draw(st.integers(0, 7))
    i = draw(st.integers(0, 1 << k))
    return (-90.0, -180.0)[axis] + (180.0, 360.0)[axis] * i / (1 << k)


@st.composite
def _adversarial_mbrs(draw):
    """1-10 zone MBRs: bounds on cell edges, points, zero-width slivers,
    duplicates (exact distance ties), the whole world, and free boxes."""
    boxes = []
    for _ in range(draw(st.integers(1, 10))):
        kind = draw(st.sampled_from(["edges", "point", "sliver", "dup", "world", "free"]))
        if kind == "dup" and boxes:
            boxes.append(boxes[draw(st.integers(0, len(boxes) - 1))])
            continue
        if kind == "world":
            boxes.append((-90.0, -180.0, 90.0, 180.0))
            continue
        if kind == "edges":
            lat, lng = [_grid_line(draw, 0) for _ in "ab"], [_grid_line(draw, 1) for _ in "ab"]
        else:
            lat = [draw(st.floats(-90, 90)) for _ in "ab"]
            lng = [draw(st.floats(-180, 180)) for _ in "ab"]
            if kind == "point":
                lat[1], lng[1] = lat[0], lng[0]
            elif kind == "sliver":
                lat[1] = lat[0]
        boxes.append((min(lat), min(lng), max(lat), max(lng)))
    return np.array(boxes, np.float32)


@settings(max_examples=60, deadline=None)
@given(
    bbox=_adversarial_mbrs(),
    res=st.integers(2, 7),
    budget=st.sampled_from([1, 7, 500_000]),
    data=st.data(),
)
@example(bbox=np.array([[10.0, 20.0, 10.0, 20.0]], np.float32), res=7,
         budget=500_000, data=None)
@example(bbox=np.array([[-90, -180, 90, 180], [0, 0, 0, 0], [0, 0, 0, 0]], np.float32),
         res=5, budget=1, data=None)
def test_knn_cells_equal_dense_definition(bbox, res, budget, data):
    """_knn_cells over any sorted cell subset, at any pair budget and at res
    below and above _KNN_BASE_RES, gives each cell exactly the zones of the
    dense definition, in zone order."""
    from unittest import mock

    from tzspark import cells as cells_mod

    n = 1 << res
    if data is None:
        cells = np.arange(n * n, dtype=np.int64)
    else:
        cells = np.unique(np.array(
            data.draw(st.lists(st.integers(0, n * n - 1), max_size=40)), np.int64))
    with mock.patch.object(cells_mod, "_KNN_PAIR_BUDGET", budget):
        off, zidx = cells_mod._knn_cells(bbox, res, cells)
    keep = _dense_knn_keep(bbox, res)[cells]
    assert off.dtype == np.int64 and zidx.dtype == np.int32
    np.testing.assert_array_equal(np.diff(off), keep.sum(axis=1))
    np.testing.assert_array_equal(zidx, np.nonzero(keep)[1].astype(np.int32))
    assert (np.diff(off) > 0).all()  # every cell keeps its d_max argmin


def test_nan_coordinates_get_no_zone(spark, zones, idx):
    """A NaN or infinite coordinate has no nearest zone (its distance to
    every MBR is NaN or inf, a tie the min-id rule would answer with the
    lowest zone_id): knn_fallback and search_many answer -1, assign_points
    and assign_udf (a null lat/lng reaches the UDF as NaN) answer (-1,
    via_knn False). Valid points in the same batch keep their answers, in
    domain (pruned table) and out of it (brute force)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tzspark.api import TimezoneLookup
    from tzspark.cells import assign_points, describe_point
    from tzspark.covertable import CoverTables
    from tzspark.engine import assign_udf

    inf = np.inf
    lat = np.array([np.nan, 5.0, np.nan, 25.0, 200.0, -95.0, inf, 5.0, -inf], F32)
    lng = np.array([10.0, np.nan, np.nan, 10.0, 10.0, 10.0, 10.0, -inf, inf], F32)
    knn = [-1, -1, -1, *oracle_knn(zones, lat[3:6], lng[3:6]).tolist(), -1, -1, -1]
    assert knn_fallback(idx, lat, lng).tolist() == knn
    assert TimezoneLookup(zones).search_many(lat, lng).tolist() == knn

    zid, via = assign_points(idx, lat, lng)
    want_via = [False] * 3 + [True] * 3 + [False] * 3
    assert zid.tolist() == knn and via.tolist() == want_via
    info = describe_point(idx, float("nan"), 10.0)
    assert (info["zone_id"], info["via"], info["tzid"]) == (-1, "", "")

    schema = T.StructType([T.StructField("lat", T.DoubleType(), True),
                           T.StructField("lng", T.DoubleType(), True)])
    rows = [(None, 10.0), (5.0, None), (None, None),
            *zip(lat[3:].astype(float).tolist(), lng[3:].astype(float).tolist())]
    df = spark.createDataFrame(rows, schema)
    a = df.select(assign_udf(CoverTables.from_index(spark, idx))(
        F.col("lat"), F.col("lng")).alias("a")).select("a.*").collect()
    assert [(r["zone_id"], r["via_knn"]) for r in a] == list(zip(knn, want_via))


def test_non_finite_points_resolve_to_no_zone():
    """NaN and infinite coordinates are inside no ring (the oracle's ray
    cast), though cell_id clamps them into border cells. Here a zone that
    reaches past the domain fully claims every cell, border cells too, so
    only resolve_points' explicit guard keeps them out; finite points in
    the batch still resolve."""
    from tzspark.cells import Zone

    globe = Zone(
        7, "Globe",
        np.array([-100, -100, 100, 100], F32), np.array([-200, 200, 200, -200], F32),
    )
    idx = compile_cover([globe], base_res=2, max_res=4)
    lat = np.array([np.nan, 10.0, np.nan, np.inf, -np.inf, 5.0, 0.0, 10.0], F32)
    lng = np.array([10.0, np.nan, np.nan, 10.0, 10.0, np.inf, -np.inf, 20.0], F32)
    want, _ = oracle_resolve([globe], lat, lng)
    assert want.tolist() == [-1] * 7 + [7]
    assert resolve_points(idx, lat, lng).tolist() == want.tolist()


def test_cell_children_introspection(zones, idx):
    """R7: cell_children must agree with the probe — the resolved zone of an
    interior point appears in a full-claim list of its ancestor chain; a
    boundary-resolved zone appears among the cell's PIP candidates with a
    non-empty pruned edge subset."""
    from tzspark.cells import cell_children, describe_point

    pts = fixture_points()
    n_full = n_boundary = n_knn = 0
    for lat, lng, tag in pts:
        info = describe_point(idx, lat, lng)
        zid = info["zone_id"]
        want = oracle_assign(zones, np.array([lat], F32), np.array([lng], F32))
        want = want[0] if isinstance(want, tuple) else want
        assert zid == int(np.asarray(want)[0]), tag
        if info["via"] == "full":
            assert any(zid in v for v in info["full"].values()), tag
            n_full += 1
        elif info["via"] == "boundary":
            cand = {c["zone_id"] for c in info["boundary"]}
            assert zid in cand, tag
            assert all(c["n_edges"] > 0 for c in info["boundary"]), tag
            n_boundary += 1
        else:
            n_knn += 1
        # bounds sanity: the float32 point lies in (or on the edge of) the cell
        lat0, lng0, lat1, lng1 = info["bounds"]
        assert lat0 - 1e-6 <= F32(lat) <= lat1 + 1e-6
        assert lng0 - 1e-6 <= F32(lng) <= lng1 + 1e-6
    # the fixture set must exercise every path or the test is vacuous
    assert n_full and n_boundary and n_knn, (n_full, n_boundary, n_knn)


def test_cell_children_validation(idx):
    from tzspark.cells import cell_children

    with pytest.raises(ValueError, match="outside"):
        cell_children(idx, 0, res=idx.max_res + 1)
    with pytest.raises(ValueError, match="out of range"):
        cell_children(idx, 1 << 62, res=idx.max_res)


def test_facade_children_roundtrip():
    """api.TimezoneLookup.children/explain_point delegate to the cover
    introspection and resolve consistently with search()."""
    from tzspark.api import TimezoneLookup

    tl = TimezoneLookup(make_zones(n_coast=500), base_res=3, max_res=7)
    r = tl.search(3.0, 3.0)
    info = tl.explain_point(3.0, 3.0)
    assert info["tzid"] == r.name and info["zone_id"] >= 0
    kid = tl.children(info["cell_id"])
    assert kid["full"] == info["full"] and kid["boundary"] == info["boundary"]


# ---------------------------------------------------------------------------
# geohash / Morton encode (q79/q80 kernels)
# ---------------------------------------------------------------------------

def _gh6_ref(lat, lng):
    """Independent reference: textbook geohash bisection, float32-truncated
    inputs, 30 bits (15 per axis), base32 alphabet."""
    import numpy as np

    lat = float(np.float32(lat))
    lng = float(np.float32(lng))
    bits = []
    lo, hi = -180.0, 180.0
    la_lo, la_hi = -90.0, 90.0
    for i in range(30):
        if i % 2 == 0:  # even (MSB-first) bits are longitude
            mid = (lo + hi) / 2
            bits.append(lng >= mid)
            lo, hi = (mid, hi) if lng >= mid else (lo, mid)
        else:
            mid = (la_lo + la_hi) / 2
            bits.append(lat >= mid)
            la_lo, la_hi = (mid, la_hi) if lat >= mid else (la_lo, mid)
    code = 0
    for b in bits:
        code = (code << 1) | int(b)
    alph = "0123456789bcdefghjkmnpqrstuvwxyz"
    return "".join(alph[(code >> (25 - 5 * i)) & 31] for i in range(6))


def test_geohash_published_examples(spark):
    """The three classic published geohashes pin the bit order, alphabet,
    and axis orientation."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tzspark.queries_geo import geohash6_col

    pdf = pd.DataFrame(
        {
            "lat": [57.64911, 39.92324, -33.8688],
            "lng": [10.40744, 116.3906, 151.2093],
        }
    )
    out = (
        spark.createDataFrame(pdf)
        .select(geohash6_col(F.col("lat"), F.col("lng")).alias("gh"))
        .toPandas()["gh"]
        .tolist()
    )
    assert out == ["u4pruy", "wx4g0e", "r3gx2f"]


def test_geohash_matches_bisection_reference(spark):
    """The floor-scale form equals textbook bisection on a deterministic
    off-boundary coordinate sweep (1,24 points incl. poles/date line
    offsets)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tzspark.queries_geo import geohash6_col

    lats = np.linspace(-89.987, 89.987, 31)
    lngs = np.linspace(-179.913, 179.913, 40)
    la, lg = np.meshgrid(lats, lngs)
    pdf = pd.DataFrame({"lat": la.ravel(), "lng": lg.ravel()})
    got = (
        spark.createDataFrame(pdf)
        .select(geohash6_col(F.col("lat"), F.col("lng")).alias("gh"))
        .toPandas()["gh"]
        .tolist()
    )
    want = [_gh6_ref(a, b) for a, b in zip(pdf["lat"], pdf["lng"])]
    assert got == want


def test_morton_prefix_is_spatial_containment(spark):
    """Z-order key property used by q80: two points in the same res-5 cell
    share the top 10 Morton bits (5 per axis) — prefix truncation = spatial
    coarsening."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tzspark.queries_geo import morton30_col

    pdf = pd.DataFrame(
        {
            "lat": [10.01, 10.02, 10.01, -45.5],
            "lng": [20.01, 20.02, -170.0, 20.01],
        }
    )
    codes = (
        spark.createDataFrame(pdf)
        .select(morton30_col(F.col("lat"), F.col("lng")).alias("z"))
        .toPandas()["z"]
        .tolist()
    )
    near_a, near_b, far_lng, far_lat = codes
    assert near_a >> 20 == near_b >> 20
    assert near_a >> 20 != far_lng >> 20
    assert near_a >> 20 != far_lat >> 20
