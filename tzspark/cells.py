"""H3-style cell grid: encode + compact multi-resolution cell cover.

Replaces the reference's R-tree (geo/rtree.go:16-19, fanout-32 MBR tree) with
a structure that distributes: a global power-of-two lat/lng grid whose cell
ids are plain integer arithmetic (computable identically in numpy, PySpark
Column expressions, and ANSI SQL — no shuffle, no UDF), plus a driver-compiled
"compact cover" per zone:

* INTERIOR cells — entirely inside one-or-more zones: point resolution is an
  O(1) lookup, no ray cast at all (the analog of the reference's early
  termination, geo/latlng.go:65-67, but cheaper: ~most land cells),
* BOUNDARY cells (max resolution only) — carry candidate zone ids plus a
  pruned edge subset, so the exact float32 ray cast (geom.py) only ever sees
  nearby edges.

The cover is compiled once on the driver (numpy), broadcast to executors, and
probed inside pandas UDFs — the Spark-native replacement for the reference's
mmap + rebuild-R-tree-on-load design (timezone.go:192, 208-214).

Grid definition (res r, n = 2**r):
    row  = clamp(floor((lat +  90) / 180 * n), 0, n-1)
    col  = clamp(floor((lng + 180) / 360 * n), 0, n-1)
    cell = row * n + col        (at resolution r)

The arithmetic is done in float64 from float32-truncated coordinates so the
SQL oracle (CAST(lat AS FLOAT) then double math) matches bit-for-bit.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .geom import (
    F32,
    contains_batch_edges,
    ring_bbox,
    ring_edges,
    segment_bbox_overlaps_rect,
)

DEFAULT_BASE_RES = 4
DEFAULT_MAX_RES = 10
# kNN candidate grid: 256x256 cells. Finer cells keep exactness (see
# _knn_cells) while shrinking candidate lists — measured on the
# world set: res 6 -> 58.5 avg candidates/cell, 161k kNN rows/s;
# res 8 -> 6.9 avg, 1.93M rows/s (12x), identical outputs. The hierarchical
# compile makes res 8 as cheap to build as res 6 was.
DEFAULT_KNN_RES = 8
_MATERIALIZE_MAX = 3_000_000  # duplicated edge rows above this -> index form

# Mixed into the cover-cache content key (api._content_key): bump whenever
# CompiledIndex gains/changes compiled structures so stale cached pickles
# (e.g. pre-kNN-table, which would silently fall back to the brute path)
# can never be loaded against newer code.
INDEX_FORMAT_VERSION = 5  # v5: zone_edge_off spans + b_edge_idx always kept


def cell_rowcol(lat, lng, res: int):
    """(row, col) at resolution ``res``; float64 math from float32 coords."""
    n = 1 << res
    lat64 = np.asarray(lat, dtype=F32).astype(np.float64)
    lng64 = np.asarray(lng, dtype=F32).astype(np.float64)
    row = np.clip(np.floor((lat64 + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    col = np.clip(np.floor((lng64 + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    return row, col


def cell_id(lat, lng, res: int):
    """Grid cell id at resolution ``res`` (vectorized numpy)."""
    n = 1 << res
    row, col = cell_rowcol(lat, lng, res)
    return row * n + col


def cell_id_parent(cell: np.ndarray, res: int, parent_res: int) -> np.ndarray:
    """Ancestor cell id at a coarser resolution (pure integer shifts)."""
    n = 1 << res
    shift = res - parent_res
    row = (cell // n) >> shift
    col = (cell % n) >> shift
    return row * (1 << parent_res) + col


def cell_bounds(row: int, col: int, res: int):
    """[lat0, lat1) x [lng0, lng1) bounds of a cell, float64 degrees."""
    n = 1 << res
    lat0 = -90.0 + 180.0 * row / n
    lat1 = -90.0 + 180.0 * (row + 1) / n
    lng0 = -180.0 + 360.0 * col / n
    lng1 = -180.0 + 360.0 * (col + 1) / n
    return lat0, lng0, lat1, lng1


def cell_id_sql(lat_expr: str, lng_expr: str, res: int) -> str:
    """ANSI-SQL text of the cell id, for DuckDB oracles. Mirrors cell_id()."""
    n = 1 << res
    row = (
        f"LEAST(GREATEST(CAST(FLOOR((CAST({lat_expr} AS FLOAT) + 90.0) / 180.0 * {n}) "
        f"AS BIGINT), 0), {n - 1})"
    )
    col = (
        f"LEAST(GREATEST(CAST(FLOOR((CAST({lng_expr} AS FLOAT) + 180.0) / 360.0 * {n}) "
        f"AS BIGINT), 0), {n - 1})"
    )
    return f"({row} * {n} + {col})"


def cell_id_col(lat_col, lng_col, res: int):
    """PySpark Column of the cell id. Mirrors cell_id() / cell_id_sql()."""
    from pyspark.sql import functions as F

    n = 1 << res
    lat64 = lat_col.cast("float").cast("double")
    lng64 = lng_col.cast("float").cast("double")
    row = F.least(
        F.greatest(F.floor((lat64 + 90.0) / 180.0 * n).cast("bigint"), F.lit(0)),
        F.lit(n - 1),
    )
    col = F.least(
        F.greatest(F.floor((lng64 + 180.0) / 360.0 * n).cast("bigint"), F.lit(0)),
        F.lit(n - 1),
    )
    return row * n + col


# ---------------------------------------------------------------------------
# Compact cover compile (driver-side)
# ---------------------------------------------------------------------------


@dataclass
class Zone:
    """One polygon row of the zone table (SURVEY.md §1.1): a single vertex
    ring, float32, implicitly closed — mirrors geo/polygon.go:14-17."""

    zone_id: int
    tzid: str
    ring_lat: np.ndarray  # float32 (V,)
    ring_lng: np.ndarray  # float32 (V,)

    def __post_init__(self):
        self.ring_lat = np.asarray(self.ring_lat, dtype=F32)
        self.ring_lng = np.asarray(self.ring_lng, dtype=F32)

    @property
    def bbox(self):
        return ring_bbox(self.ring_lat, self.ring_lng)


@dataclass
class CompiledIndex:
    """Broadcast-able compiled cover. All numpy, pickle-friendly, compact.

    Per resolution r in [base_res, max_res]: sorted interior cell ids +
    CSR lists of zones that FULLY claim each cell. At max_res additionally:
    sorted boundary cell ids + CSR candidate (zone, edge-subset) lists.
    The flat float32 edge arrays play the role of the reference's contiguous
    vertex blob + offsets (timezone.go:19-27) — columnar, zero-copy sliceable.
    """

    base_res: int
    max_res: int
    zone_ids: np.ndarray  # (Z,) int32 — dense, sorted
    tzids: list  # (Z,) str
    zone_bbox: np.ndarray  # (Z, 4) float32: min_lat, min_lng, max_lat, max_lng
    # full-claim lookup, one per res: {res: (cells_sorted, offsets, zone_list)}
    full: dict = field(default_factory=dict)
    # boundary lookup at max_res
    b_cells: np.ndarray = None  # sorted int64
    b_off: np.ndarray = None  # (B+1,) int64 CSR into b_zone/b_edge_off
    b_zone: np.ndarray = None  # (C,) int32 candidate zone id
    b_edge_off: np.ndarray = None  # (C+1,) int64 CSR into the b_e* arrays
    # per-candidate edge subsets MATERIALIZED contiguously (float32): turns
    # the hot ray-cast loop into sequential streams instead of random gathers
    # (measured ~2x on uniform points; costs ~16B/edge of duplication).
    # For reference-scale zone sets the duplication would blow the broadcast
    # budget (~210 MB at 13M duplicated edge rows), so above
    # _MATERIALIZE_MAX rows compile stores int32 indices into the global
    # edge arrays instead (b_edge_idx) and the probe gathers per batch.
    b_ea_lat: np.ndarray = None
    b_ea_lng: np.ndarray = None
    b_eb_lat: np.ndarray = None
    b_eb_lng: np.ndarray = None
    b_edge_idx: np.ndarray = None  # int32 global edge indices (always kept)
    ea_lat: np.ndarray = None  # global flat edge arrays (float32)
    ea_lng: np.ndarray = None
    eb_lat: np.ndarray = None
    eb_lng: np.ndarray = None
    # per-zone spans into the global edge arrays ((Z+1,) int64) — retained so
    # delete_zone/add_zone/replace_zone can splice one zone in or out without
    # recompiling anything else (the reference store's Delete/Replace, R5/R6)
    zone_edge_off: np.ndarray = None
    # coarse-cell kNN candidate table (exact pruning; see _knn_cells)
    knn_res: int = None
    knn_off: np.ndarray = None  # ((1<<knn_res)^2 + 1,) int64 CSR
    knn_zidx: np.ndarray = None  # int32 indices into zone_ids/zone_bbox
    stats: dict = field(default_factory=dict)


_ULPS = 4  # float32 slack on cell bounds (see _inflate)


def _inflate(lo: float, hi: float):
    """Widen an interval outward by a few float32 ulps.

    The reference PIP compares against a float32-ROUNDED ray intersection t
    (polygon.go:113-116), which can exceed the exact edge max-lat by 1-2
    ulps; pruning/classification bounds computed in exact arithmetic could
    therefore drop an edge that the rounded kernel would still count for a
    point within ulps of a cell boundary. Inflating keeps the kept-edge set
    and the boundary classification a SUPERSET under f32 rounding — supersets
    only cost compactness, never correctness."""
    lo32, hi32 = F32(lo), F32(hi)
    for _ in range(_ULPS):
        lo32 = np.nextafter(lo32, F32(-np.inf), dtype=F32)
        hi32 = np.nextafter(hi32, F32(np.inf), dtype=F32)
    return float(lo32), float(hi32)


def _inflate_arrays(lo: np.ndarray, hi: np.ndarray):
    """Vectorized _inflate: widen [lo, hi] outward by _ULPS float32 ulps."""
    lo32 = lo.astype(F32)
    hi32 = hi.astype(F32)
    for _ in range(_ULPS):
        lo32 = np.nextafter(lo32, F32(-np.inf), dtype=F32)
        hi32 = np.nextafter(hi32, F32(np.inf), dtype=F32)
    return lo32.astype(np.float64), hi32.astype(np.float64)


def _classify_rect(zone_edges, zbbox, lat0, lng0, lat1, lng1):
    """-> ('out' | 'full' | 'maybe', relevant_edge_mask)."""
    lat0i, lat1i = _inflate(lat0, lat1)
    lng0i, lng1i = _inflate(lng0, lng1)
    zmin_lat, zmin_lng, zmax_lat, zmax_lng = zbbox
    if zmax_lat < lat0i or zmin_lat > lat1i or zmax_lng < lng0i or zmin_lng > lng1i:
        return "out", None
    a_lat, a_lng, b_lat, b_lng = zone_edges
    overlap = segment_bbox_overlaps_rect(
        a_lat, a_lng, b_lat, b_lng, lat0i, lng0i, lat1i, lng1i
    )
    if not overlap.any():
        # no boundary crosses the cell -> uniformly in or out; sample center
        c_lat = F32((lat0 + lat1) / 2.0)
        c_lng = F32((lng0 + lng1) / 2.0)
        inside = contains_batch_edges(
            a_lat, a_lng, b_lat, b_lng, np.array([c_lat]), np.array([c_lng])
        )[0]
        return ("full" if inside else "out"), None
    return "maybe", overlap


_CLASSIFY_CHUNK = 4_000_000  # (cells x edges) bool elements per chunk


def _zone_cover(zedges, zbbox, base_res: int, max_res: int):
    """Level-synchronous quadtree cover of ONE zone, vectorized per level.

    Classifies ALL frontier cells of a resolution in one numpy pass (cell-
    bbox x edge-bbox overlap matrix, chunked; center-sample PIP batch for
    non-crossing cells) instead of a per-cell Python loop — same predicates
    and therefore the same cover as the scalar _classify_rect path, but
    ~50x faster on reference-scale zone sets (~25k polygons).

    Returns ({res: int64 cell-id array of full cells}, boundary list of
    (cell_id, edge_subset_indices_local)).
    """
    a_lat, a_lng, b_lat, b_lng = zedges
    e_min_lat = np.minimum(a_lat, b_lat).astype(np.float64)
    e_max_lat = np.maximum(a_lat, b_lat).astype(np.float64)
    e_min_lng = np.minimum(a_lng, b_lng).astype(np.float64)
    e_max_lng = np.maximum(a_lng, b_lng).astype(np.float64)
    ne = e_min_lat.shape[0]
    zmin_lat, zmin_lng, zmax_lat, zmax_lng = (float(v) for v in zbbox)

    r0, _ = cell_rowcol(np.array([zbbox[0]]), np.array([zbbox[1]]), base_res)
    r1, _ = cell_rowcol(np.array([zbbox[2]]), np.array([zbbox[3]]), base_res)
    _, c0 = cell_rowcol(np.array([zbbox[0]]), np.array([zbbox[1]]), base_res)
    _, c1 = cell_rowcol(np.array([zbbox[2]]), np.array([zbbox[3]]), base_res)
    rr, cc = np.meshgrid(
        np.arange(int(r0[0]), int(r1[0]) + 1, dtype=np.int64),
        np.arange(int(c0[0]), int(c1[0]) + 1, dtype=np.int64),
        indexing="ij",
    )
    rows, cols = rr.ravel(), cc.ravel()

    full = {}
    boundary = []
    for res in range(base_res, max_res + 1):
        if rows.shape[0] == 0:
            full[res] = np.empty(0, np.int64)
            continue
        n = 1 << res
        lat0 = -90.0 + 180.0 * rows / n
        lat1 = -90.0 + 180.0 * (rows + 1) / n
        lng0 = -180.0 + 360.0 * cols / n
        lng1 = -180.0 + 360.0 * (cols + 1) / n
        lat0i, lat1i = _inflate_arrays(lat0, lat1)
        lng0i, lng1i = _inflate_arrays(lng0, lng1)

        # zone-bbox gate (same as _classify_rect's early 'out')
        inb = ~(
            (zmax_lat < lat0i) | (zmin_lat > lat1i)
            | (zmax_lng < lng0i) | (zmin_lng > lng1i)
        )
        if not inb.any():
            full[res] = np.empty(0, np.int64)
            rows = cols = np.empty(0, np.int64)
            continue
        rows, cols = rows[inb], cols[inb]
        lat0, lat1 = lat0[inb], lat1[inb]
        lng0, lng1 = lng0[inb], lng1[inb]
        lat0i, lat1i = lat0i[inb], lat1i[inb]
        lng0i, lng1i = lng0i[inb], lng1i[inb]

        # any edge bbox overlapping each cell? (chunked C x E matrix)
        ncells = rows.shape[0]
        crosses = np.zeros(ncells, dtype=bool)
        step = max(1, _CLASSIFY_CHUNK // max(ne, 1))
        for s in range(0, ncells, step):
            sl = slice(s, min(s + step, ncells))
            m = (
                (e_min_lat[None, :] <= lat1i[sl, None])
                & (e_max_lat[None, :] >= lat0i[sl, None])
                & (e_min_lng[None, :] <= lng1i[sl, None])
                & (e_max_lng[None, :] >= lng0i[sl, None])
            )
            crosses[sl] = m.any(axis=1)

        # non-crossing cells: one center sample decides the whole cell
        nc = ~crosses
        if nc.any():
            c_lat = ((lat0[nc] + lat1[nc]) / 2.0).astype(F32)
            c_lng = ((lng0[nc] + lng1[nc]) / 2.0).astype(F32)
            inside = contains_batch_edges(a_lat, a_lng, b_lat, b_lng, c_lat, c_lng)
            full[res] = (rows[nc][inside] * n + cols[nc][inside]).astype(np.int64)
        else:
            full[res] = np.empty(0, np.int64)

        if res < max_res:
            # subdivide crossing cells into their 4 children
            rows, cols = rows[crosses], cols[crosses]
            rows = np.repeat(rows * 2, 4) + np.tile([0, 0, 1, 1], rows.shape[0])
            cols = np.repeat(cols * 2, 4) + np.tile([0, 1, 0, 1], cols.shape[0])
        else:
            # boundary cells: pruned edge subset per cell (_pip_edge_subset
            # criterion: lng-range overlap, not entirely south — inflated)
            b_rows = np.flatnonzero(crosses)
            for k in b_rows:
                keep = (
                    (e_min_lng <= lng1i[k])
                    & (e_max_lng >= lng0i[k])
                    & (e_max_lat >= lat0i[k])
                )
                boundary.append(
                    (int(rows[k]) * n + int(cols[k]), np.flatnonzero(keep))
                )
    return full, boundary


def _pip_edge_subset(zone_edges, lat0, lng0, lat1, lng1) -> np.ndarray:
    """Indices of edges that can affect the +lat ray cast for any point in
    the cell [lat0,lat1) x [lng0,lng1).

    An edge is irrelevant iff its lng interval misses every p.lng in the cell
    (first conjunct of polygon.go:113-116 always false) or it lies entirely
    south of the cell (intersection lat <= max edge lat < lat0 <= p.lat, so
    the strict '<' always fails). Conservative non-strict bounds PLUS a few
    f32 ulps of slack (_inflate — the rounded kernel's t can exceed the exact
    edge max-lat) keep a superset; parity over the subset == parity over the
    full ring.
    """
    lat0i, _ = _inflate(lat0, lat0)
    lng0i, lng1i = _inflate(lng0, lng1)
    a_lat, a_lng, b_lat, b_lng = zone_edges
    e_min_lng = np.minimum(a_lng, b_lng)
    e_max_lng = np.maximum(a_lng, b_lng)
    e_max_lat = np.maximum(a_lat, b_lat)
    keep = (e_min_lng <= lng1i) & (e_max_lng >= lng0i) & (e_max_lat >= lat0i)
    return np.flatnonzero(keep)


_KNN_BASE_RES = 4  # dense level the hierarchical refinement starts from


def _cell_rects(n: int, cells: np.ndarray = None):
    """Per-cell float64 bounds at an n x n grid: every cell in cell-id order,
    or the given cell ids."""
    if cells is None:
        cells = np.arange(n * n, dtype=np.int64)
    rows_f = (cells // n).astype(np.float64)
    cols_f = (cells % n).astype(np.float64)
    return (
        -90.0 + 180.0 * rows_f / n,
        -180.0 + 360.0 * cols_f / n,
        -90.0 + 180.0 * (rows_f + 1.0) / n,
        -180.0 + 360.0 * (cols_f + 1.0) / n,
    )


def _rect_dists(c_lat0, c_lng0, c_lat1, c_lng1, z_lat0, z_lng0, z_lat1, z_lng1):
    """Squared (nearest, farthest-corner) clamp distances between cell rects
    and zone MBRs, elementwise. d_min <= d_max holds in float64 too (every
    operation is monotone), which the incremental kNN update relies on."""
    gl = np.maximum(np.maximum(z_lat0 - c_lat1, c_lat0 - z_lat1), 0.0)
    gg = np.maximum(np.maximum(z_lng0 - c_lng1, c_lng0 - z_lng1), 0.0)
    fl = np.maximum(np.maximum(z_lat0 - c_lat0, c_lat1 - z_lat1), 0.0)
    fg = np.maximum(np.maximum(z_lng0 - c_lng0, c_lng1 - z_lng1), 0.0)
    return gl * gl + gg * gg, fl * fl + fg * fg


def _seg_min(vals, seg_off):
    """Per-segment minimum of a CSR-segmented array; +inf for empty segments."""
    cnt = np.diff(seg_off)
    out = np.full(len(cnt), np.inf)
    out[cnt > 0] = np.minimum.reduceat(vals, seg_off[:-1][cnt > 0])
    return out


def _knn_keep_mask(c_lat0, c_lng0, c_lat1, c_lng1, z_lat0, z_lng0, z_lat1,
                   z_lng1, seg_off):
    """Exactness predicate per (cell, zone) pair row, CSR-segmented by cell:
    keep zones whose nearest rect-to-rect distance <= U(cell), where U(cell)
    is the min over the cell's candidate zones of the farthest-corner clamp
    distance. All arrays are per-PAIR (already gathered); seg_off bounds the
    cells' pair segments."""
    d_min, d_max = _rect_dists(
        c_lat0, c_lng0, c_lat1, c_lng1, z_lat0, z_lng0, z_lat1, z_lng1
    )
    return d_min <= np.repeat(_seg_min(d_max, seg_off), np.diff(seg_off))


def _bbox_cols(zone_bbox: np.ndarray):
    """(min_lat, min_lng, max_lat, max_lng) float64 columns of a (Z, 4) MBR array."""
    return tuple(zone_bbox[:, k].astype(np.float64) for k in range(4))


def _compile_knn_table(zone_bbox: np.ndarray, res: int = DEFAULT_KNN_RES):
    """Exact kNN candidate prefilter over every res-level cell (the full
    build: _knn_cells over all cells). Returns the (n*n + 1,) CSR offsets
    and the int32 zone-index lists."""
    n = 1 << res
    return _knn_cells(zone_bbox, res, np.arange(n * n, dtype=np.int64))


def _knn_cells(zone_bbox: np.ndarray, res: int, cells: np.ndarray):
    """Exact kNN candidate lists of the given res-level cells (sorted unique
    int64 ids) -> (off, zidx) CSR over ``cells``.

    For each cell c: U(c) = min over zones of the distance from the FARTHEST
    point of c to the zone MBR (an upper bound on any point's nearest-zone
    distance — the clamp distance is convex in p, so the max over the cell
    is attained at a corner). Keep exactly the zones whose NEAREST
    rect-to-rect distance to c is <= U(c): for every p in c the true argmin
    (and every distance tie, hence the min-zone_id tie-break) is inside the
    kept list. Brute-force argmin over Z zones per point becomes argmin over
    a handful of candidates.

    Compiled HIERARCHICALLY: dense only at _KNN_BASE_RES, then each finer
    level tests a child cell only against its parent's kept list. Exact
    because child candidate sets are contained in the parent's: for c' in c,
    d_min(z, c') >= d_min(z, c) and U(c') <= U(c) (the child's farthest
    corner is no farther), so anything kept at the child was kept at the
    parent. This is what makes a res-8 grid (65k cells, ~7 candidates/cell,
    ~12x faster probes than res 6) compile in ~1 s instead of the dense
    (cells x zones) minute at Z = 24,000.

    A cell's list depends only on its ancestors' lists, so the routine
    visits just ``cells`` and their ancestors; over all cells it is the full
    build (_compile_knn_table), over a few it is the incremental update's
    rebuild (_knn_update), and both give the same bytes per cell.

    Which cells an update must rebuild. Let a zone change its MBR from Bo to
    Bn (a delete has no Bn, an add no Bo), and let U_old(c) be the min over
    c's OLD list of d_max — equal to U(c) over all old zones, because the
    d_max argmin has d_min <= d_max = U and is therefore kept. If the zone
    is not in c's old list then d_max(Bo, c) >= d_min(Bo, c) > U_old(c), so
    the zone never set U(c); if also d_min(Bn, c) > U_old(c), then
    d_max(Bn, c) > U_old(c) too, so U(c) is unchanged, the old zone was not
    kept and the new MBR is not kept: c's list is its old list, renumbered
    for the shifted zone indices. Only the cells that listed the zone or
    that satisfy d_min(Bn, c) <= U_old(c) can change.
    """
    z_lat0, z_lng0, z_lat1, z_lng1 = _bbox_cols(zone_bbox)
    nz = len(z_lat0)
    cells = np.asarray(cells, np.int64)
    if nz == 0:
        return np.zeros(len(cells) + 1, np.int64), np.empty(0, np.int32)

    # the ancestors of ``cells`` at every level, coarse to fine
    base = min(res, _KNN_BASE_RES)
    levels = [cells]
    for r in range(res, base, -1):
        n = 1 << r
        c = levels[-1]
        levels.append(np.unique((c // n >> 1) * (n >> 1) + (c % n >> 1)))
    levels.reverse()

    # dense base level (chunked (cells x zones) matrices)
    lv = levels[0]
    c_lat0, c_lng0, c_lat1, c_lng1 = _cell_rects(1 << base, lv)
    off = np.zeros(len(lv) + 1, dtype=np.int64)
    keep_parts = []
    # smaller chunks than the query-side budget: the FIRST chunk's
    # temporaries fault in fresh pages (expensive on this host's bad
    # windows, BASELINE.md round 4) and every later chunk reuses them, so
    # many small chunks beat few huge ones — same flops, ~8x fewer fresh
    # pages at Z=24k (measured 103 s -> ~1 s for the res-4 dense level)
    step = max(1, min(_KNN_CELL_BUDGET, 500_000) // max(nz, 1))
    for s in range(0, len(lv), step):
        sl = slice(s, min(s + step, len(lv)))
        ncell = sl.stop - sl.start
        pair_z = np.tile(np.arange(nz, dtype=np.int64), ncell)
        pair_c = np.repeat(np.arange(ncell, dtype=np.int64), nz)
        seg = np.arange(0, (ncell + 1) * nz, nz, dtype=np.int64)
        keep = _knn_keep_mask(
            c_lat0[sl][pair_c], c_lng0[sl][pair_c],
            c_lat1[sl][pair_c], c_lng1[sl][pair_c],
            z_lat0[pair_z], z_lng0[pair_z], z_lat1[pair_z], z_lng1[pair_z],
            seg,
        )
        kept = pair_z[keep]
        keep_parts.append(kept.astype(np.int32))
        off[sl.start + 1 : sl.stop + 1] = np.cumsum(
            np.add.reduceat(keep.astype(np.int64), seg[:-1])
        ) + off[sl.start]
    zidx = (
        np.concatenate(keep_parts) if keep_parts else np.empty(0, np.int32)
    )

    # refine level by level: child candidates come from the parent's list
    for r, lv_par, lv in zip(range(base + 1, res + 1), levels, levels[1:]):
        n = 1 << r
        c_lat0, c_lng0, c_lat1, c_lng1 = _cell_rects(n, lv)
        parent = np.searchsorted(lv_par, (lv // n >> 1) * (n >> 1) + (lv % n >> 1))
        cnt = (off[parent + 1] - off[parent]).astype(np.int64)
        pair_zrow = _ragged_ramp(off[parent], cnt)  # rows into zidx
        pair_z = zidx[pair_zrow].astype(np.int64)
        pair_c = np.repeat(np.arange(len(lv), dtype=np.int64), cnt)
        seg = np.concatenate([[0], np.cumsum(cnt)]).astype(np.int64)
        keep = _knn_keep_mask(
            c_lat0[pair_c], c_lng0[pair_c], c_lat1[pair_c], c_lng1[pair_c],
            z_lat0[pair_z], z_lng0[pair_z], z_lat1[pair_z], z_lng1[pair_z],
            seg,
        )
        zidx = zidx[pair_zrow[keep]]
        off = np.zeros(len(lv) + 1, dtype=np.int64)
        off[1:] = np.cumsum(np.add.reduceat(keep.astype(np.int64), seg[:-1]))
    return off, zidx


def _knn_update(prev: CompiledIndex, idx: CompiledIndex, pos: int,
                old_bbox=None, new_bbox=None):
    """idx's kNN table from prev's, after the zone at index ``pos`` changed
    its MBR from ``old_bbox`` to ``new_bbox`` (None for a delete's new / an
    add's old side). Rebuilds with _knn_cells only the cells whose list can
    change (the argument is in _knn_cells' docstring) and copies every other
    cell's list, renumbered by the zone-count change past ``pos``."""
    res = prev.knn_res
    n = 1 << res
    off, zi = prev.knn_off, prev.knn_zidx
    cnt = np.diff(off)
    aff = np.zeros(n * n, dtype=bool)
    if old_bbox is not None:  # cells that listed the zone
        aff[np.searchsorted(off, np.flatnonzero(zi == pos), side="right") - 1] = True
    if new_bbox is not None:  # cells where the new MBR is within U_old
        c_lat0, c_lng0, c_lat1, c_lng1 = _cell_rects(n)
        d_new, _ = _rect_dists(
            c_lat0, c_lng0, c_lat1, c_lng1, *np.asarray(new_bbox, np.float64)
        )
        # U_old from the whole old list, only where d_new could be <= it:
        # any one candidate's d_max bounds U_old from above
        z_lat0, z_lng0, z_lat1, z_lng1 = _bbox_cols(prev.zone_bbox)
        ub = np.full(n * n, np.inf)
        has = cnt > 0
        first = zi[off[:-1][has]]
        _, ub[has] = _rect_dists(
            c_lat0[has], c_lng0[has], c_lat1[has], c_lng1[has],
            z_lat0[first], z_lng0[first], z_lat1[first], z_lng1[first],
        )
        near = np.flatnonzero(d_new <= ub)
        ncnt = cnt[near]
        pz = zi[_ragged_ramp(off[near], ncnt)].astype(np.int64)
        pc = np.repeat(near, ncnt)
        _, d_max = _rect_dists(
            c_lat0[pc], c_lng0[pc], c_lat1[pc], c_lng1[pc],
            z_lat0[pz], z_lng0[pz], z_lat1[pz], z_lng1[pz],
        )
        u_old = _seg_min(d_max, np.concatenate([[0], np.cumsum(ncnt)]))
        aff[near[d_new[near] <= u_old]] = True

    cells = np.flatnonzero(aff)
    a_off, a_zi = _knn_cells(idx.zone_bbox, res, cells)
    shift = len(idx.zone_ids) - len(prev.zone_ids)  # +1 add, -1 delete, 0 replace
    zi_old = zi.astype(np.int64)
    zi_old[zi_old >= pos] += shift  # the zone's own rows sit in rebuilt cells
    new_cnt = cnt.copy()
    new_cnt[cells] = np.diff(a_off)
    starts = off[:-1].copy()
    starts[cells] = len(zi) + a_off[:-1]
    pool = np.concatenate([zi_old, a_zi.astype(np.int64)])
    knn_off = np.concatenate([[0], np.cumsum(new_cnt)]).astype(np.int64)
    return knn_off, pool[_ragged_ramp(starts, new_cnt)].astype(np.int32)


def _zone_cover_task(args):
    """Picklable per-zone compile step (multiprocessing / mapPartitions)."""
    ring_lat, ring_lng, base_res, max_res = args
    edges = ring_edges(ring_lat, ring_lng)
    return _zone_cover(edges, ring_bbox(ring_lat, ring_lng), base_res, max_res)


_PARALLEL_COMPILE_MIN = 512  # zones; below this fork overhead dominates


def _active_spark():
    """The live SparkSession, if any (None when pyspark absent / no session).
    Used to decide how to parallelize the cover compile: forking a process
    pool under a live py4j/JVM driver risks rare fork-with-threads child
    deadlocks, so with a session alive the compile distributes through Spark
    itself (compile_cover_spark — no fork at all, and the shape that scales
    past one driver anyway). forkserver is NOT the answer: it re-imports the
    caller's __main__ per child, which re-executes unguarded scripts."""
    try:
        from pyspark.sql import SparkSession

        return SparkSession.getActiveSession() or SparkSession._instantiatedSession
    except Exception:
        return None


def compile_cover(
    zones: list,
    base_res: int = DEFAULT_BASE_RES,
    max_res: int = DEFAULT_MAX_RES,
    workers: int = None,
    _covers: list = None,
) -> CompiledIndex:
    """Quadtree-subdivide each zone into full/boundary cells and merge.

    Driver-side, numpy-vectorized per cell. This is the engine analog of the
    reference's build step (AddTimezone + BuildRtree, timezone.go:29-45,
    208-214), executed once per job then sc.broadcast().

    Zones are independent, so reference-scale sets (~24k polygons) compile
    in a process pool (workers=None -> auto: serial below
    _PARALLEL_COMPILE_MIN zones, else one process per core, capped). The
    same per-zone task is what a Spark-distributed compile would run in
    mapPartitions over the zone table; the merged index is identical and
    deterministic either way (results merge in zone order).
    """
    zones = sorted(zones, key=lambda z: z.zone_id)
    zone_ids = np.array([z.zone_id for z in zones], dtype=np.int32)
    tzids = [z.tzid for z in zones]
    zone_bbox = np.array([z.bbox for z in zones], dtype=F32).reshape(-1, 4)

    # global flat edge arrays + per-zone offsets
    edge_parts = [ring_edges(z.ring_lat, z.ring_lng) for z in zones]
    ea_lat = np.concatenate([p[0] for p in edge_parts]) if edge_parts else np.empty(0, F32)
    ea_lng = np.concatenate([p[1] for p in edge_parts]) if edge_parts else np.empty(0, F32)
    eb_lat = np.concatenate([p[2] for p in edge_parts]) if edge_parts else np.empty(0, F32)
    eb_lng = np.concatenate([p[3] for p in edge_parts]) if edge_parts else np.empty(0, F32)
    zone_edge_base = np.concatenate(
        [[0], np.cumsum([len(p[0]) for p in edge_parts])]
    ).astype(np.int64)

    live = [zidx for zidx, z in enumerate(zones) if len(z.ring_lat) >= 3]
    # degenerate (<3 vertex) rings never match (polygon.go:101-103) — skipped
    auto = workers is None
    if auto:
        import os

        workers = (
            min(os.cpu_count() or 1, 16) if len(live) >= _PARALLEL_COMPILE_MIN else 1
        )
    if _covers is not None:  # precomputed per-live-zone covers (Spark path)
        covers = _covers
    elif workers > 1 and auto and (spark := _active_spark()) is not None:
        # live JVM driver: distribute through Spark instead of forking a
        # pool under py4j threads (see _active_spark). Identical result —
        # compile_cover_spark re-enters here with _covers precomputed.
        return compile_cover_spark(spark, zones, base_res, max_res)
    elif workers > 1:
        import multiprocessing as mp

        tasks = [
            (zones[zidx].ring_lat, zones[zidx].ring_lng, base_res, max_res)
            for zidx in live
        ]
        # fork is fastest but unsafe under a live py4j JVM (children inherit
        # locked JVM thread state); auto mode never reaches here with a JVM
        # alive (the Spark branch catches it), so fork implies no JVM —
        # an EXPLICIT workers= request with a session up gets spawn, which
        # re-execs and cannot deadlock. Spawn's one constraint: the caller's
        # __main__ must be importable (scripts/pytest yes; stdin/REPL no —
        # such callers should leave workers=None and get the Spark path).
        method = (
            "fork"
            if _active_spark() is None and "fork" in mp.get_all_start_methods()
            else "spawn"
        )
        ctx = mp.get_context(method)
        with ctx.Pool(workers) as pool:
            covers = pool.map(_zone_cover_task, tasks, chunksize=max(1, len(tasks) // (workers * 8)))
    else:
        covers = [
            _zone_cover(edge_parts[zidx], zones[zidx].bbox, base_res, max_res)
            for zidx in live
        ]

    # vectorized merge: gather every zone's claim/boundary rows into flat
    # arrays, then ONE lexsort per structure produces the CSR layouts.
    # Byte-identical to the old per-entry dict merge (cells ascending,
    # candidates ascending zidx within a cell — zidx is the lexsort
    # secondary key) but with zero per-cell Python: at Z=24k the dict form
    # burned ~20 s in 1.9M list appends and 400k one-element astype calls.
    full_cids = {r: [] for r in range(base_res, max_res + 1)}
    full_owner = {r: [] for r in range(base_res, max_res + 1)}  # (zidx, len)
    b_cid_l, b_zidx_l, b_sub_l, b_base_l = [], [], [], []
    for zidx, (z_full, z_boundary) in zip(live, covers):
        base = zone_edge_base[zidx]
        for res, cids in z_full.items():
            full_cids[res].append(cids)  # native dtype; one astype per res below
            full_owner[res].append((zidx, len(cids)))
        for cid, sub in z_boundary:
            b_cid_l.append(cid)
            b_zidx_l.append(zidx)
            b_sub_l.append(sub)
            b_base_l.append(base)

    idx = CompiledIndex(
        base_res=base_res,
        max_res=max_res,
        zone_ids=zone_ids,
        tzids=tzids,
        zone_bbox=zone_bbox,
        ea_lat=ea_lat,
        ea_lng=ea_lng,
        eb_lat=eb_lat,
        eb_lng=eb_lng,
    )

    for r in range(base_res, max_res + 1):
        if not full_cids[r]:
            idx.full[r] = (
                np.empty(0, np.int64),
                np.zeros(1, np.int64),
                np.empty(0, np.int32),
            )
            continue
        carr = np.concatenate(full_cids[r]).astype(np.int64, copy=False)
        owners = np.array(full_owner[r], np.int64)
        zarr = np.repeat(owners[:, 0], owners[:, 1]).astype(np.int32)
        order = np.lexsort((zarr, carr))
        carr, zarr = carr[order], zarr[order]
        cells, counts = np.unique(carr, return_counts=True)
        off = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)
        idx.full[r] = (cells, off, zarr)

    if b_cid_l:
        b_cid = np.asarray(b_cid_l, np.int64)
        b_zdx = np.asarray(b_zidx_l, np.int64)
        lens = np.array([len(sub) for sub in b_sub_l], np.int64)
        starts = np.concatenate([[0], np.cumsum(lens)])[:-1]
        big = np.concatenate(b_sub_l).astype(np.int64)
        big += np.repeat(np.asarray(b_base_l, np.int64), lens)
        order = np.lexsort((b_zdx, b_cid))
        cells_b, cell_counts = np.unique(b_cid[order], return_counts=True)
        idx.b_cells = cells_b
        idx.b_off = np.concatenate([[0], np.cumsum(cell_counts)]).astype(np.int64)
        idx.b_zone = b_zdx[order].astype(np.int32)
        ordered_lens = lens[order]
        idx.b_edge_off = np.concatenate([[0], np.cumsum(ordered_lens)]).astype(np.int64)
        edge_idx = (
            big[_ragged_ramp(starts[order], ordered_lens)]
            if big.size
            else np.empty(0, np.int64)
        )
    else:
        idx.b_cells = np.empty(0, np.int64)
        idx.b_off = np.zeros(1, np.int64)
        idx.b_zone = np.empty(0, np.int32)
        idx.b_edge_off = np.zeros(1, np.int64)
        edge_idx = np.empty(0, np.int64)
    idx.zone_edge_off = zone_edge_base
    _set_boundary_edges(idx, edge_idx)
    idx.knn_res = DEFAULT_KNN_RES
    return _finalize_index(idx)


def compile_cover_spark(
    spark,
    zones: list,
    base_res: int = DEFAULT_BASE_RES,
    max_res: int = DEFAULT_MAX_RES,
) -> CompiledIndex:
    """Distribute the per-zone cover compile over Spark executors.

    The per-zone step (_zone_cover_task) is embarrassingly parallel and
    picklable, so zone sets too large for a driver process pool fan out as a
    Spark job (the 100 TB-shape variant: the zone TABLE can itself be big
    while each zone's cover result is tiny). Results are collected keyed by
    zone index and merged in zone order — byte-identical to compile_cover on
    the same input (pinned by tests/test_world_scale.py).
    """
    zones_sorted = sorted(zones, key=lambda z: z.zone_id)
    live = [zidx for zidx, z in enumerate(zones_sorted) if len(z.ring_lat) >= 3]
    tasks = [
        (zidx, zones_sorted[zidx].ring_lat, zones_sorted[zidx].ring_lng)
        for zidx in live
    ]
    n_slices = max(1, min(len(tasks), spark.sparkContext.defaultParallelism * 4))
    pairs = (
        spark.sparkContext.parallelize(tasks, numSlices=n_slices)
        .map(lambda t: (t[0], _zone_cover_task((t[1], t[2], base_res, max_res))))
        .collect()
    )
    by_zidx = dict(pairs)
    covers = [by_zidx[zidx] for zidx in live]
    return compile_cover(zones_sorted, base_res, max_res, _covers=covers)


def _set_boundary_edges(idx: CompiledIndex, edge_idx: np.ndarray) -> None:
    """Store boundary edge subsets from a global edge-index array.

    The int32 index form is ALWAYS kept (it is what makes in-place zone
    updates exact — delete/add rewrite indices, they never re-derive them);
    below _MATERIALIZE_MAX duplicated rows the contiguous float32 streams
    are ADDITIONALLY materialized for the sequential probe fast path (the
    same policy compile_cover has always applied)."""
    idx.b_edge_idx = edge_idx.astype(np.int32)
    if edge_idx.shape[0] <= _MATERIALIZE_MAX:
        idx.b_ea_lat = idx.ea_lat[edge_idx]
        idx.b_ea_lng = idx.ea_lng[edge_idx]
        idx.b_eb_lat = idx.eb_lat[edge_idx]
        idx.b_eb_lng = idx.eb_lng[edge_idx]
    else:
        idx.b_ea_lat = idx.b_ea_lng = None
        idx.b_eb_lat = idx.b_eb_lng = None


def _finalize_index(idx: CompiledIndex, prev: CompiledIndex = None,
                    pos: int = None, old_bbox=None,
                    new_bbox=None) -> CompiledIndex:
    """kNN candidate table + stats — the shared tail of compile_cover and the
    incremental update paths (same formulas => identical index bytes).

    With ``prev`` (the index before a one-zone update at zone index ``pos``,
    whose MBR went from ``old_bbox`` to ``new_bbox``) only the kNN cells the
    change can reach are rebuilt (_knn_update); otherwise the whole table."""
    if prev is None:
        idx.knn_off, idx.knn_zidx = _compile_knn_table(idx.zone_bbox, idx.knn_res)
    else:
        idx.knn_off, idx.knn_zidx = _knn_update(prev, idx, pos, old_bbox, new_bbox)
    # the pruned path's reduceat assumes every coarse cell keeps >=1 candidate
    # (true by construction: keep includes each cell's d_max argmin zone);
    # checked here, on every path, so a compile or update regression fails
    # loudly instead of silently mis-resolving in knn_fallback
    if len(idx.zone_ids):
        empty = np.flatnonzero(np.diff(idx.knn_off) == 0)
        if len(empty):
            raise RuntimeError(
                f"empty kNN candidate cell: {len(empty)} cells at res "
                f"{idx.knn_res}, first {int(empty[0])}"
            )
    n_full = {r: len(v[0]) for r, v in idx.full.items()}
    idx.stats = {
        "zones": len(idx.zone_ids),
        "edges": int(idx.ea_lat.shape[0]),
        "interior_cells": n_full,
        "boundary_cells": int(len(idx.b_cells)),
        "boundary_candidates": int(len(idx.b_zone)),
        "max_candidates_per_cell": int(np.diff(idx.b_off).max())
        if len(idx.b_cells)
        else 0,
        "mean_edges_per_candidate": float(np.diff(idx.b_edge_off).mean())
        if len(idx.b_zone)
        else 0.0,
    }
    return idx


# ---------------------------------------------------------------------------
# incremental index maintenance — the engine mapping of the reference's
# store Delete/Replace (rtree R5/R6; timezone.go's static build never needs
# them, but the store API exposes them): zones are independent in the cover,
# so one zone can be cut out of / merged into every CSR structure without
# touching any other zone's geometry work. Results are BYTE-IDENTICAL to a
# fresh compile_cover over the updated zone list (tests/test_index_update.py).
# The kNN candidate table is not spliced: a zone's MBR can enter or leave
# other zones' candidate lists. _finalize_index instead rebuilds only the
# kNN cells the changed MBR can reach (_knn_update; the exactness argument is
# in _knn_cells) and copies the rest — no polygon geometry, and a replace
# splices out and in before finalizing once.
# ---------------------------------------------------------------------------


def _zone_pos(idx: CompiledIndex, zone_id: int) -> tuple:
    """(insertion index of ``zone_id`` in idx.zone_ids, present?). Raises
    for indexes without the span arrays the splices need."""
    if idx.b_edge_idx is None or idx.zone_edge_off is None:
        raise ValueError(
            "index predates INDEX_FORMAT_VERSION 5 (no edge-index/span "
            "arrays) — recompile before incremental updates"
        )
    pos = int(np.searchsorted(idx.zone_ids, zone_id))
    return pos, pos < len(idx.zone_ids) and idx.zone_ids[pos] == zone_id


def _splice_out(idx: CompiledIndex, pos: int) -> CompiledIndex:
    """The cover structures of idx without the zone at index ``pos`` (no kNN
    table or stats yet — _finalize_index adds them)."""
    out = CompiledIndex(
        base_res=idx.base_res,
        max_res=idx.max_res,
        zone_ids=np.delete(idx.zone_ids, pos),
        tzids=idx.tzids[:pos] + idx.tzids[pos + 1 :],
        zone_bbox=np.delete(idx.zone_bbox, pos, axis=0),
        knn_res=idx.knn_res,
    )
    # global edge blob: cut the zone's contiguous span, shift later spans
    zeo = idx.zone_edge_off
    s0, s1 = int(zeo[pos]), int(zeo[pos + 1])
    cut = s1 - s0
    keep_e = np.ones(idx.ea_lat.shape[0], bool)
    keep_e[s0:s1] = False
    out.ea_lat = idx.ea_lat[keep_e]
    out.ea_lng = idx.ea_lng[keep_e]
    out.eb_lat = idx.eb_lat[keep_e]
    out.eb_lng = idx.eb_lng[keep_e]
    out.zone_edge_off = np.concatenate([zeo[: pos + 1], zeo[pos + 2 :] - cut])

    # full-claim CSR per resolution: drop the zone's entries, renumber zidx,
    # drop cells whose claim list became empty
    for r, (cells, off, zl) in idx.full.items():
        if len(cells) == 0:
            out.full[r] = (cells.copy(), off.copy(), zl.copy())
            continue
        counts = np.diff(off)
        cell_per = np.repeat(np.arange(len(cells), dtype=np.int64), counts)
        m = zl != pos
        new_counts = np.bincount(cell_per[m], minlength=len(cells))
        zl2 = zl[m].astype(np.int64)
        zl2[zl2 > pos] -= 1
        kc = new_counts > 0
        out.full[r] = (
            cells[kc],
            np.concatenate([[0], np.cumsum(new_counts[kc])]).astype(np.int64),
            zl2.astype(np.int32),
        )

    # boundary CSR: drop the zone's candidates and their edge subsets
    cnt = np.diff(idx.b_off)
    cand_cell = np.repeat(np.arange(len(idx.b_cells), dtype=np.int64), cnt)
    mk = idx.b_zone != pos
    e_cnt = np.diff(idx.b_edge_off)
    new_cnt = np.bincount(cand_cell[mk], minlength=len(idx.b_cells))
    kc = new_cnt > 0
    out.b_cells = idx.b_cells[kc]
    out.b_off = np.concatenate([[0], np.cumsum(new_cnt[kc])]).astype(np.int64)
    bz = idx.b_zone[mk].astype(np.int64)
    bz[bz > pos] -= 1
    out.b_zone = bz.astype(np.int32)
    out.b_edge_off = np.concatenate([[0], np.cumsum(e_cnt[mk])]).astype(np.int64)
    ei = idx.b_edge_idx[np.repeat(mk, e_cnt)].astype(np.int64)
    ei[ei >= s1] -= cut  # kept subsets never index the deleted span
    _set_boundary_edges(out, ei)
    return out


def _splice_in(idx: CompiledIndex, zone: Zone, pos: int) -> CompiledIndex:
    """The cover structures of idx with ``zone`` inserted at index ``pos``
    (no kNN table or stats yet — _finalize_index adds them). Only the new
    zone's cover is computed; existing zones' structures are spliced around
    it."""
    na_lat, na_lng, nb_lat, nb_lng = ring_edges(zone.ring_lat, zone.ring_lng)
    n_new = na_lat.shape[0]
    zeo = idx.zone_edge_off
    ins = int(zeo[pos])

    out = CompiledIndex(
        base_res=idx.base_res,
        max_res=idx.max_res,
        zone_ids=np.insert(idx.zone_ids, pos, zone.zone_id),
        tzids=idx.tzids[:pos] + [zone.tzid] + idx.tzids[pos:],
        zone_bbox=np.insert(
            idx.zone_bbox, pos, np.asarray(zone.bbox, dtype=F32), axis=0
        ),
        knn_res=idx.knn_res,
    )
    out.ea_lat = np.concatenate([idx.ea_lat[:ins], na_lat, idx.ea_lat[ins:]])
    out.ea_lng = np.concatenate([idx.ea_lng[:ins], na_lng, idx.ea_lng[ins:]])
    out.eb_lat = np.concatenate([idx.eb_lat[:ins], nb_lat, idx.eb_lat[ins:]])
    out.eb_lng = np.concatenate([idx.eb_lng[:ins], nb_lng, idx.eb_lng[ins:]])
    out.zone_edge_off = np.concatenate([zeo[: pos + 1], zeo[pos:] + n_new])

    # the one piece of real geometry work: the NEW zone's own cover
    if len(zone.ring_lat) >= 3:
        z_full, z_boundary = _zone_cover(
            (na_lat, na_lng, nb_lat, nb_lng), zone.bbox, idx.base_res, idx.max_res
        )
    else:  # degenerate ring never matches (polygon.go:101-103)
        z_full, z_boundary = {}, []

    # full-claim merge: expand old CSR to (cell, zidx) rows, renumber, append
    # the new zone's rows, lexsort back into (cell asc, zidx asc) CSR
    for r in range(idx.base_res, idx.max_res + 1):
        cells, off, zl = idx.full[r]
        old_cell = np.repeat(cells, np.diff(off))
        old_z = zl.astype(np.int64)
        old_z[old_z >= pos] += 1
        new_c = np.sort(np.asarray(z_full.get(r, np.empty(0, np.int64)), np.int64))
        ac = np.concatenate([old_cell, new_c])
        az = np.concatenate([old_z, np.full(len(new_c), pos, np.int64)])
        order = np.lexsort((az, ac))
        ac, az = ac[order], az[order]
        uc, uoff = np.unique(ac, return_index=True)
        out.full[r] = (
            uc,
            np.concatenate([uoff, [len(ac)]]).astype(np.int64),
            az.astype(np.int32),
        )

    # boundary merge: same row expansion, with each candidate's edge subset
    # carried as a (start, count) block into a combined edge-index pool and
    # gathered back in sorted candidate order
    e_cnt = np.diff(idx.b_edge_off)
    old_cell = np.repeat(idx.b_cells, np.diff(idx.b_off))
    old_z = idx.b_zone.astype(np.int64)
    old_z[old_z >= pos] += 1
    old_ei = idx.b_edge_idx.astype(np.int64)
    old_ei[old_ei >= ins] += n_new
    nb_cell = np.array([c for c, _ in z_boundary], dtype=np.int64)
    nb_subs = [np.asarray(s, np.int64) for _, s in z_boundary]
    nb_cnt = np.array([len(s) for s in nb_subs], dtype=np.int64)
    nb_ei = (
        np.concatenate(nb_subs) + ins if nb_subs else np.empty(0, np.int64)
    )
    pool = np.concatenate([old_ei, nb_ei])
    nb_start = (
        np.concatenate([[0], np.cumsum(nb_cnt[:-1])]) if len(nb_cnt) else
        np.empty(0, np.int64)
    ) + len(old_ei)
    all_cell = np.concatenate([old_cell, nb_cell])
    all_z = np.concatenate([old_z, np.full(len(nb_cell), pos, np.int64)])
    all_cnt = np.concatenate([e_cnt, nb_cnt]).astype(np.int64)
    all_start = np.concatenate([idx.b_edge_off[:-1], nb_start]).astype(np.int64)
    order = np.lexsort((all_z, all_cell))
    sc = all_cell[order]
    out.b_zone = all_z[order].astype(np.int32)
    cnt_o = all_cnt[order]
    out.b_edge_off = np.concatenate([[0], np.cumsum(cnt_o)]).astype(np.int64)
    uc, uoff = np.unique(sc, return_index=True)
    out.b_cells = uc
    # candidate counts per unique cell (uoff marks each cell's first cand)
    out.b_off = np.concatenate([uoff, [len(sc)]]).astype(np.int64)
    _set_boundary_edges(out, pool[_ragged_ramp(all_start[order], cnt_o)])

    return out


def delete_zone(idx: CompiledIndex, zone_id: int) -> CompiledIndex:
    """A new CompiledIndex with ``zone_id`` removed (input left untouched —
    it may be live in a broadcast). O(index size), no cover recompute."""
    pos, present = _zone_pos(idx, zone_id)
    if not present:
        raise KeyError(f"zone_id {zone_id} not in index")
    return _finalize_index(
        _splice_out(idx, pos), idx, pos, old_bbox=idx.zone_bbox[pos]
    )


def add_zone(idx: CompiledIndex, zone: Zone) -> CompiledIndex:
    """A new CompiledIndex with ``zone`` merged in (store append for a live
    index — S9's AddTimezone without a full rebuild)."""
    pos, present = _zone_pos(idx, zone.zone_id)
    if present:
        raise KeyError(f"zone_id {zone.zone_id} already in index")
    out = _splice_in(idx, zone, pos)
    return _finalize_index(out, idx, pos, new_bbox=out.zone_bbox[pos])


def replace_zone(idx: CompiledIndex, zone: Zone) -> CompiledIndex:
    """Swap a zone's geometry in place (rtree R6 Replace): exact delete +
    add under the same zone_id, spliced out and in with one kNN update."""
    pos, present = _zone_pos(idx, zone.zone_id)
    if not present:
        raise KeyError(f"zone_id {zone.zone_id} not in index")
    out = _splice_in(_splice_out(idx, pos), zone, pos)
    return _finalize_index(
        out, idx, pos, old_bbox=idx.zone_bbox[pos], new_bbox=out.zone_bbox[pos]
    )


def resolve_points(idx: CompiledIndex, lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    """Resolve N float32 points to zone_id (int32, -1 = no containing zone).

    Match semantics: argmin(zone_id) over containing zones (SURVEY.md §5.1 —
    the documented deterministic deviation from the reference's
    traversal-order-dependent abort, timezone.go:66-76).

    Fast path: interior (full-claim) lookup per resolution — no ray cast.
    Slow path: per boundary cell, exact float32 ray cast against each
    candidate's pruned edge subset.
    """
    lat = np.asarray(lat, dtype=F32)
    lng = np.asarray(lng, dtype=F32)
    n = lat.shape[0]
    out = np.full(n, np.iinfo(np.int32).max, dtype=np.int64)  # running argmin

    cell_hi = cell_id(lat, lng, idx.max_res)

    # interior claims at every resolution
    for r in range(idx.base_res, idx.max_res + 1):
        cells, off, zl = idx.full[r]
        if len(cells) == 0:
            continue
        c_r = cell_hi if r == idx.max_res else cell_id_parent(cell_hi, idx.max_res, r)
        pos = np.searchsorted(cells, c_r)
        pos_c = np.minimum(pos, len(cells) - 1)
        hit = cells[pos_c] == c_r
        if not hit.any():
            continue
        hit_idx = np.flatnonzero(hit)
        # min zone id per full-claim list is the first element (lists sorted)
        zmin = idx.zone_ids[zl[off[pos_c[hit_idx]]]]
        out[hit_idx] = np.minimum(out[hit_idx], zmin.astype(np.int64))

    # boundary candidates at max_res — fully vectorized, no Python loop over
    # cells: expand (point x candidate x edge) CSR-style, one float32 ray-cast
    # pass over all edge rows, parity via add.reduceat per (point, candidate)
    if idx.b_cells is not None and len(idx.b_cells):
        pos = np.searchsorted(idx.b_cells, cell_hi)
        pos_c = np.minimum(pos, len(idx.b_cells) - 1)
        is_b = idx.b_cells[pos_c] == cell_hi
        b_pts = np.flatnonzero(is_b)
        if len(b_pts):
            cp = pos_c[b_pts]
            n_cand = idx.b_off[cp + 1] - idx.b_off[cp]
            pair_pt = np.repeat(b_pts, n_cand)  # point index per pair
            pair_ci = _ragged_ramp(idx.b_off[cp], n_cand)  # candidate index
            # chunk pairs so the flat edge table stays bounded in memory
            e_cnt_all = idx.b_edge_off[pair_ci + 1] - idx.b_edge_off[pair_ci]
            budget = 250_000
            cum = e_cnt_all.cumsum()
            cuts = [0]
            while cuts[-1] < len(pair_ci):
                base = cum[cuts[-1] - 1] if cuts[-1] else 0
                nxt = int(np.searchsorted(cum, base + budget, side="right"))
                cuts.append(max(nxt, cuts[-1] + 1))
            for s, e in zip(cuts, cuts[1:]):
                _resolve_pairs(
                    idx, lat, lng, out, pair_pt[s:e], pair_ci[s:e], e_cnt_all[s:e]
                )

    out[out == np.iinfo(np.int32).max] = -1
    return out.astype(np.int32)


def _ragged_ramp(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenate [starts[i], starts[i]+counts[i]) ranges, vectorized."""
    counts = counts.astype(np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, np.int64)
    ends = counts.cumsum()
    r = np.arange(total, dtype=np.int64)
    within = r - np.repeat(ends - counts, counts)
    return np.repeat(starts.astype(np.int64), counts) + within


def _resolve_pairs(idx, lat, lng, out, pair_pt, pair_ci, e_cnt):
    """Evaluate PIP for (point, candidate) pairs; fold argmin into ``out``."""
    e_start = idx.b_edge_off[pair_ci]
    flat = _ragged_ramp(e_start, e_cnt)  # rows into the materialized edges
    if len(flat) == 0:
        return
    pair_of_row = np.repeat(np.arange(len(pair_ci), dtype=np.int64), e_cnt)
    pl = lat[pair_pt][pair_of_row]
    pg = lng[pair_pt][pair_of_row]
    if idx.b_ea_lat is not None:  # materialized contiguous edge subsets
        a_lat, a_lng = idx.b_ea_lat[flat], idx.b_ea_lng[flat]
        b_lat, b_lng = idx.b_eb_lat[flat], idx.b_eb_lng[flat]
    else:  # index form (reference-scale sets): gather from global edges
        g = idx.b_edge_idx[flat]
        a_lat, a_lng = idx.ea_lat[g], idx.ea_lng[g]
        b_lat, b_lng = idx.eb_lat[g], idx.eb_lng[g]
    straddle = (a_lng > pg) != (b_lng > pg)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        t = ((b_lat - a_lat) * (pg - a_lng)) / (b_lng - a_lng) + a_lat
    cross = (straddle & (pl < t)).astype(np.int64)
    row_starts = np.concatenate([[0], e_cnt.cumsum()[:-1]]).astype(np.int64)
    parity = np.add.reduceat(cross, row_starts) & 1
    inside = parity.astype(bool)
    if inside.any():
        zid = idx.zone_ids[idx.b_zone[pair_ci[inside]]].astype(np.int64)
        np.minimum.at(out, pair_pt[inside], zid)


_KNN_CELL_BUDGET = 4_000_000  # (points x zones) float64 cells per chunk


def _knn_brute(idx: CompiledIndex, lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    """Chunked brute-force nearest-MBR argmin (exact for ANY input coords)."""
    from .geom import bbox_clamp_dist2_f64

    n = len(lat)
    zmin_lat = idx.zone_bbox[:, 0].astype(np.float64)
    zmin_lng = idx.zone_bbox[:, 1].astype(np.float64)
    zmax_lat = idx.zone_bbox[:, 2].astype(np.float64)
    zmax_lng = idx.zone_bbox[:, 3].astype(np.float64)
    out = np.empty(n, dtype=np.int32)
    step = max(1, _KNN_CELL_BUDGET // max(zmin_lat.shape[0], 1))
    for s in range(0, n, step):
        sl = slice(s, min(s + step, n))
        d2 = bbox_clamp_dist2_f64(
            lat[sl], lng[sl], zmin_lat, zmin_lng, zmax_lat, zmax_lng
        )
        # argmin with zone_id tie-break: zones are sorted by zone_id, and
        # np.argmin returns the first minimum — the tie-break we want.
        out[sl] = idx.zone_ids[np.argmin(d2, axis=1)]
    return out


def knn_fallback(idx: CompiledIndex, lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    """Nearest zone for unmatched points: argmin over zones of the squared
    clamp distance to the zone MBR (float64 from float32 coords), tie-break
    min zone_id (SURVEY.md §2.3 J2 — the engine's explicit form of the
    reference's data-level ocean fallback, import.go:26-28).

    Candidate-pruned via the compiled coarse-cell table (knn_off/knn_zidx):
    each point compares only the zones that can be nearest for ANY point of
    its coarse cell (exact pruning, see _knn_cells) — argmin over
    ~tens of candidates instead of a dense (N, Z) float64 matrix that at
    reference scale (Z ~ 25k polygon rows) would be multi-GB per Arrow batch.
    Falls back to the chunked brute force for indexes without a table.
    """
    from .geom import bbox_clamp_dist2_pairs

    n = len(lat)
    if n == 0:
        return np.empty(0, dtype=np.int32)
    lat = np.asarray(lat, dtype=F32)
    lng = np.asarray(lng, dtype=F32)
    if idx.knn_off is None:  # legacy/brute path, chunked
        return _knn_brute(idx, lat, lng)

    # The pruned table's exactness proof only covers the valid coordinate
    # domain: cell_rowcol CLAMPS out-of-range coords into border cells whose
    # candidate list was computed for points INSIDE the cell, so e.g.
    # lat=200 could miss its true nearest zone. Unvalidated callers
    # (search_many, direct knn_fallback) route such points to the exact
    # brute-force argmin instead.
    in_dom = (lat >= -90.0) & (lat <= 90.0) & (lng >= -180.0) & (lng <= 180.0)
    if not in_dom.all():
        out = np.empty(n, dtype=np.int32)
        ins, outs = np.flatnonzero(in_dom), np.flatnonzero(~in_dom)
        out[ins] = knn_fallback(idx, lat[ins], lng[ins])
        out[outs] = _knn_brute(idx, lat[outs], lng[outs])
        return out

    cells = cell_id(lat, lng, idx.knn_res)
    cnt = idx.knn_off[cells + 1] - idx.knn_off[cells]
    pair_pt = np.repeat(np.arange(n, dtype=np.int64), cnt)
    zi = idx.knn_zidx[_ragged_ramp(idx.knn_off[cells], cnt)].astype(np.int64)
    d2 = bbox_clamp_dist2_pairs(
        lat[pair_pt],
        lng[pair_pt],
        idx.zone_bbox[zi, 0].astype(np.float64),
        idx.zone_bbox[zi, 1].astype(np.float64),
        idx.zone_bbox[zi, 2].astype(np.float64),
        idx.zone_bbox[zi, 3].astype(np.float64),
    )
    seg = np.concatenate([[0], np.cumsum(cnt)[:-1]]).astype(np.int64)
    dmin = np.minimum.reduceat(d2, seg)
    # min-zone_id tie-break across distance ties: candidates are stored
    # sorted by zidx (== zone_id order), mask non-minimal pairs to +inf id
    is_min = d2 == dmin[np.repeat(np.arange(n, dtype=np.int64), cnt)]
    zid_pairs = np.where(is_min, idx.zone_ids[zi].astype(np.int64), np.iinfo(np.int64).max)
    return np.minimum.reduceat(zid_pairs, seg).astype(np.int32)


# ---------------------------------------------------------------------------
# Introspection (R7 — the reference rtree's Children debugging API,
# geo/rtree.go:445-479, re-expressed for the compiled cover)
# ---------------------------------------------------------------------------


def cell_children(idx: CompiledIndex, cell: int, res: int = None) -> dict:
    """Enumerate every cover record a probe of ``cell`` consults.

    The reference exposes ``Children`` on index nodes so users can walk the
    tree for debugging/visualization (geo/rtree.go:445-479). The compiled
    cover's analog of a node's children is the ancestor chain of full-claim
    lists plus the boundary candidate list:

    Returns ``{"cell_id", "res", "bounds": (lat0, lng0, lat1, lng1),
    "full": {r: [zone_id, ...]}, "boundary": [{"zone_id", "tzid",
    "n_edges"}, ...]}``. ``full[r]`` holds the zones that FULLY claim the
    cell's ancestor at resolution r (an interior probe stops there);
    ``boundary`` lists the exact-PIP candidates with their pruned edge-subset
    sizes — empty unless ``res == max_res`` (only max_res cells carry
    boundary records). Driver-side debugging aid; not on the hot path.
    """
    if res is None:
        res = idx.max_res
    if not (idx.base_res <= res <= idx.max_res):
        raise ValueError(f"res {res} outside [{idx.base_res}, {idx.max_res}]")
    cell = int(cell)
    n = 1 << res
    if not (0 <= cell < n * n):
        raise ValueError(f"cell {cell} out of range at res {res}")

    full = {}
    for r in range(idx.base_res, res + 1):
        cells_r, off, zl = idx.full.get(r, (np.empty(0, np.int64), None, None))
        if len(cells_r) == 0:
            continue
        anc = int(cell_id_parent(np.array([cell]), res, r)[0]) if r < res else cell
        p = int(np.searchsorted(cells_r, anc))
        if p < len(cells_r) and cells_r[p] == anc:
            full[r] = idx.zone_ids[zl[off[p] : off[p + 1]]].tolist()

    boundary = []
    if res == idx.max_res and idx.b_cells is not None and len(idx.b_cells):
        p = int(np.searchsorted(idx.b_cells, cell))
        if p < len(idx.b_cells) and idx.b_cells[p] == cell:
            for ci in range(int(idx.b_off[p]), int(idx.b_off[p + 1])):
                zi = int(idx.b_zone[ci])
                boundary.append(
                    {
                        "zone_id": int(idx.zone_ids[zi]),
                        "tzid": idx.tzids[zi],
                        "n_edges": int(
                            idx.b_edge_off[ci + 1] - idx.b_edge_off[ci]
                        ),
                    }
                )

    row, col = divmod(cell, n)
    return {
        "cell_id": cell,
        "res": res,
        "bounds": cell_bounds(row, col, res),
        "full": full,
        "boundary": boundary,
    }


def describe_point(idx: CompiledIndex, lat: float, lng: float) -> dict:
    """Single-point probe trace: the cell chain a lookup walks for (lat,
    lng) plus the resolved zone — ``cell_children`` keyed by coordinates,
    with the engine's answer attached (via="full"|"boundary"|"knn")."""
    la = np.array([lat], dtype=F32)
    lg = np.array([lng], dtype=F32)
    cell = int(cell_id(la, lg, idx.max_res)[0])
    info = cell_children(idx, cell, idx.max_res)
    zid = int(resolve_points(idx, la, lg)[0])
    if zid >= 0:
        via = "full" if any(zid in v for v in info["full"].values()) else "boundary"
    else:
        zid = int(knn_fallback(idx, la, lg)[0])
        via = "knn"
    info["zone_id"] = zid
    info["via"] = via
    zi = int(np.searchsorted(idx.zone_ids, zid))
    info["tzid"] = idx.tzids[zi] if idx.zone_ids[zi] == zid else ""
    return info
