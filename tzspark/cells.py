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

The cover is compiled once on the driver (numpy; zone slices on a thread pool
for reference-scale sets), shipped to executors as one index file
(save_index / open_index, mapped once per Python worker), and probed inside
the engine's `F.arrow_udf` kernels (engine.lookup_kernel / assign_kernel over
pyarrow arrays) — the Spark-native replacement for the reference's mmap +
rebuild-R-tree-on-load design (timezone.go:192, 208-214).

Grid definition (res r, n = 2**r):
    row  = clamp(floor((lat +  90) / 180 * n), 0, n-1)
    col  = clamp(floor((lng + 180) / 360 * n), 0, n-1)
    cell = row * n + col        (at resolution r)

The arithmetic is done in float64 from float32-truncated coordinates so the
SQL oracle (CAST(lat AS FLOAT) then double math) matches bit-for-bit.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from .geom import (
    F32,
    ragged_parity,
    ring_bbox,
    ring_edges,
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

# Written into every index file (save_index) and mixed into the cover-cache
# content key (api._content_key): bump whenever CompiledIndex gains/changes
# compiled structures, so an index file of an older layout (e.g.
# pre-kNN-table, which would silently fall back to the brute path) is
# rejected by open_index and regenerated, never read by newer code.
INDEX_FORMAT_VERSION = 5  # v5: zone_edge_off spans + b_edge_idx always kept


def cell_rowcol(lat, lng, res: int):
    """(row, col) at resolution ``res``; float64 math from float32 coords.

    Clamped with fmax/fmin, which take the bound for a NaN: a NaN
    coordinate lands in row/col 0 like Spark's floor(NaN) cast to bigint
    (0) in cell_id_col, instead of an undefined int64 cast."""
    n = 1 << res
    lat64 = np.asarray(lat, dtype=F32).astype(np.float64)
    lng64 = np.asarray(lng, dtype=F32).astype(np.float64)
    row = np.fmin(np.fmax(np.floor((lat64 + 90.0) / 180.0 * n), 0), n - 1)
    col = np.fmin(np.fmax(np.floor((lng64 + 180.0) / 360.0 * n), 0), n - 1)
    return row.astype(np.int64), col.astype(np.int64)


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
    """ANSI-SQL text of the cell id, for DuckDB oracles. Mirrors cell_id().

    The float32-truncated value is cast on to DOUBLE before the arithmetic:
    DuckDB evaluates FLOAT + 90.0 in FLOAT, and that rounding moves points
    near a cell edge into the next cell. DuckDB cannot cast a non-finite
    float to BIGINT, so the scaled value is clamped to [-1, n] and NaN
    mapped to 0 before the floor: NaN and -inf land in row/col 0 and +inf
    in n-1, as in cell_id and cell_id_col."""
    n = 1 << res

    def axis(expr, shift, span):
        v = f"(CAST(CAST({expr} AS FLOAT) AS DOUBLE) + {shift}) / {span} * {n}"
        return (
            f"LEAST(GREATEST(CAST(FLOOR(CASE WHEN isnan({v}) THEN 0 "
            f"ELSE LEAST(GREATEST({v}, -1), {n}) END) AS BIGINT), 0), {n - 1})"
        )

    return f"({axis(lat_expr, '90.0', '180.0')} * {n} + {axis(lng_expr, '180.0', '360.0')})"


def cell_rowcol_col(lat64, lng64, res: int):
    """(row, col) PySpark Columns of the clamped grid cell at ``res``: the
    cell_rowcol() arithmetic on float64 Columns as given, with no float32
    cast — a rectangle edge such as ``lat - r`` is binned at its f64 value.
    cell_id_col adds the float32 truncation for points."""
    from pyspark.sql import functions as F

    n = 1 << res
    row = F.least(
        F.greatest(F.floor((lat64 + 90.0) / 180.0 * n).cast("bigint"), F.lit(0)),
        F.lit(n - 1),
    )
    col = F.least(
        F.greatest(F.floor((lng64 + 180.0) / 360.0 * n).cast("bigint"), F.lit(0)),
        F.lit(n - 1),
    )
    return row, col


def cell_id_col(lat_col, lng_col, res: int):
    """PySpark Column of the cell id. Mirrors cell_id() / cell_id_sql():
    truncate to float32, then cell_rowcol_col."""
    row, col = cell_rowcol_col(
        lat_col.cast("float").cast("double"), lng_col.cast("float").cast("double"), res
    )
    return row * (1 << res) + col


def explode_rect_cells(df, lat0, lat1, lng0, lng1, res: int):
    """``df`` with one row per grid cell at ``res`` that the [lat0, lat1] x
    [lng0, lng1] rectangle (float64 Columns over ``df``) overlaps, keyed by
    a new ``_cell`` column — rows by sequence()+explode, then columns, so
    the (cells x rows) pair list is built JVM-side with no UDF. The range
    bounds are projected once per input row, not re-evaluated inside the
    explodes (the column range would otherwise be recomputed per row)."""
    from pyspark.sql import functions as F

    n = 1 << res
    r0, c0 = cell_rowcol_col(lat0, lng0, res)
    r1, c1 = cell_rowcol_col(lat1, lng1, res)
    return (
        df.select(*df.columns, r0.alias("_r0"), r1.alias("_r1"), c0.alias("_c0"),
                  c1.alias("_c1"))
        .withColumn("_row", F.explode(F.sequence("_r0", "_r1")))
        .withColumn("_col", F.explode(F.sequence("_c0", "_c1")))
        .select(*df.columns, (F.col("_row") * n + F.col("_col")).alias("_cell"))
    )


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
    """The compiled cover. All numpy, one flat file (save_index), compact.

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
    # For reference-scale zone sets the duplication would blow the index
    # size (~210 MB at 13M duplicated edge rows), so above
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


# ---------------------------------------------------------------------------
# The index file, one flat memory-mappable layout (the reference's mmap
# store, timezone.go:19-27, read in place as geo/polygon.go:119-144 does):
#   magic (8 bytes) | header length (uint64 LE) | JSON header | arrays
# The header holds the scalars, tzids, stats, layout version
# (INDEX_FORMAT_VERSION), the arrays' total size and, per array, its offset
# from the first array, dtype and shape. Arrays start on 64-byte boundaries.
# ---------------------------------------------------------------------------

_INDEX_MAGIC = b"TZSPKIDX"
_ALIGN = 64
_SCALARS = ("base_res", "max_res", "knn_res", "tzids", "stats")
_ARRAY_FIELDS = [k for k, f in CompiledIndex.__dataclass_fields__.items() if f.type == "np.ndarray"]


def save_index(idx: CompiledIndex, path: str) -> str:
    """Write ``idx`` as one index file at ``path``; returns the blake2b
    digest of the bytes written (the file's content hash)."""
    import hashlib
    import json

    arrays = {f"full.{r}.{k}": a for r, v in idx.full.items() for k, a in enumerate(v)}
    arrays.update((k, getattr(idx, k)) for k in _ARRAY_FIELDS
                  if getattr(idx, k) is not None)
    arrays = {k: np.ascontiguousarray(a) for k, a in arrays.items()}
    table, off = {}, 0
    for name, a in arrays.items():
        table[name] = [off, a.dtype.str, list(a.shape)]
        off += a.nbytes + -a.nbytes % _ALIGN
    meta = {k: getattr(idx, k) for k in _SCALARS}
    meta.update(version=INDEX_FORMAT_VERSION, arrays=table, data_bytes=off)
    head = json.dumps(meta, sort_keys=True).encode()
    chunks = [_INDEX_MAGIC + np.uint64(len(head)).tobytes() + head
              + bytes(-(16 + len(head)) % _ALIGN)]
    for a in arrays.values():
        chunks += [a.reshape(-1).view(np.uint8), bytes(-a.nbytes % _ALIGN)]
    h = hashlib.blake2b(digest_size=16)
    with open(path, "wb") as f:
        for c in chunks:
            f.write(c)
            h.update(c)
    return h.hexdigest()


def open_index(path: str) -> CompiledIndex:
    """The index file at ``path`` as a CompiledIndex of read-only
    np.frombuffer views over one np.memmap (nothing is copied or unpickled).
    Raises ValueError for a truncated file, one of another layout version,
    or one whose header is malformed or places an array past the end."""
    import json

    mm = np.memmap(path, dtype=np.uint8, mode="r")
    if mm.size < 16 or bytes(mm[:8]) != _INDEX_MAGIC:
        raise ValueError(f"{path}: not an index file")
    n = int(np.frombuffer(mm, np.uint64, 1, 8)[0])
    start = 16 + n + -(16 + n) % _ALIGN
    try:
        meta = json.loads(bytes(mm[16 : 16 + n]))
        if meta["version"] != INDEX_FORMAT_VERSION:
            raise ValueError(f"layout version {meta['version']!r}, expected {INDEX_FORMAT_VERSION}")
        if mm.size != start + meta["data_bytes"]:
            raise ValueError(f"{mm.size} bytes, the header gives {start + meta['data_bytes']}")
        idx = CompiledIndex(**{k: meta[k] for k in _SCALARS}, zone_ids=None, zone_bbox=None)
        full = {}
        for name, (off, dt, shape) in meta["arrays"].items():
            dt = np.dtype(dt)
            count = int(np.prod(shape, dtype=np.int64))
            if dt.hasobject or off < 0 or off + count * dt.itemsize > meta["data_bytes"]:
                raise ValueError(f"array {name!r} runs past the end of the file")
            a = np.frombuffer(mm, dt, count, start + off).reshape(shape)
            if name.startswith("full."):
                _, r, k = name.split(".")
                full.setdefault(int(r), [None] * 3)[int(k)] = a
            elif name in _ARRAY_FIELDS:
                setattr(idx, name, a)
            else:
                raise ValueError(f"{name!r} is not an array field")
        idx.full = {r: tuple(full[r]) for r in sorted(full)}
        if "interior_cells" in idx.stats:  # JSON keys are strings
            idx.stats["interior_cells"] = {int(r): c for r, c in idx.stats["interior_cells"].items()}
    except (KeyError, TypeError, AttributeError, ValueError) as e:
        raise ValueError(f"{path}: bad index file ({e!r})") from None
    return idx


_ULPS = 4  # float32 slack on cell bounds (see _inflate_arrays)


def _inflate_arrays(lo: np.ndarray, hi: np.ndarray):
    """Widen each [lo, hi] interval outward by _ULPS float32 ulps.

    The reference PIP compares against a float32-ROUNDED ray intersection t
    (polygon.go:113-116), which can exceed the exact edge max-lat by 1-2
    ulps; pruning/classification bounds computed in exact arithmetic could
    therefore drop an edge that the rounded kernel would still count for a
    point within ulps of a cell boundary. Inflating keeps the kept-edge set
    and the boundary classification a SUPERSET under f32 rounding — supersets
    only cost compactness, never correctness. Monotone in its inputs (an
    f32 rounding, then nextafter steps), so a child cell's inflated bounds
    lie inside its parent's."""
    lo32 = lo.astype(F32)
    hi32 = hi.astype(F32)
    for _ in range(_ULPS):
        lo32 = np.nextafter(lo32, F32(-np.inf), dtype=F32)
        hi32 = np.nextafter(hi32, F32(np.inf), dtype=F32)
    return lo32.astype(np.float64), hi32.astype(np.float64)


_COVER_PAIR_BUDGET = 500_000  # (cell, edge) pairs per chunk of _cover_zones


def _chunk_bounds(counts: np.ndarray, budget: int) -> list:
    """Consecutive [start, stop) row ranges whose ``counts`` sum to at most
    ``budget`` (a single row over budget gets a range of its own)."""
    cum = np.cumsum(counts, dtype=np.int64)
    cuts = [0]
    while cuts[-1] < len(cum):
        base = cum[cuts[-1] - 1] if cuts[-1] else 0
        nxt = int(np.searchsorted(cum, base + budget, side="right"))
        cuts.append(max(nxt, cuts[-1] + 1))
    return list(zip(cuts, cuts[1:]))


def _cover_zones(edges, edge_off: np.ndarray, zone_bbox: np.ndarray,
                 base_res: int, max_res: int):
    """Level-synchronous quadtree cover of every zone of a flat edge table.

    ``edges`` is (a_lat, a_lng, b_lat, b_lng) float32, zone k owning rows
    [edge_off[k], edge_off[k+1]); ``zone_bbox`` is its (Z, 4) float32 MBRs.
    Zones with < 3 edges are degenerate rings that never match
    (polygon.go:101-103) and get no cover.

    One frontier of (zone, row, col) cells per resolution, for all zones
    at once, starting from each zone's MBR rectangle at base_res. Per level
    and cell, on float64 bounds widened by _inflate_arrays:
      * out if the cell misses the zone's MBR;
      * CROSSING if some edge's bbox overlaps the cell — crossing cells
        subdivide into their 4 children, or at max_res become boundary
        cells carrying their pruned edge subset: the edges that overlap the
        cell in lng and are not entirely south of it (the only edges that
        can flip the +lat ray cast of a point in the cell);
      * otherwise no boundary crosses it, and the ray cast of its centre
        decides the whole cell: in -> a full claim.
    Each cell is tested against a CANDIDATE run of edges, not the zone's
    whole ring: at base_res the zone's span, below it the parent's edges
    that overlap the parent in lng. That drops no edge any test needs — a
    child's inflated bounds lie inside its parent's, so an edge missing
    the parent in lng misses the child too, and its ray-cast term for the
    centre is exactly False (no straddle). Candidate runs keep ascending
    edge order, so boundary subsets come out sorted. The (cell, candidate
    edge) pairs are expanded in chunks of _COVER_PAIR_BUDGET.

    Returns (full, boundary): ``full`` maps each res to (zone, cell) int64
    arrays of full claims; ``boundary`` is (zone, cell, edge_cnt, edge_idx)
    with one row per (zone, boundary cell) and edge_idx the rows' edge
    subsets concatenated (row indices into ``edges``).
    """
    a_lat, a_lng, b_lat, b_lng = edges
    e_min_lat = np.minimum(a_lat, b_lat).astype(np.float64)
    e_max_lat = np.maximum(a_lat, b_lat).astype(np.float64)
    e_min_lng = np.minimum(a_lng, b_lng).astype(np.float64)
    e_max_lng = np.maximum(a_lng, b_lng).astype(np.float64)
    zmin_lat, zmin_lng, zmax_lat, zmax_lng = _bbox_cols(zone_bbox)
    edge_off = np.asarray(edge_off, np.int64)

    # base-res rectangles over every live zone's MBR, row-major per zone
    zone = np.flatnonzero(np.diff(edge_off) >= 3)
    r0, c0 = cell_rowcol(zone_bbox[zone, 0], zone_bbox[zone, 1], base_res)
    r1, c1 = cell_rowcol(zone_bbox[zone, 2], zone_bbox[zone, 3], base_res)
    width = c1 - c0 + 1
    ncell = (r1 - r0 + 1) * width
    k = _ragged_ramp(np.zeros(len(zone), np.int64), ncell)
    width = np.repeat(width, ncell)
    rows = np.repeat(r0, ncell) + k // width
    cols = np.repeat(c0, ncell) + k % width
    zone = np.repeat(zone, ncell)
    # each cell's candidate edges: the run [start, start + cnt) of ``pool``
    pool = np.arange(len(a_lat), dtype=np.int64)
    start, cnt = edge_off[zone], np.diff(edge_off)[zone]

    full = {}
    for res in range(base_res, max_res + 1):
        n = 1 << res
        lat0 = -90.0 + 180.0 * rows / n
        lat1 = -90.0 + 180.0 * (rows + 1) / n
        lng0 = -180.0 + 360.0 * cols / n
        lng1 = -180.0 + 360.0 * (cols + 1) / n
        lat0i, lat1i = _inflate_arrays(lat0, lat1)
        lng0i, lng1i = _inflate_arrays(lng0, lng1)
        inb = ~(
            (zmax_lat[zone] < lat0i) | (zmin_lat[zone] > lat1i)
            | (zmax_lng[zone] < lng0i) | (zmin_lng[zone] > lng1i)
        )
        zone, rows, cols, start, cnt = (
            v[inb] for v in (zone, rows, cols, start, cnt)
        )
        lat0, lat1, lng0, lng1 = lat0[inb], lat1[inb], lng0[inb], lng1[inb]
        lat0i, lat1i, lng0i, lng1i = (
            lat0i[inb], lat1i[inb], lng0i[inb], lng1i[inb]
        )
        c_lat = ((lat0 + lat1) / 2.0).astype(F32)
        c_lng = ((lng0 + lng1) / 2.0).astype(F32)

        crosses = np.zeros(len(zone), dtype=bool)
        inside = np.zeros(len(zone), dtype=bool)
        kept, kept_cnt = [np.empty(0, np.int64)], np.zeros(len(zone), dtype=np.int64)
        for s, e in _chunk_bounds(cnt, _COVER_PAIR_BUDGET):
            pe = pool[_ragged_ramp(start[s:e], cnt[s:e])]
            pc = np.repeat(np.arange(s, e, dtype=np.int64), cnt[s:e])
            seg = np.cumsum(cnt[s:e]) - cnt[s:e]  # every run is non-empty
            lng_ov = (e_min_lng[pe] <= lng1i[pc]) & (e_max_lng[pe] >= lng0i[pc])
            north = e_max_lat[pe] >= lat0i[pc]
            ov = lng_ov & north & (e_min_lat[pe] <= lat1i[pc])
            crosses[s:e] = np.logical_or.reduceat(ov, seg)
            x = crosses[pc]
            keep = (lng_ov & north if res == max_res else lng_ov) & x
            kept.append(pe[keep])
            kept_cnt[s:e] = np.add.reduceat(keep, seg)
            # non-crossing cells: one centre sample decides the whole cell
            nc = np.flatnonzero(~crosses[s:e]) + s
            if len(nc):
                ge = pe[~x]
                inside[nc] = ragged_parity(
                    c_lat[nc], c_lng[nc], a_lat[ge], a_lng[ge], b_lat[ge],
                    b_lng[ge], cnt[nc],
                )
        full[res] = (zone[inside], rows[inside] * n + cols[inside])
        pool = np.concatenate(kept)
        zone, rows, cols = zone[crosses], rows[crosses], cols[crosses]
        cnt = kept_cnt[crosses]
        start = np.cumsum(cnt) - cnt
        if res == max_res:
            return full, (zone, rows * n + cols, cnt, pool)
        # the 4 children of every crossing cell inherit its lng-overlap run
        m = len(zone)
        zone, start, cnt = (np.repeat(v, 4) for v in (zone, start, cnt))
        rows = np.repeat(rows * 2, 4) + np.tile([0, 0, 1, 1], m)
        cols = np.repeat(cols * 2, 4) + np.tile([0, 1, 0, 1], m)


_KNN_BASE_RES = 4  # dense level the hierarchical refinement starts from
# Pairs per chunk of _knn_cells: (cell, zone) pairs of the dense base level,
# (parent cell, zone) pairs of a refinement level. A parent pair holds ~12
# float64 temporaries while its four children are scored.
_KNN_PAIR_BUDGET = 500_000


def _lat_lines(n: int, i) -> np.ndarray:
    """Float64 latitude of grid line ``i`` of an n-row grid (row r spans
    lines r and r + 1)."""
    return -90.0 + 180.0 * np.asarray(i, np.float64) / n


def _lng_lines(n: int, i) -> np.ndarray:
    """Float64 longitude of grid line ``i`` of an n-column grid."""
    return -180.0 + 360.0 * np.asarray(i, np.float64) / n


def _cell_rects(n: int, cells: np.ndarray = None):
    """Per-cell float64 bounds at an n x n grid: every cell in cell-id order,
    or the given cell ids. The per-cell form of the kNN table's definition,
    which its dense test references use; _knn_cells takes the same grid
    lines per row and per column."""
    if cells is None:
        cells = np.arange(n * n, dtype=np.int64)
    rows, cols = cells // n, cells % n
    return (_lat_lines(n, rows), _lng_lines(n, cols),
            _lat_lines(n, rows + 1), _lng_lines(n, cols + 1))


def _halves(c0, c1, z0, z1):
    """Squared (nearest, farthest) clamp distances along one axis between
    cell intervals [c0, c1] and zone intervals [z0, z1], elementwise or
    broadcast. A cell's d_min to a zone MBR is its row (lat) near half plus
    its column (lng) near half, and d_max the sum of the far halves. near <=
    far holds in float64 too (every operation is monotone), so d_min <=
    d_max, which the incremental kNN update relies on."""
    g = np.maximum(np.maximum(z0 - c1, c0 - z1), 0.0)
    f = np.maximum(np.maximum(z0 - c0, c1 - z1), 0.0)
    return g * g, f * f


def _seg_min(vals, seg_off):
    """Per-segment minimum of a CSR-segmented array; +inf for empty segments."""
    cnt = np.diff(seg_off)
    out = np.full(len(cnt), np.inf)
    out[cnt > 0] = np.minimum.reduceat(vals, seg_off[:-1][cnt > 0])
    return out


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
    parent.

    SEPARABLE: both squared distances split into a row half and a column
    half, d_min = gl(row, z)² + gg(col, z)² and d_max = fl(row, z)² +
    fg(col, z)² (_halves), because the clamp along lat depends only on the
    cell's row and along lng only on its column. The dense level computes
    the (rows x Z) and (cols x Z) halves once and adds them per cell; a
    refinement level computes, per (parent, zone) pair, the halves of the
    parent's two child rows and two child columns once and adds them for
    all four children. The float64 values are those of the per-cell form:
    a cell's bounds are the same grid lines (_cell_rects), each half is the
    same subtract/max/square sequence, and the sum is the same one addition
    (row half first), so the lists, and the index bytes, do not change.

    A cell's list depends only on its ancestors' lists, so the routine
    visits just ``cells`` and their ancestors, scoring all four children of
    each visited parent and keeping the ones asked for; over all cells it
    is the full build (_compile_knn_table), over a few it is the incremental
    update's rebuild (_knn_update), and both give the same bytes per cell.

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
    z = _bbox_cols(zone_bbox)
    nz = len(z[0])
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

    off, zidx = _knn_dense(levels[0], 1 << base, z)
    for r, lv_par, lv in zip(range(base + 1, res + 1), levels, levels[1:]):
        off, zidx = _knn_children(off, zidx, lv_par, lv, 1 << r, z)
    return off, zidx


def _knn_dense(cells: np.ndarray, n: int, z):
    """_knn_cells' base level: every zone scored against each of ``cells``
    at an n x n grid, from (rows x Z) and (cols x Z) half-distances."""
    z_lat0, z_lng0, z_lat1, z_lng1 = z
    rows, ri = np.unique(cells // n, return_inverse=True)
    cols, ci = np.unique(cells % n, return_inverse=True)
    lat_near, lat_far = _halves(_lat_lines(n, rows)[:, None],
                                _lat_lines(n, rows + 1)[:, None], z_lat0, z_lat1)
    lng_near, lng_far = _halves(_lng_lines(n, cols)[:, None],
                                _lng_lines(n, cols + 1)[:, None], z_lng0, z_lng1)
    # chunks of _KNN_PAIR_BUDGET pairs rather than one (cells x zones)
    # matrix: the first chunk's temporaries fault in fresh pages (expensive
    # where first-touch faults are slow, BASELINE.md round 4) and every
    # later chunk reuses them
    step = max(1, _KNN_PAIR_BUDGET // len(z_lat0))
    cnt = np.empty(len(cells), np.int64)
    parts = [np.empty(0, np.int32)]
    for s in range(0, len(cells), step):
        r, c = ri[s : s + step], ci[s : s + step]
        u = (lat_far[r] + lng_far[c]).min(axis=1)
        keep = lat_near[r] + lng_near[c] <= u[:, None]
        cnt[s : s + step] = keep.sum(axis=1)
        parts.append(np.nonzero(keep)[1].astype(np.int32))
    return np.concatenate([[0], np.cumsum(cnt)]).astype(np.int64), np.concatenate(parts)


def _knn_children(off, zidx, lv_par: np.ndarray, lv: np.ndarray, n: int, z):
    """One refinement level of _knn_cells: the four children of every parent
    in ``lv_par`` (whose lists are the CSR ``off``/``zidx``) scored against
    the parent's list, in chunks of _KNN_PAIR_BUDGET parent pairs; returns
    the lists of the ``lv`` cells at the n x n grid."""
    z_lat0, z_lng0, z_lat1, z_lng1 = z
    prow, pcol = lv_par // (n >> 1), lv_par % (n >> 1)
    lat = [_lat_lines(n, 2 * prow + k) for k in range(3)]  # child row lines
    lng = [_lng_lines(n, 2 * pcol + k) for k in range(3)]
    pcnt = np.diff(off)
    kcnt = np.zeros((4, len(lv_par)), np.int64)  # child k = 2 * dr + dc
    kstart = np.zeros((4, len(lv_par)), np.int64)
    pool, pooled = [np.empty(0, np.int32)], 0
    for s, e in _chunk_bounds(pcnt, _KNN_PAIR_BUDGET):
        pz = zidx[off[s] : off[e]]
        seg = off[s : e + 1] - off[s]
        c = pcnt[s:e]
        halves = []  # [child row/column 0, 1] -> (near, far) per pair
        for lines, z0, z1 in ((lat, z_lat0, z_lat1), (lng, z_lng0, z_lng1)):
            z0, z1 = z0[pz], z1[pz]
            halves.append([_halves(np.repeat(lines[k][s:e], c),
                                   np.repeat(lines[k + 1][s:e], c), z0, z1)
                           for k in (0, 1)])
        lat_h, lng_h = halves
        for k in range(4):
            (gl, fl), (gg, fg) = lat_h[k >> 1], lng_h[k & 1]
            u = _seg_min(fl + fg, seg)
            keep = gl + gg <= np.repeat(u, c)
            kept = np.concatenate([[0], np.cumsum(keep)])[seg]
            kcnt[k, s:e] = np.diff(kept)
            kstart[k, s:e] = pooled + kept[:-1]
            pool.append(pz[keep])
            pooled += int(kept[-1])

    child = ((2 * prow + (np.arange(4)[:, None] >> 1)) * n
             + 2 * pcol + (np.arange(4)[:, None] & 1)).ravel()
    order = np.argsort(child)
    pos = order[np.searchsorted(child[order], lv)]
    cnt = kcnt.ravel()[pos]
    zidx = np.concatenate(pool)[_ragged_ramp(kstart.ravel()[pos], cnt)]
    return np.concatenate([[0], np.cumsum(cnt)]).astype(np.int64), zidx


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
        b_lat0, b_lng0, b_lat1, b_lng1 = np.asarray(new_bbox, np.float64)
        lines = np.arange(n + 1)
        lat, lng = _lat_lines(n, lines), _lng_lines(n, lines)
        gl, _ = _halves(lat[:-1], lat[1:], b_lat0, b_lat1)
        gg, _ = _halves(lng[:-1], lng[1:], b_lng0, b_lng1)
        d_new = (gl[:, None] + gg[None, :]).ravel()
        z_lat0, z_lng0, z_lat1, z_lng1 = _bbox_cols(prev.zone_bbox)

        def d_max(pc, pz):  # farthest-corner distance of (cell, zone) pairs
            r, c = pc // n, pc % n
            _, fl = _halves(lat[r], lat[r + 1], z_lat0[pz], z_lat1[pz])
            _, fg = _halves(lng[c], lng[c + 1], z_lng0[pz], z_lng1[pz])
            return fl + fg

        # U_old from the whole old list, only where d_new could be <= it:
        # any one candidate's d_max bounds U_old from above
        ub = np.full(n * n, np.inf)
        has = np.flatnonzero(cnt > 0)
        ub[has] = d_max(has, zi[off[has]])
        near = np.flatnonzero(d_new <= ub)
        ncnt = cnt[near]
        pz = zi[_ragged_ramp(off[near], ncnt)].astype(np.int64)
        u_old = _seg_min(d_max(np.repeat(near, ncnt), pz),
                         np.concatenate([[0], np.cumsum(ncnt)]))
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


def _cover_slice(task):
    """_cover_zones over one slice of the zone table, renumbered to the whole
    table's zone and edge indices."""
    z0, e0, edges, edge_off, zone_bbox, base_res, max_res = task
    full, (bz, bc, bn, bi) = _cover_zones(edges, edge_off, zone_bbox, base_res, max_res)
    return {r: (z + z0, c) for r, (z, c) in full.items()}, (bz + z0, bc, bn, bi + e0)


def _cover_tasks(edges, edge_off, zone_bbox, base_res, max_res, n_slices):
    """_cover_slice tasks over up to ``n_slices`` consecutive zone slices of
    about equal edge counts (at least one task, even for no zones)."""
    nz = len(edge_off) - 1
    cuts = np.unique(np.concatenate([
        [0], np.searchsorted(edge_off, np.linspace(0, edge_off[-1], n_slices + 1)[1:-1]),
        [nz],
    ]))
    if len(cuts) < 2:
        cuts = np.array([0, nz])
    return [
        (int(z0), int(edge_off[z0]),
         tuple(a[edge_off[z0]:edge_off[z1]] for a in edges),
         edge_off[z0 : z1 + 1] - edge_off[z0], zone_bbox[z0:z1], base_res, max_res)
        for z0, z1 in zip(cuts, cuts[1:])
    ]


# live zones; below this one slice is as fast as the thread map (random
# world-set samples on a 4-vCPU host, medians of 7-9 runs: one slice as fast
# or faster at 2,000 and 2,500 zones, threads 1.05-1.2x at 3,000 and 1.45x
# at 4,000)
_PARALLEL_COMPILE_MIN = 3000


def _zone_table(zones: list):
    """Zones sorted by zone_id, plus the compile's flat inputs: their (Z, 4)
    float32 MBRs, global edge arrays (a_lat, a_lng, b_lat, b_lng) and the
    (Z+1,) int64 per-zone spans into them."""
    zones = sorted(zones, key=lambda z: z.zone_id)
    zone_bbox = np.array([z.bbox for z in zones], dtype=F32).reshape(-1, 4)
    b_lat, b_lng = (
        np.concatenate([getattr(z, k) for z in zones]) if zones else np.empty(0, F32)
        for k in ("ring_lat", "ring_lng")
    )
    edge_off = np.concatenate(
        [[0], np.cumsum([len(z.ring_lat) for z in zones])]
    ).astype(np.int64)
    # ring_edges over every ring at once: edge i runs from vertex i-1 to
    # vertex i, and a ring's first edge is its closing edge
    prev = np.arange(len(b_lat), dtype=np.int64) - 1
    prev[edge_off[:-1]] = edge_off[1:] - 1
    return zones, zone_bbox, (b_lat[prev], b_lng[prev], b_lat, b_lng), edge_off


def compile_cover(
    zones: list,
    base_res: int = DEFAULT_BASE_RES,
    max_res: int = DEFAULT_MAX_RES,
) -> CompiledIndex:
    """Quadtree-subdivide every zone into full/boundary cells and merge.

    Driver-side numpy: _cover_zones classifies each quadtree level of ALL
    zones in one batched pass, so the Python cost is per level, not per
    zone. This is the engine analog of the reference's build step
    (AddTimezone + BuildRtree, timezone.go:29-45, 208-214), executed once
    per zone set on the driver; the index then reaches the workers as one
    mapped file (save_index, covertable.CoverTables).

    Zones are independent, so reference-scale sets (~24k polygons, at least
    _PARALLEL_COMPILE_MIN live zones) map _cover_zones over zone slices on a
    thread pool: its level passes are large numpy operations that release
    the GIL. Smaller sets run as one slice. The slices are renumbered to
    global zone indices and merged in order, so the index is identical and
    deterministic either way.
    """
    zones, zone_bbox, edges, edge_off = _zone_table(zones)
    # degenerate (<3 vertex) rings never match (polygon.go:101-103)
    n_live = int(np.count_nonzero(np.diff(edge_off) >= 3))
    threads = min(os.cpu_count() or 1, 16) if n_live >= _PARALLEL_COMPILE_MIN else 1
    tasks = _cover_tasks(edges, edge_off, zone_bbox, base_res, max_res,
                         1 if threads == 1 else threads * 8)
    if len(tasks) == 1:
        # on the calling thread: a pool thread's allocations land in its own
        # malloc arena, which the kNN build after it cannot reuse (+24 MB
        # VmHWM on the 480-zone bench cut)
        parts = [_cover_slice(tasks[0])]
    else:
        with ThreadPoolExecutor(threads) as pool:
            parts = list(pool.map(_cover_slice, tasks))
    return _build_index(zones, zone_bbox, edges, edge_off, parts, base_res, max_res)


def _build_index(zones, zone_bbox, edges, edge_off, parts, base_res, max_res):
    """CompiledIndex from _zone_table's output and the _cover_slice results
    of its zone slices, in zone order: ONE lexsort per structure turns the
    flat (zone, cell) rows into the CSR layouts (cells ascending,
    candidates ascending zone index)."""
    ea_lat, ea_lng, eb_lat, eb_lng = edges
    idx = CompiledIndex(
        base_res=base_res,
        max_res=max_res,
        zone_ids=np.array([z.zone_id for z in zones], dtype=np.int32),
        tzids=[z.tzid for z in zones],
        zone_bbox=zone_bbox,
        ea_lat=ea_lat,
        ea_lng=ea_lng,
        eb_lat=eb_lat,
        eb_lng=eb_lng,
    )
    b_zone, b_cell, b_cnt, b_edge = (
        np.concatenate([p[1][k] for p in parts]) for k in range(4)
    )
    for r in range(base_res, max_res + 1):
        zarr, carr = (np.concatenate([p[0][r][k] for p in parts]) for k in (0, 1))
        order = np.lexsort((zarr, carr))
        cells, counts = np.unique(carr[order], return_counts=True)
        off = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)
        idx.full[r] = (cells, off, zarr[order].astype(np.int32))

    order = np.lexsort((b_zone, b_cell))
    cells_b, cell_counts = np.unique(b_cell[order], return_counts=True)
    idx.b_cells = cells_b
    idx.b_off = np.concatenate([[0], np.cumsum(cell_counts)]).astype(np.int64)
    idx.b_zone = b_zone[order].astype(np.int32)
    cnt = b_cnt[order]
    idx.b_edge_off = np.concatenate([[0], np.cumsum(cnt)]).astype(np.int64)
    idx.zone_edge_off = edge_off
    _set_boundary_edges(idx, b_edge[_ragged_ramp((np.cumsum(b_cnt) - b_cnt)[order], cnt)])
    idx.knn_res = DEFAULT_KNN_RES
    return _finalize_index(idx)


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

    # the one piece of real geometry work: the NEW zone's own cover (none
    # for a degenerate ring, which never matches — polygon.go:101-103)
    z_full, (_, nb_cell, nb_cnt, nb_ei) = _cover_zones(
        (na_lat, na_lng, nb_lat, nb_lng), np.array([0, n_new]),
        out.zone_bbox[pos : pos + 1], idx.base_res, idx.max_res,
    )

    # full-claim merge: expand old CSR to (cell, zidx) rows, renumber, append
    # the new zone's rows, lexsort back into (cell asc, zidx asc) CSR
    for r in range(idx.base_res, idx.max_res + 1):
        cells, off, zl = idx.full[r]
        old_cell = np.repeat(cells, np.diff(off))
        old_z = zl.astype(np.int64)
        old_z[old_z >= pos] += 1
        new_c = np.sort(z_full[r][1])
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
    pool = np.concatenate([old_ei, nb_ei + ins])
    nb_start = np.cumsum(nb_cnt) - nb_cnt + len(old_ei)
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
    it may be live in a lookup plan). O(index size), no cover recompute."""
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
    fin = np.isfinite(lat) & np.isfinite(lng)
    if not fin.all():
        # a NaN or infinite coordinate is inside no ring (the reference ray
        # cast never gives it odd parity), but cell_id clamps it into a
        # border cell that a zone may fully claim: keep it off the lookups
        out = np.full(lat.shape[0], -1, dtype=np.int32)
        ok = np.flatnonzero(fin)
        out[ok] = resolve_points(idx, lat[ok], lng[ok])
        return out
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
            for s, e in _chunk_bounds(e_cnt_all, 250_000):
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
    flat = _ragged_ramp(idx.b_edge_off[pair_ci], e_cnt)  # rows into the edges
    if idx.b_ea_lat is not None:  # materialized contiguous edge subsets
        a_lat, a_lng = idx.b_ea_lat[flat], idx.b_ea_lng[flat]
        b_lat, b_lng = idx.b_eb_lat[flat], idx.b_eb_lng[flat]
    else:  # index form (reference-scale sets): gather from global edges
        g = idx.b_edge_idx[flat]
        a_lat, a_lng = idx.ea_lat[g], idx.ea_lng[g]
        b_lat, b_lng = idx.eb_lat[g], idx.eb_lng[g]
    inside = ragged_parity(
        lat[pair_pt], lng[pair_pt], a_lat, a_lng, b_lat, b_lng, e_cnt
    )
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

    # The pruned table's exactness proof only covers the valid coordinate
    # domain: cell_rowcol CLAMPS out-of-range coords into border cells whose
    # candidate list was computed for points INSIDE the cell, so e.g.
    # lat=200 could miss its true nearest zone. Unvalidated callers
    # (search_many, direct knn_fallback) route such points to the exact
    # brute-force argmin instead. A NaN or infinite coordinate is no point
    # at all: its distance to every zone is NaN or inf, a tie the min-id
    # rule would break as the lowest zone_id, so it has no nearest zone (-1).
    in_dom = in_domain(lat, lng)
    if not in_dom.all():
        out = np.full(n, -1, dtype=np.int32)
        ins = np.flatnonzero(in_dom)
        outs = np.flatnonzero(~in_dom & np.isfinite(lat) & np.isfinite(lng))
        out[ins] = knn_fallback(idx, lat[ins], lng[ins])
        out[outs] = _knn_brute(idx, lat[outs], lng[outs])
        return out
    if idx.knn_off is None:  # legacy/brute path, chunked
        return _knn_brute(idx, lat, lng)

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


def in_domain(lat, lng) -> np.ndarray:
    """Valid-coordinate mask: lat in [-90, 90] and lng in [-180, 180] (the
    reference's LatLng.Valid, geo/latlng.go:24-31). NaN is never valid."""
    return (lat >= -90.0) & (lat <= 90.0) & (lng >= -180.0) & (lng <= 180.0)


def assign_points(idx: CompiledIndex, lat, lng) -> tuple:
    """The engine's whole point lookup (reference Search, timezone.go:58-78):
    resolve_points, then knn_fallback for the points no zone contains.

    Returns (zone_id int32, via_knn bool). via_knn marks the kNN answers; a
    point with no answer at all (NaN or infinite coordinates) gets zone_id
    -1 and via_knn False. Every lookup path — the assign Arrow UDFs, the
    fused image kernels, describe_point — goes through here."""
    lat = np.asarray(lat, dtype=F32)
    lng = np.asarray(lng, dtype=F32)
    zid = resolve_points(idx, lat, lng)
    via = np.zeros(zid.shape[0], dtype=bool)
    un = np.flatnonzero(zid == -1)
    if un.size:
        zid[un] = knn_fallback(idx, lat[un], lng[un])
        via[un] = zid[un] != -1
    return zid, via


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
    with the engine's answer attached (via="full"|"boundary"|"knn", or ""
    with zone_id -1 when there is no answer: NaN coordinates)."""
    la = np.array([lat], dtype=F32)
    lg = np.array([lng], dtype=F32)
    cell = int(cell_id(la, lg, idx.max_res)[0])
    info = cell_children(idx, cell, idx.max_res)
    zid, via_knn = assign_points(idx, la, lg)
    zid = int(zid[0])
    if via_knn[0]:
        via = "knn"
    elif zid < 0:
        via = ""
    else:
        via = "full" if any(zid in v for v in info["full"].values()) else "boundary"
    info["zone_id"] = zid
    info["via"] = via
    zi = int(np.searchsorted(idx.zone_ids, zid))
    info["tzid"] = idx.tzids[zi] if idx.zone_ids[zi] == zid else ""
    return info
