"""Deterministic synthetic zone set + golden oracle resolver.

The reference's real input (timezone-boundary-builder GeoJSON,
/root/reference/import.go:26-28) is unavailable offline, so we synthesize a
zone set with the same structural properties (FIXTURES.md §2): a lattice
partition, a concave polygon, holes expressed both ways the reference's
decoder produces them (import.go:141-153 vs 158-172), a high-vertex-count
coastline, ocean rectangles, an uncovered strip (kNN fallback territory), and
a degenerate <3-vertex ring (never matches, polygon.go:101-103).

``oracle_resolve`` is the committed golden oracle: full-ring float32 PIP per
zone (geom.contains_scalar semantics, vectorized) + argmin(zone_id) + kNN —
deliberately independent of the cell-cover fast path so tests can cross-check
the two (SURVEY.md §5.1).
"""

from __future__ import annotations

import numpy as np

from .cells import Zone
from .geom import F32, bbox_clamp_dist2_f64, contains_batch, ring_bbox

# region layout constants (all float32-exact where edges matter)
LAT0, LAT1 = 0.0, 24.0  # lattice lat span, 4 rows of height 6
LNG0, LNG1 = 0.0, 36.0  # lattice lng span, 6 cols of width 6
N_ROWS, N_COLS = 4, 6


def _jitter(i: int, j: int) -> float:
    """Deterministic lattice-corner jitter, multiples of 1/8 (f32-exact)."""
    return ((i * 7 + j * 13) % 5 - 2) / 8.0


def _lattice_corner(i: int, j: int):
    """Corner (row i in 0..4, col j in 0..6); outer boundary unjittered so
    the lattice exactly tiles [LAT0,LAT1] x [LNG0,LNG1]."""
    lat = LAT0 + i * 6.0
    lng = LNG0 + j * 6.0
    if 0 < i < N_ROWS:
        lat += _jitter(i, j)
    if 0 < j < N_COLS:
        lng += _jitter(j, i + 3)
    return lat, lng


def make_zones(n_coast: int = 20000) -> list:
    """Build the synthetic zone table (list[Zone], dense zone_id order).

    zone_id layout: 0-23 lattice quads, 24 L-shape, 25/26 hole variant (a)
    outer+hole-as-own-ring (same tzid — Polygon-type quirk, import.go:141-153),
    27 hole variant (b) concatenated ring (MultiPolygon quirk,
    import.go:158-172), 28 coastline, 29 degenerate 2-vertex ring,
    30-33 oceans.
    """
    zones = []
    zid = 0
    # 1. convex-quad lattice partition (each interior point in exactly 1 zone)
    for i in range(N_ROWS):
        for j in range(N_COLS):
            c00 = _lattice_corner(i, j)
            c01 = _lattice_corner(i, j + 1)
            c11 = _lattice_corner(i + 1, j + 1)
            c10 = _lattice_corner(i + 1, j)
            ring = [c00, c01, c11, c10]
            zones.append(
                Zone(
                    zid,
                    f"Test/Zone_{i}_{j}",
                    np.array([p[0] for p in ring], F32),
                    np.array([p[1] for p in ring], F32),
                )
            )
            zid += 1

    # 2a. concave L-shape: lat [26,34] x lng [0,8] minus the NE quadrant
    l_ring = [(26, 0), (26, 8), (30, 8), (30, 4), (34, 4), (34, 0)]
    zones.append(
        Zone(
            zid,
            "Test/LShape",
            np.array([p[0] for p in l_ring], F32),
            np.array([p[1] for p in l_ring], F32),
        )
    )
    zid += 1

    # 2b. hole variant (a): outer ring + hole as a SEPARATE zone row with the
    # same tzid — a point inside the hole matches both rows, same tzid
    outer_a = [(26, 10), (26, 16), (34, 16), (34, 10)]
    hole_a = [(29, 12), (29, 14), (31, 14), (31, 12)]
    zones.append(
        Zone(zid, "Test/HoleA", np.array([p[0] for p in outer_a], F32),
             np.array([p[1] for p in outer_a], F32))
    )
    zid += 1
    zones.append(
        Zone(zid, "Test/HoleA", np.array([p[0] for p in hole_a], F32),
             np.array([p[1] for p in hole_a], F32))
    )
    zid += 1

    # 2c. hole variant (b): outer + hole rings CONCATENATED into one vertex
    # list; even-odd parity makes the hole read as outside (SURVEY.md §1.4)
    outer_b = [(26, 18), (26, 24), (34, 24), (34, 18)]
    hole_b = [(29, 20), (29, 22), (31, 22), (31, 20)]
    cat = outer_b + hole_b
    zones.append(
        Zone(zid, "Test/HoleB", np.array([p[0] for p in cat], F32),
             np.array([p[1] for p in cat], F32))
    )
    zid += 1

    # 3. high-vertex coastline: lat [26,34] x lng [~26,34], sinusoidal west
    # edge with n_coast vertices (cover-compile + boundary-PIP stress)
    t = np.linspace(0.0, 1.0, n_coast, dtype=np.float64)
    west_lat = 26.0 + 8.0 * t
    west_lng = 27.0 + 0.9 * np.sin(2.0 * np.pi * 24.0 * t)
    # ring: south + east + north edges, then the wiggly west edge back south
    coast_lat = np.concatenate([[26.0], [26.0], [34.0], [34.0], west_lat[::-1]])
    coast_lng = np.concatenate([[28.0], [34.0], [34.0], [28.0], west_lng[::-1]])
    zones.append(Zone(zid, "Test/Coast", coast_lat.astype(F32), coast_lng.astype(F32)))
    zid += 1

    # 4. degenerate ring (<3 vertices): placed over the lattice, never matches
    zones.append(
        Zone(zid, "Test/Degenerate", np.array([10.0, 11.0], F32),
             np.array([10.0, 11.0], F32))
    )
    zid += 1

    # 5. oceans: 4 rectangles around everything EXCEPT the strip
    # lat [34,36] (all lng) and lat [24,26] (between lattice and specials) —
    # left uncovered to exercise the kNN fallback
    oceans = [
        ("Etc/Ocean_S", [(-6, -6), (-6, 42), (0, 42), (0, -6)]),
        ("Etc/Ocean_W", [(0, -6), (0, 0), (34, 0), (34, -6)]),
        ("Etc/Ocean_E", [(0, 36), (0, 42), (34, 42), (34, 36)]),
        ("Etc/Ocean_N", [(36, -6), (36, 42), (42, 42), (42, -6)]),
    ]
    for name, ring in oceans:
        zones.append(
            Zone(zid, name, np.array([p[0] for p in ring], F32),
                 np.array([p[1] for p in ring], F32))
        )
        zid += 1
    return zones


def make_world_zones(
    n_tzids: int = 1200, polys_per_tzid: int = 20, verts_per_poly: int = 200
) -> list:
    """Reference-operating-point zone set (README.md:9: the real
    timezone-boundary-builder set is ~1,200 tzids / tens of thousands of
    polygons / ~50 MB binary db ≈ 6M float32 vertex pairs).

    Deterministic: n_tzids lat/lng cells on a 40-wide grid over
    lat [-60, 60]; each tzid owns polys_per_tzid sinusoidally-wiggled blob
    polygons (verts_per_poly vertices each) scattered inside its cell.
    Defaults give 24,000 polygon rows / 4.8M vertices — the scale the
    compile/broadcast/lookup stress tests pin (tests/test_world_scale.py).
    """
    zones = []
    zid = 0
    n_cols = 40
    n_rows = (n_tzids + n_cols - 1) // n_cols
    cell_lat = 120.0 / n_rows
    cell_lng = 360.0 / n_cols
    t = np.linspace(0.0, 2.0 * np.pi, verts_per_poly, endpoint=False)
    for k in range(n_tzids):
        r, c = divmod(k, n_cols)
        base_lat = -60.0 + r * cell_lat
        base_lng = -180.0 + c * cell_lng
        for p in range(polys_per_tzid):
            h = k * 31 + p * 7 + 1
            cy = base_lat + cell_lat * (0.15 + 0.7 * ((h * 2654435761) % 1000) / 1000.0)
            cx = base_lng + cell_lng * (0.15 + 0.7 * ((h * 40503) % 1000) / 1000.0)
            rad = 0.15 + 0.35 * ((h * 9176) % 1000) / 1000.0
            wig = 3 + h % 5
            rr = rad * (1.0 + 0.3 * np.sin(wig * t + h))
            zones.append(
                Zone(
                    zid,
                    f"World/Zone_{k:04d}",
                    (cy + rr * np.sin(t)).astype(F32),
                    (cx + 1.5 * rr * np.cos(t)).astype(F32),
                )
            )
            zid += 1
    return zones


def make_world_zones_skewed(
    n_coastlines: int = 6, coast_verts: int = 20000, **world_kw
) -> list:
    """make_world_zones + a few REFERENCE-SHAPED coastline rows: the real
    timezone-boundary-builder set is not uniform — its largest zones are
    coastline polygons with ~20k vertices each (/root/reference/README.md:9;
    the reference mmaps them, timezone.go:192). This variant appends
    n_coastlines zones whose west edge is a coast_verts-vertex sinusoid
    spanning 8 deg of latitude, so ONE zone's edge table is 100x the median —
    the skew the cover compiler's pair chunking (cells._cover_zones) and the
    boundary-candidate pruning must absorb (pinned in tests/test_world_scale
    and BASELINE.md)."""
    zones = make_world_zones(**world_kw)
    zid = len(zones)
    for k in range(n_coastlines):
        # spread along the equator band, away from the -60 grid origin rows
        lat0 = -4.0 + 10.0 * (k % 3)
        lng0 = -150.0 + 50.0 * k
        t = np.linspace(0.0, 1.0, coast_verts, dtype=np.float64)
        west_lat = lat0 + 8.0 * t
        west_lng = (lng0 + 1.0) + 0.9 * np.sin(2.0 * np.pi * (24.0 + k) * t)
        ring_lat = np.concatenate([[lat0], [lat0], [lat0 + 8.0], [lat0 + 8.0],
                                   west_lat[::-1]])
        ring_lng = np.concatenate([[lng0 + 2.0], [lng0 + 8.0], [lng0 + 8.0],
                                   [lng0 + 2.0], west_lng[::-1]])
        zones.append(
            Zone(zid, f"World/Coast_{k:02d}", ring_lat.astype(F32),
                 ring_lng.astype(F32))
        )
        zid += 1
    return zones


def oracle_resolve(zones: list, lat, lng):
    """Golden resolver, independent of the cell cover: full-ring float32 PIP
    against EVERY zone, argmin(zone_id) over containing zones, -1 if none.
    Returns (zone_id int32 array, matched bool array)."""
    lat = np.asarray(lat, dtype=F32)
    lng = np.asarray(lng, dtype=F32)
    best = np.full(lat.shape[0], np.iinfo(np.int32).max, dtype=np.int64)
    for z in sorted(zones, key=lambda z: z.zone_id):
        inside = contains_batch(z.ring_lat, z.ring_lng, lat, lng)
        best[inside] = np.minimum(best[inside], z.zone_id)
    matched = best != np.iinfo(np.int32).max
    out = np.where(matched, best, -1).astype(np.int32)
    return out, matched


def oracle_knn(zones: list, lat, lng) -> np.ndarray:
    """Golden kNN fallback: squared clamp distance to zone MBRs (float64 from
    float32 coords), argmin with zone_id tie-break."""
    zs = sorted(zones, key=lambda z: z.zone_id)
    bbox = np.array([ring_bbox(z.ring_lat, z.ring_lng) for z in zs], dtype=np.float64)
    d2 = bbox_clamp_dist2_f64(lat, lng, bbox[:, 0], bbox[:, 1], bbox[:, 2], bbox[:, 3])
    ids = np.array([z.zone_id for z in zs], dtype=np.int32)
    return ids[np.argmin(d2, axis=1)]


def oracle_assign(zones: list, lat, lng) -> np.ndarray:
    """Full golden assignment: PIP argmin, kNN for unmatched."""
    zid, matched = oracle_resolve(zones, lat, lng)
    if (~matched).any():
        lat = np.asarray(lat, dtype=F32)
        lng = np.asarray(lng, dtype=F32)
        zid[~matched] = oracle_knn(zones, lat[~matched], lng[~matched])
    return zid


def fixture_points():
    """Hand-picked golden coordinate fixtures (FIXTURES.md §3).

    Returns list of (lat, lng, case_tag). Expected values are generated by
    oracle_assign at test time (the oracle itself is pinned by the edge-case
    unit tests in tests/test_geom.py).
    """
    pts = []
    # interior point of every lattice zone (cell centers, away from jitter)
    for i in range(N_ROWS):
        for j in range(N_COLS):
            pts.append((LAT0 + i * 6.0 + 3.0, LNG0 + j * 6.0 + 3.0, f"lattice_{i}_{j}"))
    # half-open boundary semantics on ocean_S edges (axis-aligned, exact f32)
    pts += [
        (-6.0, 0.0, "sw_vertex_inside"),
        (-3.0, -6.0, "west_edge_inside"),
        (-6.0, 10.0, "south_edge_inside"),
        (-3.0, 42.0, "east_edge_outside_to_knn_or_neighbor"),
        (0.0, 10.0, "north_edge_outside_into_lattice"),
    ]
    # float32 truncation case (37.7749 -> 37.774898529052734, SURVEY.md §1.3)
    pts += [(37.7749, 10.0, "f32_truncation_ocean_n")]
    # L-shape: concave notch is outside the L
    pts += [(32.0, 6.0, "lshape_notch_outside"), (28.0, 2.0, "lshape_inside")]
    # hole variant (a): point in hole matches hole ring too (same tzid)
    pts += [(30.0, 13.0, "holeA_in_hole"), (27.0, 11.0, "holeA_rim")]
    # hole variant (b): concatenated ring -> hole is outside by parity
    pts += [(30.0, 21.0, "holeB_in_hole_outside"), (27.0, 19.0, "holeB_rim_inside")]
    # coastline interior + seaward point
    pts += [(30.0, 33.0, "coast_inside"), (30.0, 26.2, "coast_seaward")]
    # uncovered strips -> kNN fallback
    pts += [(35.0, 10.0, "knn_strip_north"), (25.0, 18.0, "knn_strip_mid")]
    return pts
