"""Douglas-Peucker polygon simplification — the ST_Simplify analog.

A zone-preprocessing operator the reference lacks but every geospatial
engine ships: reduce ring vertex counts under a perpendicular-distance
tolerance before compiling covers (smaller index file, faster ray casts)
while keeping the shape within eps of the original.

The recursion is the classic stack form per ring (bounded by ring length);
the distance kernel inside each split is vectorized numpy over the whole
sub-chain, so per-vertex Python never happens — per-RING Python does,
matching the per-shape-group budget used across the engine (a ring is one
geometry row, not one pixel/point).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cells import Zone
from .geom import F32, ring_area_signed


def _perp_dist2(lat, lng, a_lat, a_lng, b_lat, b_lng):
    """Squared distance from points to the segment a-b (planar lat/lng
    degrees, float64) — vectorized over the candidate chain."""
    dlat, dlng = b_lat - a_lat, b_lng - a_lng
    seg2 = dlat * dlat + dlng * dlng
    if seg2 == 0.0:
        return (lat - a_lat) ** 2 + (lng - a_lng) ** 2
    t = ((lat - a_lat) * dlat + (lng - a_lng) * dlng) / seg2
    t = np.clip(t, 0.0, 1.0)
    return (lat - (a_lat + t * dlat)) ** 2 + (lng - (a_lng + t * dlng)) ** 2


def dp_keep_mask(lat: np.ndarray, lng: np.ndarray, eps: float) -> np.ndarray:
    """Douglas-Peucker keep-mask for an open chain (endpoints always kept).

    Deterministic: the split vertex is the FIRST argmax of the
    perpendicular distance. float64 geometry regardless of input dtype."""
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    n = lat.shape[0]
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = keep[-1] = True
    if n <= 2:
        return keep
    eps2 = float(eps) * float(eps)
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        sl = slice(i + 1, j)
        d2 = _perp_dist2(lat[sl], lng[sl], lat[i], lng[i], lat[j], lng[j])
        k = int(np.argmax(d2))
        if d2[k] > eps2:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return keep


def simplify_ring(lat: np.ndarray, lng: np.ndarray, eps: float):
    """Simplify one implicitly-closed ring: anchor at vertex 0, run DP over
    the closed chain v0..vn..v0, and guarantee a valid ring (>= 3 vertices)
    by re-adding the two farthest-from-anchor vertices if DP collapses the
    ring below a triangle (tiny rings under a large eps). If those two are
    collinear WITH the anchor (a spike-shaped ring), the kept "triangle"
    would have zero area: the max-perpendicular-distance vertex off the
    anchor->farthest chord is used instead, so the output has positive
    area whenever the input does (an all-collinear input has no valid
    triangle and is returned as its three kept vertices)."""
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    n = lat.shape[0]
    if n <= 3:
        return lat.astype(F32), lng.astype(F32)
    cl_lat = np.concatenate([lat, lat[:1]])
    cl_lng = np.concatenate([lng, lng[:1]])
    keep = dp_keep_mask(cl_lat, cl_lng, eps)[:-1]  # drop the duplicate close
    if keep.sum() < 3:
        d2 = (lat - lat[0]) ** 2 + (lng - lng[0]) ** 2
        for k in np.argsort(-d2, kind="stable"):
            keep[k] = True
            if keep.sum() >= 3:
                break
        if abs(ring_area_signed(lat[keep], lng[keep])) == 0.0:
            far = int(np.argmax(d2))
            pd2 = _perp_dist2(lat, lng, lat[0], lng[0], lat[far], lng[far])
            if pd2.max() > 0.0:
                keep[:] = False
                keep[[0, far, int(np.argmax(pd2))]] = True
    return lat[keep].astype(F32), lng[keep].astype(F32)


def simplify_zones(zones: list, eps: float) -> list:
    """Driver-side: simplify every zone ring, preserving ids and tzids."""
    return [
        Zone(z.zone_id, z.tzid, *simplify_ring(z.ring_lat, z.ring_lng, eps))
        for z in zones
    ]


def simplify_zone_table(zone_table: DataFrame, eps: float) -> DataFrame:
    """Distributed form over the zone-table DataFrame (zone_id, tzid,
    lats, lngs array columns — engine.zone_table_df): one mapInPandas
    pass, each ring
    simplified independently — the shape that scales to polygon tables far
    past driver memory (a 10^8-ring parcel/boundary corpus), since rings
    never co-shuffle and output rows are strictly smaller than inputs."""
    import pandas as pd

    out_cols = ["zone_id", "tzid", "ring_lat", "ring_lng", "n_before", "n_after"]

    def _fn(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                la = np.asarray(r.lats, dtype=np.float64)
                lg = np.asarray(r.lngs, dtype=np.float64)
                sla, slg = simplify_ring(la, lg, eps)
                rows.append(
                    (
                        r.zone_id,
                        r.tzid,
                        [float(x) for x in sla],
                        [float(x) for x in slg],
                        len(la),
                        len(sla),
                    )
                )
            yield pd.DataFrame(rows, columns=out_cols)

    schema = (
        "zone_id int, tzid string, ring_lat array<float>, "
        "ring_lng array<float>, n_before long, n_after long"
    )
    return zone_table.select("zone_id", "tzid", "lats", "lngs").mapInPandas(
        _fn, schema
    )
