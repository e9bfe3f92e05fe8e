"""GeoJSON ingest: timezone features -> zone table rows.

Reimplements the reference's import pipeline (/root/reference/import.go)
including its two decoder quirks, each behind an explicit mode switch
(SURVEY.md §1.4 — the engine default is 'rings', the clean semantics):

* ``decode_polygon`` — "Polygon" features: EVERY ring (outer and holes)
  becomes its own independent zone row with the same tzid
  (import.go:141-153 — the loop treats the ring list as a polygon list).
* ``decode_multipolygon`` — "MultiPolygon" features: all rings of one
  polygon member are CONCATENATED into a single vertex list
  (import.go:158-172 — both inner loops append into one Polygon); under
  even-odd parity this approximates outer-minus-holes.
* out-of-domain vertices are silently dropped, mirroring AddVertex
  (geo/polygon.go:86-91 — called from import.go:147, 165).
* GeoJSON stores [lng, lat]; the reference swaps on ingest
  (import.go:139-140) — so do we.

Zip handling mirrors ImportZipFile (import.go:31-66): iterate members,
case-insensitive ``.json`` suffix filter, stream each member.

The polygon side is small (thousands of features), so ingest is driver-side
(stdlib json, streaming per feature via a callback like the reference's
``iter func(Timezone) error``); the resulting zone TABLE is what distributes.
"""

from __future__ import annotations

import io
import json
import zipfile

import numpy as np

from .cells import Zone, in_domain
from .geom import F32


def _ring_to_arrays(ring) -> tuple:
    """One GeoJSON ring [[lng, lat], ...] -> (lat_f32, lng_f32), invalid
    vertices dropped (AddVertex semantics, geo/polygon.go:86-91)."""
    arr = np.asarray(ring, dtype=np.float64)
    if arr.ndim != 2 or arr.shape[1] < 2:
        return np.empty(0, F32), np.empty(0, F32)
    # truncate to float32 FIRST, then validate the truncated values: the
    # reference's AddVertex builds the f32 LatLng and then checks Valid()
    # (geo/polygon.go:86-91 + geo/latlng.go:24-31), so a vertex like
    # lat=90.0000001 (f32 -> 90.0) is KEPT there.
    lng = arr[:, 0].astype(F32)
    lat = arr[:, 1].astype(F32)
    m = in_domain(lat, lng)
    return lat[m], lng[m]


def decode_polygon(coords, mode: str = "rings") -> list:
    """'Polygon' coordinates -> list of (lat, lng) vertex arrays.

    mode='reference': each ring (including holes) is an independent ring —
    the as-written quirk. mode='rings': identical here (the quirk IS one
    ring per entry); kept as one code path."""
    out = []
    for ring in coords:
        la, lg = _ring_to_arrays(ring)
        out.append((la, lg))
    return out


def decode_multipolygon(coords, mode: str = "rings") -> list:
    """'MultiPolygon' coordinates -> list of (lat, lng) vertex arrays.

    mode='reference': concatenate ALL rings of each polygon member into one
    vertex list (import.go:158-172). mode='rings': one entry per ring
    (clean semantics, engine default)."""
    out = []
    for poly in coords:
        if mode == "reference":
            las, lgs = [], []
            for ring in poly:
                la, lg = _ring_to_arrays(ring)
                las.append(la)
                lgs.append(lg)
            out.append((np.concatenate(las) if las else np.empty(0, F32),
                        np.concatenate(lgs) if lgs else np.empty(0, F32)))
        else:
            for ring in poly:
                out.append(_ring_to_arrays(ring))
    return out


def iter_features(obj, callback, mode: str = "rings"):
    """Stream features of one GeoJSON FeatureCollection through
    callback(tzid, list[(lat, lng)]) — the analog of decodeFeatures'
    iter protocol (import.go:115-136)."""
    for feat in obj.get("features", []):
        tzid = feat.get("properties", {}).get("tzid", "")
        geom = feat.get("geometry", {})
        gtype = geom.get("type")
        coords = geom.get("coordinates", [])
        if gtype == "Polygon":
            rings = decode_polygon(coords, mode)
        elif gtype == "MultiPolygon":
            rings = decode_multipolygon(coords, mode)
        else:
            continue  # unknown geometry types are skipped (import.go default)
        callback(tzid, rings)


def zones_from_geojson(obj, mode: str = "rings", start_id: int = 0) -> list:
    """FeatureCollection -> list[Zone] with dense zone ids in ingest order
    (AddTimezone id assignment, timezone.go:29-45)."""
    zones = []
    zid = [start_id]

    def cb(tzid, rings):
        for la, lg in rings:
            zones.append(Zone(zid[0], tzid, la, lg))
            zid[0] += 1

    iter_features(obj, cb, mode)
    return zones


def zones_from_geojson_zip(path: str, mode: str = "rings") -> list:
    """Zip of GeoJSON members -> zones. Member filter: case-insensitive
    '.json' suffix (ImportZipFile, import.go:52-60)."""
    zones = []
    with zipfile.ZipFile(path) as zf:
        for member in zf.namelist():
            if not member.lower().endswith(".json"):
                continue
            with zf.open(member) as f:
                obj = json.load(io.TextIOWrapper(f, "utf-8"))
            zones.extend(zones_from_geojson(obj, mode, start_id=len(zones)))
    return zones


def zones_to_geojson(zones: list) -> dict:
    """Zone table -> GeoJSON FeatureCollection (the sink symmetric to
    zones_from_geojson): adjacent same-tzid zones collapse into one
    MultiPolygon feature with one ring per zone, preserving zone order, so
    a round-trip through zones_from_geojson (mode='rings') restores the
    exact store — same dense ids, tzids, and float32 vertices (Python's
    shortest-repr floats parse back to the identical float32). Coordinates
    are emitted [lng, lat] per the GeoJSON spec, mirroring the reader's
    swap."""
    feats = []
    for z in zones:
        ring = [
            [float(lg), float(la)]
            for la, lg in zip(z.ring_lat.tolist(), z.ring_lng.tolist())
        ]
        if feats and feats[-1]["properties"]["tzid"] == z.tzid:
            feats[-1]["geometry"]["coordinates"].append([ring])
        else:
            feats.append(
                {
                    "type": "Feature",
                    "properties": {"tzid": z.tzid},
                    "geometry": {
                        "type": "MultiPolygon",
                        "coordinates": [[ring]],
                    },
                }
            )
    return {"type": "FeatureCollection", "features": feats}


def write_geojson_zip(zones: list, path: str, member: str = "zones.json") -> str:
    """Serialize the zone table into the exact artifact the importer
    consumes (a zip holding one FeatureCollection member) — the export
    path a migration user runs to hand a compiled store back to the
    reference's -build flow (import.go:52-60 member filter)."""
    obj = zones_to_geojson(zones)
    with zipfile.ZipFile(path, "w", compression=zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(member, json.dumps(obj, separators=(",", ":")))
    return path
